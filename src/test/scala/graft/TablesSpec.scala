package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Tables.events must yield the SAME epoch-ns BIGINT `ts` whatever
  * physical timestamp layout the driver's generator shipped that
  * round — round 9 regenerated events.parquet as TIMESTAMP(MICROS)
  * where every prior round used TIMESTAMP(NANOS), which silently
  * broke all 17 event queries at analysis time.
  */
class TablesSpec extends AnyFunSuite with graft.TempDirs with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    // deliberately NOT UTC: the ns value must not depend on session tz
    .config("spark.sql.session.timeZone", "America/New_York")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def withTempDir(f: String => Unit): Unit = {
    val dir = tempDir("tables-spec-").toString
    try f(dir)
    finally graft.core.Fs.deleteRecursively(new java.io.File(dir))
  }

  test("events.ts normalizes TIMESTAMP_NTZ (micros, no tz) to wall-clock ns") {
    import spark.implicits._
    withTempDir { dir =>
      val rows = Seq(
        (1L, java.time.LocalDateTime.of(2024, 3, 1, 12, 0, 0, 123456000)),
        (2L, java.time.LocalDateTime.of(1970, 1, 1, 0, 0, 0, 0)),
        (3L, java.time.LocalDateTime.of(1969, 12, 31, 23, 59, 59, 999999000)))
      rows.toDF("event_id", "ts").write.parquet(s"$dir/events.parquet")
      val got = Tables.events(spark, dir)
        .select("event_id", "ts").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = rows.map { case (id, ldt) =>
        val epoch = ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000000L +
          ldt.getNano
        id -> epoch
      }.toMap
      assert(got == want, s"ns values must be tz-independent wall-clock: $got")
      // driver-shaped reads keep working end-to-end: ts div 1000 is µs
      val us = Tables.events(spark, dir)
        .selectExpr("event_id", "ts div 1000 AS ts_us").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(us == want.map { case (k, v) => k -> v / 1000 })
    }
  }

  test("events.ts normalizes tz-adjusted TIMESTAMP (micros, UTC-adjusted) to ns") {
    import spark.implicits._
    withTempDir { dir =>
      // java.time.Instant encodes as TimestampType → parquet
      // TIMESTAMP(MICROS, isAdjustedToUTC=true), the OTHER micros
      // layout a generator can ship; reads back as TimestampType and
      // must take the unix_micros branch of Tables.events
      val rows = Seq(
        (1L, java.time.Instant.parse("2024-03-01T12:00:00.123456Z")),
        (2L, java.time.Instant.EPOCH),
        (3L, java.time.Instant.parse("1969-12-31T23:59:59.999999Z")))
      rows.toDF("event_id", "ts").write.parquet(s"$dir/events.parquet")
      val loaded = spark.read.parquet(s"$dir/events.parquet")
      assert(loaded.schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType,
        s"precondition: tz-adjusted micros must load as TimestampType, " +
          s"got ${loaded.schema("ts").dataType}")
      val got = Tables.events(spark, dir)
        .select("event_id", "ts").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = rows.map { case (id, inst) =>
        id -> (inst.getEpochSecond * 1000000000L + inst.getNano)
      }.toMap
      assert(got == want,
        s"ns values must be instant-exact and session-tz-independent: $got")
    }
  }

  test("events.ts long column (TIMESTAMP(NANOS) under nanosAsLong) passes through") {
    import spark.implicits._
    withTempDir { dir =>
      // Spark cannot WRITE parquet TIMESTAMP(NANOS); under
      // spark.sql.legacy.parquet.nanosAsLong=true a NANOS file loads
      // as a plain ns BIGINT, which is byte-identical to what this
      // writes — the pass-through branch sees the same LongType either
      // way
      Seq((1L, 1709294400123456789L), (2L, 0L))
        .toDF("event_id", "ts").write.parquet(s"$dir/events.parquet")
      val got = Tables.events(spark, dir)
        .select("event_id", "ts").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 1709294400123456789L, 2L -> 0L))
    }
  }
}
