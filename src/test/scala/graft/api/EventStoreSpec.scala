package graft.api

import java.nio.file.Files
import java.util.UUID

import scala.jdk.CollectionConverters._

import graft.core._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** End-to-end append→read invariants, porting the reference's core
  * behaviors: gapless sequences, optimistic-concurrency outcomes,
  * EMAPPEND intra-batch validation + atomicity, paging, and
  * manifest-recovered state (SURVEY.md §5, FIXTURES.md §3).
  */
class EventStoreSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def freshStore(np: Int = 32, strict: Boolean = false): EventStore = {
    val dir = Files.createTempDirectory("graft-es-").toString
    EventStore.open(spark, dir, np, strict)
  }

  private def in(sid: String, name: String = "TestEvent",
      ev: ExpectedVersion = ExpectedVersion.Any): EventInput =
    EventInput(sid, name, "test payload".getBytes, "{}".getBytes, ev)

  test("minimum end-to-end slice: append 3 events, scan returns 0,1,2") {
    val es = freshStore()
    val r0 = es.append(in("my-stream")).toOption.get
    val r1 = es.append(in("my-stream")).toOption.get
    val r2 = es.append(in("my-stream")).toOption.get
    assert(Seq(r0, r1, r2).map(_.streamVersion) == Seq(0L, 1L, 2L))
    assert(Seq(r0, r1, r2).map(_.partitionSequence) == Seq(0L, 1L, 2L))

    val scan = es.scan("my-stream")
    val rows = scan.events
    assert(rows.length == 3)
    assert(rows.map(_.getAs[Long]("stream_version")).toSeq == Seq(0L, 1L, 2L))
    assert(rows.map(_.getAs[String]("stream_id")).distinct.toSeq == Seq("my-stream"))
    assert(!scan.hasMore)
  }

  test("optimistic concurrency: outcomes match the algebra") {
    val es = freshStore()
    assert(es.append(in("s1", ev = ExpectedVersion.Empty)).isRight)
    assert(es.append(in("s1", ev = ExpectedVersion.Empty)).isLeft)
    assert(es.append(in("s1", ev = ExpectedVersion.Exact(0))).isRight)
    assert(es.append(in("s1", ev = ExpectedVersion.Exact(0))).isLeft)
    assert(es.append(in("s1", ev = ExpectedVersion.Exists)).isRight)
    assert(es.append(in("missing", ev = ExpectedVersion.Exists)).isLeft)
    assert(es.sver("s1") == Some(2L))
  }

  test("strict mode rejects any/exists") {
    val es = freshStore(strict = true)
    val strictErr = Left("ERR strict versioning requires empty or exact expected version")
    assert(es.append(in("s", ev = ExpectedVersion.Any)) == strictErr)
    assert(es.append(in("s", ev = ExpectedVersion.Exists)) == strictErr)
    assert(es.append(in("s", ev = ExpectedVersion.Empty)).isRight)
    assert(es.append(in("s", ev = ExpectedVersion.Exact(0))).isRight)

    // EMAPPEND: one loose expectation rejects the whole batch
    val pk = Ids.partitionKeyForStream("m")
    for (loose <- Seq(ExpectedVersion.Any, ExpectedVersion.Exists))
      assert(es.mappend(pk, Seq(in("m", ev = ExpectedVersion.Empty), in("m", ev = loose))) ==
        strictErr)
    assert(es.sver("m").isEmpty)
    assert(es.mappend(pk, Seq(
      in("m", ev = ExpectedVersion.Empty), in("m", ev = ExpectedVersion.Exact(0)))).isRight)
    assert(es.sver("m") == Some(1L))

    // appendMany: rejected per event, the others still commit
    val rs = es.appendMany(Seq(
      in("n", ev = ExpectedVersion.Empty),
      in("n", ev = ExpectedVersion.Any),
      in("n", ev = ExpectedVersion.Exact(0)),
      in("o", ev = ExpectedVersion.Exists)))
    assert(rs(1) == strictErr && rs(3) == strictErr)
    assert(rs(0).toOption.map(_.streamVersion) == Some(0L))
    assert(rs(2).toOption.map(_.streamVersion) == Some(1L))
    assert(es.sver("n") == Some(1L) && es.sver("o").isEmpty)
  }

  test("EMAPPEND: intra-batch versions validate against earlier events") {
    val es = freshStore()
    val pk = Ids.partitionKeyForStream("a")
    // second event expects version 0, which the FIRST event creates
    val r = es.mappend(pk, Seq(
      in("a", ev = ExpectedVersion.Empty),
      in("a", ev = ExpectedVersion.Exact(0)),
      in("b", ev = ExpectedVersion.Empty)))
    assert(r.isRight)
    val res = r.toOption.get
    assert(res.events.map(_.streamVersion) == Seq(0L, 1L, 0L))
    assert(res.firstPartitionSequence == 0L && res.lastPartitionSequence == 2L)
  }

  test("EMAPPEND: failed validation mid-batch writes nothing (atomicity)") {
    val es = freshStore()
    val pk = Ids.partitionKeyForStream("a")
    val r = es.mappend(pk, Seq(
      in("a", ev = ExpectedVersion.Empty),
      in("a", ev = ExpectedVersion.Exact(5)))) // impossible
    assert(r.isLeft)
    assert(es.sver("a").isEmpty)
    assert(es.events().count() == 0)
  }

  test("same stream under different partition keys versions independently") {
    // reference semantics: stream indexes are per partition
    // (`database.rs:298-357`), so (pk1, s) and (pk2, s) are separate
    // version sequences — ESVER disambiguates with PARTITION_KEY
    val es = freshStore()
    val pk1 = Ids.partitionKeyForStream("shared")
    val pk2 = Ids.partitionKeyForStream("other-donor")
    assume(Ids.partitionHash(pk1) != Ids.partitionHash(pk2))
    assert(es.mappend(pk1, Seq(in("shared"), in("shared"))).isRight)
    assert(es.mappend(pk2, Seq(in("shared"))).isRight)
    assert(es.sver("shared") == Some(1L)) // default pk = pk1
    assert(es.sver("shared", Some(pk2)) == Some(0L))
    assert(es.sver("shared", Some(pk1)) == Some(1L))
    // expected-version checks scope to the transaction's key
    assert(es.mappend(pk2, Seq(in("shared", ev = ExpectedVersion.Exact(0)))).isRight)
    assert(es.mappend(pk1, Seq(in("shared", ev = ExpectedVersion.Exact(0)))).isLeft)
  }

  test("independent streams keep independent version counters") {
    val es = freshStore()
    es.append(in("x")); es.append(in("y")); es.append(in("x"))
    assert(es.sver("x") == Some(1L))
    assert(es.sver("y") == Some(0L))
  }

  test("EGET routes by embedded hash and finds the event") {
    val es = freshStore()
    val r = es.append(in("lookup-stream")).toOption.get
    val got = es.get(UUID.fromString(r.eventId))
    assert(got.map(_.getAs[String]("stream_id")).contains("lookup-stream"))
    assert(es.get(UUID.randomUUID()).isEmpty)
  }

  test("event id must carry the transaction's partition hash") {
    val es = freshStore()
    val wrongId = Ids.newEventId(0xbeef)
    val pk = Ids.partitionKeyForStream("s")
    assume(Ids.partitionHash(pk) != 0xbeef)
    val r = es.mappend(pk, Seq(in("s").copy(eventId = Some(wrongId))))
    assert(r.isLeft)
  }

  test("scan paging: count+1 probe sets hasMore; ranges are inclusive") {
    val es = freshStore()
    (1 to 7).foreach(_ => es.append(in("paged")))
    val p1 = es.scan("paged", count = 3)
    assert(p1.hasMore)
    assert(p1.events.map(_.getAs[Long]("stream_version")).toSeq == Seq(0L, 1L, 2L))
    val p2 = es.scan("paged", startVersion = Some(3), count = 10)
    assert(!p2.hasMore)
    assert(p2.events.size == 4)
    val mid = es.scan("paged", startVersion = Some(2), endVersion = Some(4))
    assert(mid.events.map(_.getAs[Long]("stream_version")).toSeq == Seq(2L, 3L, 4L))
  }

  test("pscan is ordered by partition sequence and clamped to watermark") {
    val es = freshStore(np = 1)
    es.append(in("s1")); es.append(in("s2")); es.append(in("s3"))
    val r = es.pscan(0)
    assert(r.events.map(_.getAs[Long]("partition_sequence")).toSeq == Seq(0L, 1L, 2L))
    assert(es.pseq(0) == Some(2L))
    assert(es.pseq(0 + 1).isEmpty || es.numPartitions == 1)
  }

  test("crash recovery: orphan files beyond the watermark are purged on open") {
    val dir = Files.createTempDirectory("graft-orphan-").toString
    val es1 = EventStore.open(spark, dir)
    es1.append(in("orph")); es1.append(in("orph"))
    val committed = java.nio.file.Files.list(
      graft.storage.Manifest.dirFor(dir)).count()
    es1.append(in("orph")) // this commit will be "lost"

    // crash point 1, between the rename and the manifest commit:
    // simulated by rolling the manifest back one version
    val mdir = graft.storage.Manifest.dirFor(dir)
    java.nio.file.Files.delete(mdir.resolve(s"v${committed + 1}.json"))
    val pdir = java.nio.file.Paths.get(dir, "events",
      s"partition_id=${Ids.partitionIdForStream("orph", EventStore.DefaultNumPartitions)}")
    def dataFiles(hidden: Boolean) = {
      val s = java.nio.file.Files.list(pdir)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.endsWith(".parquet") && n.startsWith(".") == hidden).toSeq
      finally s.close()
    }
    assert(dataFiles(hidden = false).size == 3)

    // crash point 2, inside the write before its rename: a finished
    // and a torn in-flight file. Every listing skips them (Spark would
    // fail on the torn one), and open removes them.
    java.nio.file.Files.write(pdir.resolve(EventStore.InflightPrefix + "torn.parquet"),
      "not parquet".getBytes)
    java.nio.file.Files.copy(pdir.resolve(dataFiles(hidden = false).head),
      pdir.resolve(EventStore.InflightPrefix + "done.parquet"))
    assert(es1.events().count() == 3)
    assert(es1.scan("orph").events.size == 3)

    val es2 = EventStore.open(spark, dir)
    assert(dataFiles(hidden = true).isEmpty, "open removes in-flight files")
    // the orphan file is gone: no duplicate/ghost event now or after
    // the watermark advances again
    assert(dataFiles(hidden = false).size == 2)
    assert(es2.sver("orph") == Some(1L))
    assert(es2.events().count() == 2)
    val r = es2.append(in("orph", ev = ExpectedVersion.Exact(1)))
    assert(r.toOption.get.streamVersion == 2L)
    assert(es2.events().count() == 3)
    assert(es2.scan("orph").events
      .map(_.getAs[Long]("stream_version")) == Seq(0L, 1L, 2L))
  }

  test("manifest recovery: reopening preserves heads and sequences") {
    val dir = Files.createTempDirectory("graft-es-").toString
    val es1 = EventStore.open(spark, dir)
    es1.append(in("persist"))
    es1.append(in("persist"))

    val es2 = EventStore.open(spark, dir)
    assert(es2.sver("persist") == Some(1L))
    val r = es2.append(in("persist", ev = ExpectedVersion.Exact(1)))
    assert(r.toOption.get.streamVersion == 2L)
    assert(es2.scan("persist").events.size == 3)
  }

  test("bulk ingest assigns gapless sequences per partition and stream") {
    import spark.implicits._
    val es = freshStore(np = 8)
    val df = (0 until 1000)
      .map(i => (s"user-${i % 37}", "Evt", i.toLong))
      .toDF("stream_id", "event_name", "arrival")
    val n = es.ingest(df, "arrival")
    assert(n == 1000)

    val all = es.events().cache()
    try {
      assert(all.count() == 1000)
      // gapless per partition
      import org.apache.spark.sql.functions._
      val perPart = all.groupBy($"partition_id")
        .agg(count(lit(1)).as("n"), min($"partition_sequence").as("lo"),
          max($"partition_sequence").as("hi"),
          countDistinct($"partition_sequence").as("d"))
        .collect()
      perPart.foreach { r =>
        assert(r.getAs[Long]("lo") == 0L)
        assert(r.getAs[Long]("hi") == r.getAs[Long]("n") - 1)
        assert(r.getAs[Long]("d") == r.getAs[Long]("n"))
      }
      // gapless per stream, ordered by arrival
      val perStream = all.groupBy($"stream_id")
        .agg(count(lit(1)).as("n"), min($"stream_version").as("lo"),
          max($"stream_version").as("hi"))
        .collect()
      perStream.foreach { r =>
        assert(r.getAs[Long]("lo") == 0L)
        assert(r.getAs[Long]("hi") == r.getAs[Long]("n") - 1)
      }
      // heads match data
      assert(es.sver("user-0") == Some(
        all.where($"stream_id" === "user-0").count() - 1))
      // incremental ingest continues sequences
      val df2 = Seq(("user-0", "Evt", 100000L)).toDF("stream_id", "event_name", "arrival")
      es.ingest(df2, "arrival")
      assert(es.sver("user-0").get == all.where($"stream_id" === "user-0").count())
    } finally all.unpersist()
  }

  test("bulk ingest sizes its bloom filters to the rows each file holds") {
    // unsized, parquet gives every bloom filter its 1 MB maximum: a few
    // hundred events over 32 partitions would write files of ~1 MB
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-bloom-").toString
    val es = EventStore.open(spark, dir)
    es.ingest((0 until 400).map(i => (s"b-${i % 50}", "Evt", i.toLong))
      .toDF("stream_id", "event_name", "arrival"), "arrival")
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "events"))
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
      finally walk.close()
    assert(files.nonEmpty)
    files.foreach(f => assert(java.nio.file.Files.size(f) < 64 * 1024, f))
    assert(es.events().count() == 400)
    // the filters still answer point lookups
    val some = es.scan("b-7").events
    assert(some.size == 8)
    assert(es.get(UUID.fromString(some.head.getAs[String]("event_id"))).isDefined)
  }

  test("mixed path: ingest then single appends stay consistent") {
    import spark.implicits._
    val es = freshStore(np = 4)
    es.ingest(Seq(("s", "E", 1L), ("s", "E", 2L)).toDF("stream_id", "event_name", "arrival"), "arrival")
    val r = es.append(in("s", ev = ExpectedVersion.Exact(1))).toOption.get
    assert(r.streamVersion == 2L)
    val scan = es.scan("s")
    assert(scan.events.map(_.getAs[Long]("stream_version")).toSeq == Seq(0L, 1L, 2L))
  }
}
