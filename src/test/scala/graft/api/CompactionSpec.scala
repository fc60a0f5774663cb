package graft.api

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.core._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

class CompactionSpec extends AnyFunSuite with graft.TempDirs with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def parquetFiles(root: String): Long =
    Files.walk(Paths.get(root, "events"))
      .filter(p => p.toString.endsWith(".parquet")).count()

  private def in(sid: String, name: String = "Evt",
      ev: ExpectedVersion = ExpectedVersion.Any): EventInput =
    EventInput(sid, name, name.getBytes, Array.emptyByteArray, ev)

  test("appendMany: one commit, gapless sequences, per-event failures isolated") {
    val dir = tempDir("graft-gc-").toString
    val es = EventStore.open(spark, dir, 8)
    val v0 = es.manifest.version

    val results = es.appendMany(Seq(
      in("ga"), in("gb"), in("ga"),
      in("gc", "bad", ExpectedVersion.Exact(7)), // impossible → rejected
      in("gb"), in("ga", "third", ExpectedVersion.Exact(1))))

    assert(results.count(_.isRight) == 5)
    assert(results(3).isLeft)
    // single manifest commit for the whole batch
    assert(es.manifest.version == v0 + 1)
    assert(es.sver("ga") == Some(2L))
    assert(es.sver("gb") == Some(1L))
    assert(es.sver("gc").isEmpty)

    // gapless per partition across the whole store
    import org.apache.spark.sql.functions._
    es.events().groupBy(col("partition_id"))
      .agg(count(lit(1)).as("n"), max(col("partition_sequence")).as("hi"))
      .collect()
      .foreach(r => assert(r.getAs[Long]("hi") == r.getAs[Long]("n") - 1))
  }

  test("appendMany throughput batch then compact shrinks files, preserves data") {
    val dir = tempDir("graft-cp-").toString
    val es = EventStore.open(spark, dir, 8)
    // many small group commits → many files
    (0 until 10).foreach { b =>
      val r = es.appendMany((0 until 50).map(i => in(s"s-${i % 7}", s"e$b-$i")))
      assert(r.forall(_.isRight))
    }
    def snapshot() = es.events()
      .selectExpr("partition_id", "partition_sequence", "stream_version",
        "stream_id", "event_name", "event_id", "cast(payload as string)")
      .orderBy("partition_id", "partition_sequence")
      .collect().map(_.toString).toSeq

    val before = parquetFiles(dir)
    val dataBefore = snapshot()

    es.compact()

    // the events() DataFrame taken before compact() keeps the old files
    // until the next events() call
    assert(snapshot() == dataBefore)
    val after = parquetFiles(dir)
    assert(after < before, s"expected fewer files: $before -> $after")
    assert(after <= 8)
    // store still writable after compaction
    assert(es.append(in("s-0", ev = ExpectedVersion.Exact(es.sver("s-0").get))).isRight)
  }

  test("appendMany matches mappend semantics for a same-stream batch") {
    val dir = tempDir("graft-eq-").toString
    val es = EventStore.open(spark, dir, 8)
    val r = es.appendMany(Seq(
      in("x", "a", ExpectedVersion.Empty),
      in("x", "b", ExpectedVersion.Exact(0)),
      in("x", "c")))
    assert(r.forall(_.isRight))
    assert(r.map(_.toOption.get.streamVersion) == Seq(0L, 1L, 2L))
  }

  test("compacted files carry bloom filters sized to their rows") {
    val dir = tempDir("graft-cp-bloom-").toString
    val es = EventStore.open(spark, dir, 4)
    (0 until 4).foreach { b =>
      assert(es.appendMany((0 until 50).map(i => in(s"b-${i % 9}", s"e$b-$i"))).forall(_.isRight))
    }
    es.compact()
    assert(es.events().count() == 200)
    val files = Files.walk(Paths.get(dir, "events")).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq
    // unsized, each file carried a ~1 MB event_id bitset
    assert(files.nonEmpty && files.forall(Files.size(_) < 64 * 1024),
      files.map(f => f.getFileName -> Files.size(f)).mkString(", "))
  }
}
