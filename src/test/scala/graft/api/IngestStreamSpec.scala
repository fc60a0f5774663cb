package graft.api

import java.nio.file.Files

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** End-to-end streaming ingest: parquet file source → foreachBatch →
  * EventStore bulk path, across multiple micro-batches, with gapless
  * sequences spanning the batch boundary.
  */
class IngestStreamSpec extends AnyFunSuite with graft.TempDirs with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("streaming ingest spans micro-batches with gapless sequences") {
    import spark.implicits._
    val srcDir = tempDir("graft-ss-src-").toString
    val storeDir = tempDir("graft-ss-store-").toString
    val ckDir = tempDir("graft-ss-ck-").toString
    val es = EventStore.open(spark, storeDir, 8)

    def emit(from: Int, n: Int): Unit =
      (from until from + n).map(i => (s"ss-${i % 5}", "StreamEvt", i.toLong))
        .toDF("stream_id", "event_name", "arrival")
        .coalesce(1).write.mode(SaveMode.Append).parquet(srcDir)

    emit(0, 100)
    val schema = StructType(Seq(
      StructField("stream_id", StringType),
      StructField("event_name", StringType),
      StructField("arrival", LongType)))
    val q = es.ingestStream(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(srcDir),
      "arrival", ckDir)
    try {
      q.processAllAvailable()
      assert(es.events().count() == 100)
      emit(100, 50)
      q.processAllAvailable()
      assert(es.events().count() == 150)
    } finally q.stop()

    // gapless per stream across the batch boundary
    import org.apache.spark.sql.functions._
    es.events().groupBy($"stream_id")
      .agg(count(lit(1)).as("n"), min($"stream_version").as("lo"),
        max($"stream_version").as("hi"),
        countDistinct($"stream_version").as("d"))
      .collect().foreach { r =>
        assert(r.getAs[Long]("lo") == 0L)
        assert(r.getAs[Long]("hi") == r.getAs[Long]("n") - 1)
        assert(r.getAs[Long]("d") == r.getAs[Long]("n"))
      }
    assert(es.sver("ss-0") == Some(29L)) // 150/5 - 1
  }

  test("restart with same checkpoint neither drops nor duplicates") {
    import spark.implicits._
    val srcDir = tempDir("graft-rs-src-").toString
    val storeDir = tempDir("graft-rs-store-").toString
    val ckDir = tempDir("graft-rs-ck-").toString
    val es = EventStore.open(spark, storeDir, 4)
    val schema = StructType(Seq(
      StructField("stream_id", StringType),
      StructField("event_name", StringType),
      StructField("arrival", LongType)))

    def emit(from: Int, n: Int): Unit =
      (from until from + n).map(i => (s"rs-${i % 3}", "E", i.toLong))
        .toDF("stream_id", "event_name", "arrival")
        .coalesce(1).write.mode(SaveMode.Append).parquet(srcDir)
    def start() = es.ingestStream(
      spark.readStream.schema(schema).parquet(srcDir), "arrival", ckDir)

    emit(0, 30)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(es.events().count() == 30)
    assert(es.manifest.streamBatchIds.get(ckDir).contains(0L))

    // restart on the same checkpoint: no data → no change; new data →
    // exactly the new rows, versions continuing gapless
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(es.events().count() == 30)
      emit(30, 15)
      q2.processAllAvailable()
      assert(es.events().count() == 45)
    } finally q2.stop()
    assert(es.sver("rs-0") == Some(14L)) // 45/3 - 1
  }
}
