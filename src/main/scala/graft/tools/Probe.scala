package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only scratch: ingest scaling probe (1M events = 10x sf0.1). */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"TIME $label ${(System.nanoTime()-t0)/1e9}%.2f s"); r
    }
    val base = graft.Tables.events(spark, "/root/testdata/sf0.1")
    val big = (0 until 10).map { i =>
      base.select(
        concat(lit("user-"), col("user_id")).as("stream_id"),
        col("event_type").as("event_name"),
        col("props").cast("binary").as("payload"),
        expr("ts div 1000000").as("timestamp_ms"),
        (col("event_id") + lit(i * 100000L)).as("arrival"))
    }.reduce(_ unionByName _)
    println(s"ROWS=${big.count()}")
    val dir = java.nio.file.Files.createTempDirectory("probe-1m-").toString
    val es = graft.api.EventStore.open(spark, dir, 32)
    val n = time("ingest-1M") { es.ingest(big, "arrival") }
    println(s"INGESTED=$n RATE=${(n / 1).toDouble} ev")
    time("scan-after") { es.scan("user-42", count = 100).events.size }
    time("pscan-after") { es.pscan(0, count = 1000).events.size }

    // heads-at-scale probe: 1M DISTINCT streams must ingest with the
    // driver holding only the bounded inline overlay (heads spill to
    // the parquet LSM); manifest JSON stays small, lookups stay correct
    val rt = Runtime.getRuntime
    def usedMb() = { System.gc(); (rt.totalMemory() - rt.freeMemory()) / (1 << 20) }
    val before = usedMb()
    val wide = spark.range(1000000).select(
      concat(lit("wide-"), col("id")).as("stream_id"),
      lit("E").as("event_name"),
      col("id").as("arrival"))
    val dir2 = java.nio.file.Files.createTempDirectory("probe-heads-").toString
    val es2 = graft.api.EventStore.open(spark, dir2, 32)
    val n2 = time("ingest-1M-distinct-streams") { es2.ingest(wide, "arrival") }
    val manifestBytes = java.nio.file.Files.list(
        java.nio.file.Paths.get(dir2, "_manifest")).toList.stream()
      .mapToLong(p => java.nio.file.Files.size(p)).max().orElse(0)
    println(s"WIDE_INGESTED=$n2 inlineHeads=${es2.manifest.streamHeads.size} " +
      s"deltas=${es2.manifest.headsDeltas.size} manifestBytes=$manifestBytes " +
      s"driverHeapDeltaMb=${usedMb() - before}")
    time("sver-after-spill") {
      require(es2.sver("wide-123456").contains(0L))
      require(es2.sver("wide-999999").contains(0L))
    }
    println(s"STREAM_COUNT=${time("streamCount")(es2.streamCount)}")
    spark.stop()
  }
}
