package graft.streaming

import graft.ops.Dedup
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Pins the streaming dedup probes' OPERATIONAL contract — the two
  * claims [[StreamingDedup]]'s Scaladoc makes about failure handling,
  * which [[StreamingDedupSpec]]'s batching-invariance tests never
  * exercise:
  *
  *  1. RESTART RESUME: stopping the query and starting a NEW one on
  *     the same checkpoint + index continues mid-corpus — a pair whose
  *     two members arrive on opposite sides of the restart is still
  *     found, because the state lives in the signature index on
  *     storage, not in any operator state lost with the query.
  *  2. REPLAY IDEMPOTENCE: foreachBatch is at-least-once — a crash
  *     after the sink's index append but before the offset commit
  *     replays the batch, double-appending its signature rows. The
  *     probes stay correct because every candidate derivation runs
  *     through distinct() before pairing/counting: the replayed batch
  *     re-emits bit-identical pairs (an idempotent pair sink keyed on
  *     (a, b) dedups), and every LATER batch emits exactly what it
  *     would have without the replay.
  */
class StreamingDedupRecoverySpec extends AnyFunSuite with graft.TempDirs with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // same families as StreamingDedupSpec: 1≈2 old-new, 10≈11 both new
  // (fed on OPPOSITE sides of the restart), isolated 3 and 12
  private val docs: Seq[(Long, String)] = Seq(
    1L -> "the quick brown fox jumps over the lazy dog near the quiet river bank today",
    2L -> "the quick brown fox jumps over the lazy dog near the quiet river bank today",
    3L -> "completely different text about distributed query engines and shuffle exchanges at scale",
    10L -> "large language models train on deduplicated corpora for better generalization and efficiency",
    11L -> "large language models train on deduplicated corpora for better generalization and efficiency",
    12L -> "unrelated short note on parquet bloom filters and row group pruning strategies in columnar storage"
  )
  private val newIds = Set(2L, 10L, 11L, 12L)

  private def expected: Set[(Long, Long, Long)] = {
    import spark.implicits._
    Dedup.simhashPairsIncremental(docs.toDF("id", "text"), "text", "id",
        col("id").isin(newIds.toSeq: _*))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  test("restart on the same checkpoint + index resumes mid-corpus") {
    import spark.implicits._
    val indexDir = tempDir("sdr-spec-")
    val ck = tempDir("sdr-spec-ck-")
    try {
      StreamingDedup.seedSimhashIndex(
        docs.filterNot(d => newIds(d._1)).toDF("id", "text"),
        "text", "id", indexDir.toString)
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val mem = MemoryStream[(Long, String)]
      val got = scala.collection.mutable.Set.empty[(Long, Long, Long)]
      def start() = mem.toDF().toDF("id", "text").writeStream
        .option("checkpointLocation", ck.toString)
        .foreachBatch {
          (b: org.apache.spark.sql.DataFrame, _: Long) =>
            StreamingDedup
              .simhashProbeBatch(b, "text", "id", indexDir.toString)
              .collect()
              .foreach(r => got.synchronized {
                got += ((r.getLong(0), r.getLong(1), r.getLong(2)))
              })
        }
        .start()
      val byId = docs.toMap
      // first incarnation: 2 (old-new pair) and 10 (its twin not yet
      // arrived), then STOP — simulating a planned or crash restart
      // after the offsets committed
      val q1 = start()
      try {
        mem.addData(Seq(2L, 10L).map(i => (i, byId(i))))
        q1.processAllAvailable()
      } finally q1.stop()
      val afterFirst = got.synchronized(got.toSet)
      assert(afterFirst.exists { case (a, b, _) => a == 1L && b == 2L },
        s"first incarnation missed the old-new pair: $afterFirst")
      assert(!afterFirst.exists { case (a, b, _) => a == 10L && b == 11L },
        "fixture broken: 10-11 must straddle the restart")
      // second incarnation: NEW query object, same checkpoint + index.
      // 11 pairs with 10 only if the index grown before the restart is
      // still consulted; 12 stays isolated.
      val q2 = start()
      try {
        mem.addData(Seq(11L, 12L).map(i => (i, byId(i))))
        q2.processAllAvailable()
      } finally q2.stop()
      assert(got.synchronized(got.toSet) == expected,
        "pairs across the restart diverged from the batch incremental answer")
    } finally {
      graft.core.Fs.deleteRecursively(indexDir.toFile)
      graft.core.Fs.deleteRecursively(ck.toFile)
    }
  }

  test("simhash probe: batch replay re-emits identical pairs and leaves later batches exact") {
    import spark.implicits._
    val byId = docs.toMap
    def batchDf(ids: Seq[Long]) = ids.map(i => (i, byId(i))).toDF("id", "text")
    def run(replayFirst: Boolean): (Set[(Long, Long, Long)], Seq[Set[(Long, Long, Long)]]) = {
      val indexDir = tempDir("sdr-rp-")
      try {
        StreamingDedup.seedSimhashIndex(
          docs.filterNot(d => newIds(d._1)).toDF("id", "text"),
          "text", "id", indexDir.toString)
        def probe(ids: Seq[Long]) =
          StreamingDedup
            .simhashProbeBatch(batchDf(ids), "text", "id", indexDir.toString)
            .collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        val first = probe(Seq(2L, 10L))
        val replayed =
          if (replayFirst) Some(probe(Seq(2L, 10L))) else None
        replayed.foreach(rp => assert(rp == first,
          "replay of the same batch emitted different pairs"))
        val second = probe(Seq(11L, 12L))
        (first ++ second, Seq(first, second))
      } finally graft.core.Fs.deleteRecursively(indexDir.toFile)
    }
    val (cleanAll, cleanBatches) = run(replayFirst = false)
    assert(cleanAll == expected, s"clean run broke: $cleanAll")
    val (replayAll, replayBatches) = run(replayFirst = true)
    // the later batch emits EXACTLY its clean-run set despite the
    // double-appended signatures — the probe's distinct() collapses
    // index duplicates before pairing
    assert(replayBatches(1) == cleanBatches(1),
      "post-replay batch diverged from the clean run")
    assert(replayAll == expected, s"replayed run broke: $replayAll")
  }

  test("winnow probe: replay does not inflate shared-fingerprint counts") {
    import spark.implicits._
    val byId = docs.toMap
    def batchDf(ids: Seq[Long]) = ids.map(i => (i, byId(i))).toDF("id", "text")
    def run(replayFirst: Boolean): Set[(Long, Long, Long)] = {
      val indexDir = tempDir("wdr-rp-")
      try {
        StreamingDedup.seedWinnowIndex(
          docs.filterNot(d => newIds(d._1)).toDF("id", "text"),
          "text", "id", indexDir.toString)
        def probe(ids: Seq[Long]) =
          StreamingDedup
            .winnowProbeBatch(batchDf(ids), "text", "id", indexDir.toString)
            .collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        val first = probe(Seq(2L, 10L))
        if (replayFirst) assert(probe(Seq(2L, 10L)) == first,
          "winnow replay emitted different pairs/counts")
        first ++ probe(Seq(11L, 12L))
      } finally graft.core.Fs.deleteRecursively(indexDir.toFile)
    }
    val clean = run(replayFirst = false)
    // counts are the fragile part: a duplicated index row would double
    // a pair's shared_fps without the probe's distinct-before-count
    assert(clean.exists { case (a, b, n) => a == 10L && b == 11L && n >= 2L },
      s"fixture lost the counted pair: $clean")
    assert(run(replayFirst = true) == clean,
      "replayed winnow run changed a pair's shared-fingerprint count")
  }
}
