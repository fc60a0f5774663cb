package graft.streaming

import graft.ops.Dedup
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Pins the streaming simhash probe's contract: the union of pairs
  * emitted over ANY micro-batching of the same new documents equals
  * the batch incremental answer ([[Dedup.simhashPairsIncremental]] on
  * the same old/new split) — including pairs whose two members arrive
  * in DIFFERENT batches, which only the growing index can find.
  */
class StreamingDedupSpec extends AnyFunSuite with graft.TempDirs with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // near-dup families: 1≈2 (old-new), 10≈11 (both new), plus isolated
  // docs. The dup pairs are exact duplicates (hamming 0 — short texts
  // make partial-overlap simhash distance unstable, and sensitivity is
  // Dedup's own spec's concern; THIS spec pins batching invariance);
  // the isolated docs are textually unrelated.
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

  private def runSplit(batches: Seq[Seq[Long]]): Set[(Long, Long, Long)] = {
    import spark.implicits._
    assert(batches.flatten.toSet == newIds, "splits must cover the new set")
    val indexDir = tempDir("sdx-spec-")
    val ck = tempDir("sdx-spec-ck-")
    try {
      StreamingDedup.seedSimhashIndex(
        docs.filterNot(d => newIds(d._1)).toDF("id", "text"),
        "text", "id", indexDir.toString)
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val mem = MemoryStream[(Long, String)]
      val got = scala.collection.mutable.Set.empty[(Long, Long, Long)]
      val q = mem.toDF().toDF("id", "text").writeStream
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
      try {
        val byId = docs.toMap
        batches.foreach { ids =>
          mem.addData(ids.map(i => (i, byId(i))))
          q.processAllAvailable()
        }
      } finally q.stop()
      got.synchronized(got.toSet)
    } finally {
      graft.core.Fs.deleteRecursively(indexDir.toFile)
      graft.core.Fs.deleteRecursively(ck.toFile)
    }
  }

  private def expectedMinhash: Set[(Long, Long, Double)] = {
    import spark.implicits._
    Dedup.minhashLshIncremental(docs.toDF("id", "text"), "text", "id",
        col("id").isin(newIds.toSeq: _*))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
  }

  private def runMinhashSplit(
      batches: Seq[Seq[Long]]): Set[(Long, Long, Double)] = {
    import spark.implicits._
    assert(batches.flatten.toSet == newIds, "splits must cover the new set")
    val indexDir = tempDir("mdx-spec-")
    val ck = tempDir("mdx-spec-ck-")
    try {
      StreamingDedup.seedMinhashIndex(
        docs.filterNot(d => newIds(d._1)).toDF("id", "text"),
        "text", "id", indexDir.toString)
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val mem = MemoryStream[(Long, String)]
      val got = scala.collection.mutable.Set.empty[(Long, Long, Double)]
      val q = mem.toDF().toDF("id", "text").writeStream
        .option("checkpointLocation", ck.toString)
        .foreachBatch {
          (b: org.apache.spark.sql.DataFrame, _: Long) =>
            StreamingDedup
              .minhashProbeBatch(b, "text", "id", indexDir.toString,
                docSource = docs.toDF("id", "text"))
              .collect()
              .foreach(r => got.synchronized {
                got += ((r.getLong(0), r.getLong(1), r.getDouble(2)))
              })
        }
        .start()
      try {
        val byId = docs.toMap
        batches.foreach { ids =>
          mem.addData(ids.map(i => (i, byId(i))))
          q.processAllAvailable()
        }
      } finally q.stop()
      got.synchronized(got.toSet)
    } finally {
      graft.core.Fs.deleteRecursively(indexDir.toFile)
      graft.core.Fs.deleteRecursively(ck.toFile)
    }
  }

  test("minhash probe: every micro-batching emits the batch incremental set") {
    val want = expectedMinhash
    assert(want.exists { case (a, b, j) => a == 1L && b == 2L && j == 1.0 },
      s"fixture lost the old-new exact-dup pair: $want")
    assert(want.exists { case (a, b, j) => a == 10L && b == 11L && j == 1.0 },
      s"fixture lost the new-new exact-dup pair: $want")
    val splits = Seq(
      Seq(Seq(2L, 10L, 11L, 12L)),
      Seq(Seq(2L, 10L), Seq(11L, 12L)),
      Seq(Seq(2L), Seq(10L), Seq(11L), Seq(12L)))
    splits.foreach { split =>
      assert(runMinhashSplit(split) == want,
        s"split $split diverged from the batch incremental answer")
    }
  }

  private def expectedWinnow: Set[(Long, Long, Long)] = {
    import spark.implicits._
    Dedup.winnowPairsIncremental(docs.toDF("id", "text"), "text", "id",
        col("id").isin(newIds.toSeq: _*))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  private def runWinnowSplit(
      batches: Seq[Seq[Long]]): Set[(Long, Long, Long)] = {
    import spark.implicits._
    assert(batches.flatten.toSet == newIds, "splits must cover the new set")
    val indexDir = tempDir("wdx-spec-")
    val ck = tempDir("wdx-spec-ck-")
    try {
      StreamingDedup.seedWinnowIndex(
        docs.filterNot(d => newIds(d._1)).toDF("id", "text"),
        "text", "id", indexDir.toString)
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val mem = MemoryStream[(Long, String)]
      val got = scala.collection.mutable.Set.empty[(Long, Long, Long)]
      val q = mem.toDF().toDF("id", "text").writeStream
        .option("checkpointLocation", ck.toString)
        .foreachBatch {
          (b: org.apache.spark.sql.DataFrame, _: Long) =>
            StreamingDedup
              .winnowProbeBatch(b, "text", "id", indexDir.toString)
              .collect()
              .foreach(r => got.synchronized {
                got += ((r.getLong(0), r.getLong(1), r.getLong(2)))
              })
        }
        .start()
      try {
        val byId = docs.toMap
        batches.foreach { ids =>
          mem.addData(ids.map(i => (i, byId(i))))
          q.processAllAvailable()
        }
      } finally q.stop()
      got.synchronized(got.toSet)
    } finally {
      graft.core.Fs.deleteRecursively(indexDir.toFile)
      graft.core.Fs.deleteRecursively(ck.toFile)
    }
  }

  test("winnow probe: every micro-batching emits the batch incremental set") {
    val want = expectedWinnow
    // exact dups share their ENTIRE fingerprint selection, so both
    // fixture pairs clear minShared with their full (equal) counts
    assert(want.exists { case (a, b, n) => a == 1L && b == 2L && n >= 2L },
      s"fixture lost the old-new shared-passage pair: $want")
    assert(want.exists { case (a, b, n) => a == 10L && b == 11L && n >= 2L },
      s"fixture lost the new-new shared-passage pair: $want")
    val splits = Seq(
      Seq(Seq(2L, 10L, 11L, 12L)),
      Seq(Seq(2L, 10L), Seq(11L, 12L)),
      Seq(Seq(2L), Seq(10L), Seq(11L), Seq(12L)))
    splits.foreach { split =>
      assert(runWinnowSplit(split) == want,
        s"split $split diverged from the batch incremental answer")
    }
  }

  // 64-dim vectors (lshBucket's hyperplane weights are per dim 1..64):
  // families 1≈2 and 10≈11 are identical (cosine 1.0); the others are
  // distinct deterministic patterns far from the 0.9 spec threshold
  private val vecs: Seq[(Long, Seq[Double])] = Seq(
    1L -> (0 until 64).map(i => if (i % 2 == 0) 1.0 else -0.5),
    2L -> (0 until 64).map(i => if (i % 2 == 0) 1.0 else -0.5),
    3L -> (0 until 64).map(i => math.sin(i + 1).toDouble),
    10L -> (0 until 64).map(i => (i % 7 - 3).toDouble),
    11L -> (0 until 64).map(i => (i % 7 - 3).toDouble),
    12L -> (0 until 64).map(i => if (i % 3 == 0) -1.0 else 0.25)
  )
  private val CosThreshold = 0.9

  private def expectedCosine: Set[(Long, Long, Double)] = {
    import spark.implicits._
    val touchesNew = (a: Long, b: Long) => newIds(a) || newIds(b)
    graft.ops.Similarity.cosineNearDupPairs(
        vecs.toDF("vec_id", "embedding"), CosThreshold,
        planes = 16, tables = 3, maxBucket = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => touchesNew(a, b) }.toSet
  }

  private def runCosineSplit(
      batches: Seq[Seq[Long]]): Set[(Long, Long, Double)] = {
    import spark.implicits._
    assert(batches.flatten.toSet == newIds, "splits must cover the new set")
    val indexDir = tempDir("cdx-spec-")
    val ck = tempDir("cdx-spec-ck-")
    try {
      val vecSource = vecs.toDF("vec_id", "embedding")
      StreamingDedup.seedCosineIndex(
        vecSource.where(!col("vec_id").isin(newIds.toSeq: _*)),
        "vec_id", "embedding", indexDir.toString)
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val mem = MemoryStream[Long]
      val got = scala.collection.mutable.Set.empty[(Long, Long, Double)]
      val q = mem.toDF().toDF("vec_id").writeStream
        .option("checkpointLocation", ck.toString)
        .foreachBatch {
          (b: org.apache.spark.sql.DataFrame, _: Long) =>
            StreamingDedup
              .cosineProbeBatch(b, vecSource, "vec_id", "embedding",
                indexDir.toString, CosThreshold)
              .collect()
              .foreach(r => got.synchronized {
                got += ((r.getLong(0), r.getLong(1), r.getDouble(2)))
              })
        }
        .start()
      try {
        batches.foreach { ids =>
          mem.addData(ids)
          q.processAllAvailable()
        }
      } finally q.stop()
      got.synchronized(got.toSet)
    } finally {
      graft.core.Fs.deleteRecursively(indexDir.toFile)
      graft.core.Fs.deleteRecursively(ck.toFile)
    }
  }

  test("cosine probe: every micro-batching emits the batch incremental set") {
    val want = expectedCosine
    assert(want.exists { case (a, b, c) => a == 1L && b == 2L && c == 1.0 },
      s"fixture lost the old-new identical pair: $want")
    assert(want.exists { case (a, b, c) => a == 10L && b == 11L && c == 1.0 },
      s"fixture lost the new-new identical pair: $want")
    val splits = Seq(
      Seq(Seq(2L, 10L, 11L, 12L)),
      Seq(Seq(2L, 10L), Seq(11L, 12L)),
      Seq(Seq(2L), Seq(10L), Seq(11L), Seq(12L)))
    splits.foreach { split =>
      assert(runCosineSplit(split) == want,
        s"split $split diverged from the batch incremental answer")
    }
  }

  test("every micro-batching emits exactly the batch incremental pair set") {
    val want = expected
    // sanity on the fixture: an old-new pair AND a new-new pair exist
    assert(want.exists { case (a, b, _) => a == 1L && b == 2L },
      s"fixture lost the old-new near-dup pair: $want")
    assert(want.exists { case (a, b, _) => a == 10L && b == 11L },
      s"fixture lost the new-new near-dup pair: $want")
    // one batch, two batches splitting the 10-11 pair ACROSS batches
    // (only the index grown by batch 1 can find it), and singletons
    val splits = Seq(
      Seq(Seq(2L, 10L, 11L, 12L)),
      Seq(Seq(2L, 10L), Seq(11L, 12L)),
      Seq(Seq(2L), Seq(10L), Seq(11L), Seq(12L)))
    splits.foreach { split =>
      assert(runSplit(split) == want,
        s"split $split diverged from the batch incremental answer")
    }
  }
}
