package graft.streaming

import graft.ops.Dedup
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Pins the PRUNED streaming simhash index layout
  * ([[StreamingDedup.seedSimhashIndexPruned]] /
  * [[StreamingDedup.simhashProbeBatchPruned]]):
  *
  *  - SAME ANSWER: any micro-batching over the pruned layout emits
  *    exactly the batch incremental pair set — the layout changes
  *    where bytes live, never which pairs exist.
  *  - PRUNING IS REAL: the probe's index read carries a
  *    PartitionFilters entry on pfx and touches a strict subset of
  *    the index's files for a batch whose keyspace is small — the
  *    property that bounds per-batch I/O by the batch, not the
  *    corpus, at 100 TB.
  *  - COMPACTION KEEPS THE LAYOUT: [[StreamingDedup.compactIndex]]
  *    with partitionCols=pfx rewrites to one file per directory with
  *    identical content, and probes after it still prune.
  */
class StreamingDedupPrunedSpec extends AnyFunSuite with graft.TempDirs with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val docs: Seq[(Long, String)] = Seq(
    1L -> "the quick brown fox jumps over the lazy dog near the quiet river bank today",
    2L -> "the quick brown fox jumps over the lazy dog near the quiet river bank today",
    3L -> "completely different text about distributed query engines and shuffle exchanges at scale",
    10L -> "large language models train on deduplicated corpora for better generalization and efficiency",
    11L -> "large language models train on deduplicated corpora for better generalization and efficiency",
    12L -> "unrelated short note on parquet bloom filters and row group pruning strategies in columnar storage"
  )
  private val newIds = Set(2L, 10L, 11L, 12L)
  private val Parts = 16

  private def expected: Set[(Long, Long, Long)] = {
    import spark.implicits._
    Dedup.simhashPairsIncremental(docs.toDF("id", "text"), "text", "id",
        col("id").isin(newIds.toSeq: _*))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  private def withPrunedIndex[A](f: String => A): A = {
    import spark.implicits._
    val indexDir = tempDir("pdx-spec-")
    try {
      StreamingDedup.seedSimhashIndexPruned(
        docs.filterNot(d => newIds(d._1)).toDF("id", "text"),
        "text", "id", indexDir.toString, parts = Parts)
      f(indexDir.toString)
    } finally graft.core.Fs.deleteRecursively(indexDir.toFile)
  }

  private def probe(ids: Seq[Long], dir: String): Set[(Long, Long, Long)] = {
    import spark.implicits._
    val byId = docs.toMap
    StreamingDedup.simhashProbeBatchPruned(
        ids.map(i => (i, byId(i))).toDF("id", "text"),
        "text", "id", dir, parts = Parts)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  test("pruned probe: every micro-batching emits the batch incremental set") {
    val want = expected
    assert(want.exists { case (a, b, _) => a == 1L && b == 2L } &&
      want.exists { case (a, b, _) => a == 10L && b == 11L },
      s"fixture lost a near-dup pair: $want")
    val splits = Seq(
      Seq(Seq(2L, 10L, 11L, 12L)),
      Seq(Seq(2L, 10L), Seq(11L, 12L)),
      Seq(Seq(2L), Seq(10L), Seq(11L), Seq(12L)))
    splits.foreach { split =>
      val got = withPrunedIndex { dir =>
        split.flatMap(ids => probe(ids, dir)).toSet
      }
      assert(got == want,
        s"split $split diverged from the batch incremental answer")
    }
  }

  test("the index read prunes: the probe's own read touches a strict file subset") {
    withPrunedIndex { dir =>
      val populated = spark.read.parquet(dir)
        .select(col("pfx")).distinct().collect().map(_.getInt(0)).sorted
      assert(populated.length >= 2,
        s"fixture too small to demonstrate pruning: ${populated.toSeq}")
      // THE probe's read path (readTouchedPruned — explicit
      // touched-∩-live directory selection, not a filtered full-tree
      // read; the returned frame is checkpointed, so pin the subset on
      // ROWS): restricted to one populated prefix it must return
      // exactly that directory's rows — a strict, non-empty subset of
      // the index
      val schemaFrom = spark.read.parquet(dir).drop("pfx")
      val one = StreamingDedup.readTouchedPruned(spark, dir,
        Set(populated.head.toLong), schemaFrom)
      val prunedRows = one.count()
      val fullRows = spark.read.parquet(dir).count()
      val expectRows = spark.read.parquet(dir)
        .where(col("pfx") === populated.head).count()
      assert(prunedRows == expectRows,
        s"pruned read returned $prunedRows rows, directory holds $expectRows")
      assert(prunedRows >= 1L && prunedRows < fullRows,
        s"pruned read returned $prunedRows of $fullRows rows — no pruning")
      // and a prefix with no live directory yields an EMPTY frame with
      // the index schema, not an error
      val none = StreamingDedup.readTouchedPruned(spark, dir,
        Set(-1L), schemaFrom)
      assert(none.count() == 0L &&
        none.schema.fieldNames.sameElements(schemaFrom.schema.fieldNames))
    }
  }

  test("a seed/probe parts mismatch fails loudly, not by dropping pairs") {
    import spark.implicits._
    withPrunedIndex { dir =>
      // index seeded with Parts = 16; probing with a different modulus
      // would intersect live directories non-trivially and silently
      // drop pairs — the layout marker turns it into a named error
      val byId = docs.toMap
      val e = intercept[IllegalArgumentException] {
        StreamingDedup.simhashProbeBatchPruned(
          Seq((2L, byId(2L))).toDF("id", "text"),
          "text", "id", dir, parts = 1024)
      }
      assert(e.getMessage.contains("parts=16") &&
        e.getMessage.contains("parts=1024"),
        s"mismatch error did not name both moduli: ${e.getMessage}")
    }
  }

  test("pruned minhash/winnow/cosine: every micro-batching emits the batch incremental set") {
    import spark.implicits._
    val byId = docs.toMap
    def batchDf(ids: Seq[Long]) = ids.map(i => (i, byId(i))).toDF("id", "text")
    val splits = Seq(
      Seq(Seq(2L, 10L, 11L, 12L)),
      Seq(Seq(2L, 10L), Seq(11L, 12L)),
      Seq(Seq(2L), Seq(10L), Seq(11L), Seq(12L)))

    // minhash member
    val wantMh = Dedup.minhashLshIncremental(docs.toDF("id", "text"),
        "text", "id", col("id").isin(newIds.toSeq: _*))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(wantMh.nonEmpty, "minhash fixture lost its pairs")
    splits.foreach { split =>
      val dir = tempDir("pmh-spec-")
      try {
        StreamingDedup.seedMinhashIndexPruned(
          docs.filterNot(d => newIds(d._1)).toDF("id", "text"),
          "text", "id", dir.toString, parts = Parts)
        val got = split.flatMap { ids =>
          StreamingDedup.minhashProbeBatchPruned(batchDf(ids), "text",
              "id", dir.toString, docSource = docs.toDF("id", "text"),
              parts = Parts)
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        }.toSet
        assert(got == wantMh, s"pruned minhash split $split diverged")
      } finally graft.core.Fs.deleteRecursively(dir.toFile)
    }

    // winnow member (counts must stay COMPLETE under pruning)
    val wantWn = Dedup.winnowPairsIncremental(docs.toDF("id", "text"),
        "text", "id", col("id").isin(newIds.toSeq: _*))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(wantWn.exists { case (_, _, n) => n >= 2L },
      "winnow fixture lost its counted pairs")
    splits.foreach { split =>
      val dir = tempDir("pwn-spec-")
      try {
        StreamingDedup.seedWinnowIndexPruned(
          docs.filterNot(d => newIds(d._1)).toDF("id", "text"),
          "text", "id", dir.toString, parts = Parts)
        val got = split.flatMap { ids =>
          StreamingDedup.winnowProbeBatchPruned(batchDf(ids), "text",
              "id", dir.toString, parts = Parts)
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        }.toSet
        assert(got == wantWn, s"pruned winnow split $split diverged")
      } finally graft.core.Fs.deleteRecursively(dir.toFile)
    }

    // cosine member (same 64-dim families as StreamingDedupSpec)
    val vecs: Seq[(Long, Seq[Double])] = Seq(
      1L -> (0 until 64).map(i => if (i % 2 == 0) 1.0 else -0.5),
      2L -> (0 until 64).map(i => if (i % 2 == 0) 1.0 else -0.5),
      3L -> (0 until 64).map(i => math.sin(i + 1).toDouble),
      10L -> (0 until 64).map(i => (i % 7 - 3).toDouble),
      11L -> (0 until 64).map(i => (i % 7 - 3).toDouble),
      12L -> (0 until 64).map(i => if (i % 3 == 0) -1.0 else 0.25))
    val vecSource = vecs.toDF("vec_id", "embedding")
    val wantCs = graft.ops.Similarity.cosineNearDupPairs(
        vecSource, 0.9, planes = 16, tables = 3, maxBucket = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => newIds(a) || newIds(b) }.toSet
    assert(wantCs.nonEmpty, "cosine fixture lost its pairs")
    splits.foreach { split =>
      val dir = tempDir("pcs-spec-")
      try {
        StreamingDedup.seedCosineIndexPruned(
          vecSource.where(!col("vec_id").isin(newIds.toSeq: _*)),
          "vec_id", "embedding", dir.toString, parts = Parts)
        val got = split.flatMap { ids =>
          StreamingDedup.cosineProbeBatchPruned(
              ids.toDF("vec_id"), vecSource, "vec_id", "embedding",
              dir.toString, 0.9, parts = Parts)
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        }.toSet
        assert(got == wantCs, s"pruned cosine split $split diverged")
      } finally graft.core.Fs.deleteRecursively(dir.toFile)
    }
  }

  test("compaction preserves content, layout, and later probes") {
    withPrunedIndex { dir =>
      val got1 = probe(Seq(2L, 10L), dir)
      val before = spark.read.parquet(dir)
        .orderBy("id", "band").collect().toSeq
      StreamingDedup.compactIndex(spark, dir, Seq("pfx"),
        targetFiles = 4, partitionCols = Seq("pfx"))
      val after = spark.read.parquet(dir)
        .orderBy("id", "band").collect().toSeq
      assert(after == before, "compaction changed the index content")
      // layout survived: still partition-pruned, one file per directory
      val plan = spark.read.parquet(dir).where(col("pfx") === 0L)
        .queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: ["),
        s"compaction lost the partitioned layout:\n$plan")
      val filesPerDir = spark.read.parquet(dir)
        .select(col("pfx"), input_file_name().as("f")).distinct()
        .groupBy(col("pfx")).agg(count(lit(1)).as("n"))
        .agg(max(col("n"))).collect().head.getLong(0)
      assert(filesPerDir == 1L,
        s"compaction left $filesPerDir files in a directory")
      // the stream continues over the compacted index unchanged
      val got2 = probe(Seq(11L, 12L), dir)
      assert((got1 ++ got2) == expected,
        "post-compaction probes diverged from the batch incremental answer")
    }
  }
}
