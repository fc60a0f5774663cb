package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.streaming.GenIndex

/** Pins the generation-addressed persisted BM25 index ([[Bm25Store]]):
  *
  *  - SAME ANSWER: top-k served from the persisted posting lists ==
  *    [[Ranking.bm25TopK]]'s corpus scan, bit-for-bit (scores
  *    included) — the shared-expression contract the gate's verbatim
  *    oracle relies on.
  *  - MATCHED-ONLY SEMANTICS: the index only knows docs containing
  *    ≥ 1 query term; a matched doc always outscores an unmatched
  *    one, so the equality above holds whenever ≥ k docs match.
  *  - UNSEEN TERMS: a query term absent from the corpus contributes
  *    zero (df = 0 enters the same idf expression) — not a crash, not
  *    a dropped query.
  *  - RESEED: rebuild-and-flip publishes a new generation; on an
  *    unchanged corpus the served answer is identical; after drift
  *    the served answer tracks the new corpus (df/N/Σdl are
  *    corpus-era constants).
  */
class Bm25StoreSpec extends AnyFunSuite with graft.TempDirs with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // every doc matches ≥1 query term, with varied lengths and tf so
  // the score expression's every input differs across docs
  private def corpus = {
    import spark.implicits._
    Seq(
      (1L, "spark join window spark"),
      (2L, "join the window please join"),
      (3L, "spark spark spark filler filler filler filler"),
      (4L, "window"),
      (5L, "a join b window c spark d join e"),
      (6L, "nothing but join here")
    ).toDF("doc_id", "text")
  }

  private val terms = Seq("spark", "join", "window")

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("rk").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"),
        r.getAs[Long]("rk"))).toSeq

  test("persisted serving == corpus-scan bm25TopK, scores bit-identical") {
    val root = tempDir("bm25store-spec-")
    try {
      Bm25Store.seed(corpus, root.toString)
      val want = rows(Ranking.bm25TopK(corpus, "text", "doc_id", terms,
        topK = 6))
      val got = rows(Bm25Store.scoreQuery(spark, root.toString, terms,
        topK = 6))
      assert(got == want,
        s"persisted BM25 diverged from the corpus scan:\n$got\nvs\n$want")
    } finally graft.core.Fs.deleteRecursively(root.toFile)
  }

  test("a query term the corpus has never seen contributes zero") {
    val root = tempDir("bm25store-spec-")
    try {
      Bm25Store.seed(corpus, root.toString)
      val want = rows(Bm25Store.scoreQuery(spark, root.toString, terms,
        topK = 6))
      val got = rows(Bm25Store.scoreQuery(spark, root.toString,
        terms :+ "zzz_not_in_corpus", topK = 6))
      // idf of df=0 is well-defined; tf=0 zeroes the term everywhere,
      // so ranks and scores are unchanged
      assert(got == want,
        "an unseen query term changed the served ranking")
    } finally graft.core.Fs.deleteRecursively(root.toFile)
  }

  test("reseed on an unchanged corpus republishes the identical answer; " +
      "after drift the answer tracks the new corpus; retention bounds " +
      "generations") {
    import spark.implicits._
    val root = tempDir("bm25store-spec-")
    try {
      Bm25Store.seed(corpus, root.toString)
      val gen0 = rows(Bm25Store.scoreQuery(spark, root.toString, terms,
        topK = 6))
      Bm25Store.reseed(corpus, root.toString)
      assert(GenIndex.currentGen(root.toString).endsWith("gen-00001"))
      assert(rows(Bm25Store.scoreQuery(spark, root.toString, terms,
        topK = 6)) == gen0,
        "reseed on an unchanged corpus changed the served answer")

      val drifted = corpus.unionByName(
        Seq((7L, "spark window spark window")).toDF("doc_id", "text"))
      Bm25Store.reseed(drifted, root.toString, retain = 1)
      val got = rows(Bm25Store.scoreQuery(spark, root.toString, terms,
        topK = 7))
      val want = rows(Ranking.bm25TopK(drifted, "text", "doc_id", terms,
        topK = 7))
      assert(got == want,
        "post-drift reseed diverged from the corpus scan on the new corpus")
      assert(got.exists(_._1 == 7L), "the drifted doc never surfaced")
      // retain=1 keeps live + one predecessor only
      val gens = new java.io.File(root.toString).listFiles()
        .filter(_.getName.startsWith("gen-")).map(_.getName).sorted
      assert(gens.toSeq == Seq("gen-00001", "gen-00002"),
        s"retention left $gens")
    } finally graft.core.Fs.deleteRecursively(root.toFile)
  }

  test("seed + appends == one build of the union (any batch division), " +
      "and compact preserves the served answer while flipping the " +
      "generation") {
    val root = tempDir("bm25store-spec-")
    val rootAll = tempDir("bm25store-spec-")
    try {
      // split 6 docs into seed {1,2} + appends {3,4} and {5,6}
      Bm25Store.seed(corpus.where(col("doc_id") <= 2), root.toString)
      Bm25Store.append(corpus.where(col("doc_id").isin(3, 4)), root.toString)
      Bm25Store.append(corpus.where(col("doc_id").isin(5, 6)), root.toString)
      Bm25Store.seed(corpus, rootAll.toString)
      val incremental = rows(Bm25Store.scoreQuery(spark, root.toString,
        terms, topK = 6))
      val oneShot = rows(Bm25Store.scoreQuery(spark, rootAll.toString,
        terms, topK = 6))
      assert(incremental == oneShot,
        "seed+append diverged from the one-shot build")

      Bm25Store.compact(spark, root.toString)
      assert(GenIndex.currentGen(root.toString).endsWith("gen-00001"))
      assert(rows(Bm25Store.scoreQuery(spark, root.toString, terms,
        topK = 6)) == oneShot,
        "compaction changed the served answer")
      // the ledger collapsed back to one row
      assert(spark.read.parquet(
        s"${GenIndex.currentGen(root.toString)}/stats").count() == 1L)
    } finally {
      graft.core.Fs.deleteRecursively(root.toFile)
      graft.core.Fs.deleteRecursively(rootAll.toFile)
    }
  }

  test("the pruned posting read only opens the query terms' buckets " +
      "(partition filter present in the plan)") {
    val root = tempDir("bm25store-spec-")
    try {
      Bm25Store.seed(corpus, root.toString)
      val gen = GenIndex.currentGen(root.toString)
      // the read Bm25Store.scoreQuery issues, reconstructed without the
      // localCheckpoint so the scan survives into the analyzed plan
      val pruned = spark.read.parquet(s"$gen/postings")
        .where(col("tbucket").isin(0L to 63L: _*) &&
          col("term").isin(terms: _*))
      val ex = pruned.queryExecution.executedPlan.toString()
      assert(ex.contains("PartitionFilters") &&
          ex.contains("tbucket"),
        s"tbucket never reached the scan's partition filters:\n$ex")
    } finally graft.core.Fs.deleteRecursively(root.toFile)
  }
}
