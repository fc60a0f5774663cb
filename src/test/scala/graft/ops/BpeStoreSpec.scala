package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.streaming.GenIndex

/** Pins the generation-addressed persisted tokenizer ([[BpeStore]]):
  *
  *  - SAME ANSWER: encode through the persisted artifact ==
  *    [[BpeTrain.bpeEncode]] with the same in-session merges —
  *    persistence changes where the tokenizer lives, never what it
  *    returns (the gate's contract).
  *  - CACHE, NOT CONTRACT: a corpus that drifted since training (OOV
  *    words the persisted vocabulary has never seen) still encodes
  *    exactly as the direct merge chain would — the vocab-join's
  *    inner-join shape would silently drop those words.
  *  - RESEED: retrain-and-flip publishes a new generation; on an
  *    unchanged corpus the republished tokenizer is identical
  *    (training is a pure function of the corpus); on a drifted
  *    corpus readers get the fresh merges, and retention bounds the
  *    generation count.
  */
class BpeStoreSpec extends AnyFunSuite with graft.TempDirs with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def corpus = {
    import spark.implicits._
    Seq(
      (1L, Seq.fill(5)("low").mkString(" ")),
      (2L, Seq.fill(2)("lower").mkString(" ")),
      (3L, Seq.fill(6)("newest").mkString(" ")),
      (4L, Seq.fill(3)("widest").mkString(" "))
    ).toDF("doc_id", "text")
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2))))
      .toSeq

  test("persisted round trip == in-session encode (merge table survives " +
      "the parquet round trip in application order)") {
    val root = tempDir("bpestore-spec-")
    try {
      BpeStore.seed(corpus, root.toString, numMerges = 4)
      val merges = BpeTrain.trainBpe(corpus, "text", 4)
      assert(BpeStore.readMerges(spark, root.toString) == merges,
        "persisted merge table diverged from the in-session training")
      val want = rows(BpeTrain.bpeEncode(corpus, "text", "doc_id", merges,
        samplePred = lit(true)))
      val got = rows(BpeStore.encode(corpus, root.toString,
        samplePred = lit(true)))
      assert(got == want, s"persisted encode diverged:\n$got\nvs\n$want")
    } finally graft.core.Fs.deleteRecursively(root.toFile)
  }

  test("OOV fallback: a drifted corpus encodes through the frozen merge " +
      "chain exactly as the direct encode would") {
    import spark.implicits._
    val root = tempDir("bpestore-spec-")
    try {
      BpeStore.seed(corpus, root.toString, numMerges = 4)
      // "lowest" exercises the trained merges (es, est, lo, low) but
      // was never a training word — the persisted vocab misses it;
      // "zq" shares no symbols with any merge
      val drifted = Seq((9L, "lowest zq low")).toDF("doc_id", "text")
      val merges = BpeStore.readMerges(spark, root.toString)
      val want = rows(BpeTrain.bpeEncode(drifted, "text", "doc_id",
        merges, samplePred = lit(true)))
      val got = rows(BpeStore.encode(drifted, root.toString,
        samplePred = lit(true)))
      assert(got == want,
        s"OOV words did not fall back to the merge chain:\n$got\nvs\n$want")
      // and the fallback genuinely merged: "lowest" = low|est, 2 tokens
      assert(got.head._2 == 2L + 2L + 1L,
        s"unexpected token count for the drifted doc: ${got.head}")
    } finally graft.core.Fs.deleteRecursively(root.toFile)
  }

  test("reseed: unchanged corpus republishes the identical tokenizer " +
      "into a new generation; drifted corpus retrains; retention bounds " +
      "the directory count") {
    import spark.implicits._
    val root = tempDir("bpestore-spec-")
    try {
      BpeStore.seed(corpus, root.toString, numMerges = 4)
      val gen0 = GenIndex.currentGen(root.toString)
      val m0 = BpeStore.readMerges(spark, root.toString)
      BpeStore.reseed(corpus, root.toString, numMerges = 4)
      assert(GenIndex.currentGen(root.toString) != gen0,
        "reseed must flip to a new generation")
      assert(BpeStore.readMerges(spark, root.toString) == m0,
        "reseed on an unchanged corpus must republish identically")
      // drift: a corpus dominated by a new word retrains the table
      val drifted = corpus.unionByName(
        Seq((5L, Seq.fill(50)("zzzq").mkString(" "))).toDF("doc_id", "text"))
      BpeStore.reseed(drifted, root.toString, numMerges = 4, retain = 0)
      val m2 = BpeStore.readMerges(spark, root.toString)
      assert(m2 != m0, "reseed was a no-op on a drifted corpus")
      assert(m2.head == (("z", "z")),
        s"drifted corpus's dominant pair did not lead the table: $m2")
      // retain = 0 keeps only the live generation
      val gens = root.toFile.listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("gen-"))
        .map(_.getName).sorted
      assert(gens.sameElements(Array("gen-00002")), gens.mkString(","))
    } finally graft.core.Fs.deleteRecursively(root.toFile)
  }
}
