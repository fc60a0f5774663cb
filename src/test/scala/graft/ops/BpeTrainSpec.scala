package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** BPE training against the classic worked example (low/lower/newest/
  * widest, Sennrich et al. §3.2): the merge sequence is known by hand.
  */
class BpeTrainSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // word frequencies: low 5, lower 2, newest 6, widest 3
  private def corpus = {
    import spark.implicits._
    Seq(
      (1L, Seq.fill(5)("low").mkString(" ")),
      (2L, Seq.fill(2)("lower").mkString(" ")),
      (3L, Seq.fill(6)("newest").mkString(" ")),
      (4L, Seq.fill(3)("widest").mkString(" "))
    ).toDF("doc_id", "text")
  }

  test("wordCounts collapses the corpus to its frequency table") {
    val wc = BpeTrain.wordCounts(corpus, "text").collect()
      .map(r => r.getAs[String]("word") -> r.getAs[Long]("c")).toMap
    assert(wc == Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L))
  }

  test("pairCounts weights adjacent pairs by word frequency") {
    val words = BpeTrain.wordCounts(corpus, "text")
      .select(BpeTrain.charSyms(col("word")).as("syms"), col("c"))
    val pc = BpeTrain.pairCounts(words).collect()
      .map(r => (r.getAs[String]("a"), r.getAs[String]("b")) ->
        r.getAs[Long]("cnt")).toMap
    // (e,s): newest 6 + widest 3; (l,o): low 5 + lower 2; (w,e): lower 2 + newest 6
    assert(pc(("e", "s")) == 9L)
    assert(pc(("s", "t")) == 9L)
    assert(pc(("l", "o")) == 7L)
    assert(pc(("w", "e")) == 8L)
  }

  test("trainBpe learns the textbook merge sequence") {
    // hand-derived: (e,s)=9 -> es; (es,t)=9 -> est; then (l,o) and
    // (o,w) tie at 7 and (l,o) wins the ascending tie-break; (lo,w)=7
    assert(BpeTrain.trainBpe(corpus, "text", 4) ==
      Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w")))
  }

  test("trainBpe stops early when every word is one symbol") {
    import spark.implicits._
    val tiny = Seq((1L, "ab ab")).toDF("doc_id", "text")
    // merge 1 fuses (a,b); after that no pairs remain anywhere
    assert(BpeTrain.trainBpe(tiny, "text", 10) == Seq(("a", "b")))
  }

  test("bpeEncode applies merges in order with the leftmost rule") {
    import spark.implicits._
    val merges = BpeTrain.trainBpe(corpus, "text", 4)
    // textbook merges: es, est, lo, low
    val out = BpeTrain.bpeEncode(corpus, "text", "doc_id", merges,
        samplePred = lit(true))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bpe_tokens"), r.getAs[String]("enc")))).toMap
    // low -> [low] (1 sym); lower -> [low,e,r] (3); newest ->
    // [n,e,w,est] (4); widest -> [w,i,d,est] (4)
    assert(out(1L) == ((5L, Seq.fill(5)("|low").mkString(" "))))
    assert(out(2L) == ((6L, Seq.fill(2)("|low|e|r").mkString(" "))))
    assert(out(3L) == ((24L, Seq.fill(6)("|n|e|w|est").mkString(" "))))
    assert(out(4L) == ((12L, Seq.fill(3)("|w|i|d|est").mkString(" "))))
  }

  test("bpeEncode: leftmost non-overlapping merge on repeated symbols") {
    import spark.implicits._
    val df = Seq((1L, "aaa aaaa")).toDF("doc_id", "text")
    // one merge (a,a): aaa -> [aa, a] (leftmost), aaaa -> [aa, aa]
    val out = BpeTrain.bpeEncode(df, "text", "doc_id", Seq(("a", "a")),
        samplePred = lit(true))
      .collect().head
    assert(out.getAs[Long]("n_bpe_tokens") == 4L)
    assert(out.getAs[String]("enc") == "|aa|a |aa|aa")
  }

  test("bpeEncodeVocab == bpeEncode (the vocab-join production swap)") {
    import spark.implicits._
    // includes a multi-space doc, a doc with a repeated word, and a
    // NULL-text doc so the join-back, ordered reassembly, and the
    // null-coalesce contract (both encoders: 0 tokens, '' sequence
    // when sampled) are genuinely exercised
    val df = corpus.union(
      Seq((5L, "  low  newest low "), (6L, "widest widest"))
        .toDF("doc_id", "text")).union(
      Seq((8L, Option.empty[String])).toDF("doc_id", "text"))
    val merges = BpeTrain.trainBpe(df, "text", 4)
    def rows(out: org.apache.spark.sql.DataFrame) =
      out.collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_bpe_tokens"), r.getAs[String]("enc"))).toSet
    val direct = rows(BpeTrain.bpeEncode(df, "text", "doc_id", merges,
      samplePred = pmod(col("doc_id"), lit(2)) === 0))
    val vocab = rows(BpeTrain.bpeEncodeVocab(df, "text", "doc_id", merges,
      samplePred = pmod(col("doc_id"), lit(2)) === 0))
    assert(vocab == direct, s"vocab=$vocab\ndirect=$direct")
    // the FOLD apply (merge table as closure data — the
    // production-depth shape) must agree too, including on the same
    // null/multi-space/repeated-word edges
    val fold = rows(BpeTrain.bpeEncodeVocabFold(df, "text", "doc_id",
      merges, samplePred = pmod(col("doc_id"), lit(2)) === 0))
    assert(fold == direct, s"fold=$fold\ndirect=$direct")
  }

  test("fold apply survives a merge depth where the expression chain " +
      "is already deep: padded tables change nothing") {
    import spark.implicits._
    // 4 real merges + 60 padding merges that can never match: the
    // fold result must be bit-identical to the real-table fold, and
    // both must equal the direct encode at the real table — the
    // agreement contract the bpe_depth diagnostic leans on at padded
    // depths
    val merges = BpeTrain.trainBpe(corpus, "text", 4)
    val padded =
      merges ++ BpeTrain.padMerges(merges.length, 64)
    def rows(out: org.apache.spark.sql.DataFrame) =
      out.collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_bpe_tokens"), r.getAs[String]("enc"))).toSet
    val direct = rows(BpeTrain.bpeEncode(corpus, "text", "doc_id",
      merges, samplePred = lit(true)))
    val foldPadded = rows(BpeTrain.bpeEncodeVocabFold(corpus, "text",
      "doc_id", padded, samplePred = lit(true)))
    assert(foldPadded == direct, s"padded=$foldPadded\ndirect=$direct")
  }

  test("bpeEncode normalizes whitespace and keeps unsampled enc NULL") {
    import spark.implicits._
    val df = Seq((1L, "  ab   ab "), (2L, "ab")).toDF("doc_id", "text")
    val out = BpeTrain.bpeEncode(df, "text", "doc_id", Seq(("a", "b")),
        samplePred = col("doc_id") === 1L)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bpe_tokens"), r.getAs[String]("enc")))).toMap
    assert(out(1L) == ((2L, "|ab |ab")))
    assert(out(2L)._1 == 1L && out(2L)._2 == null)
  }
}
