package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Semantic tests for the LLM-pipeline operators (the oracle gate
  * proves engine-equivalence; these prove the operators do the right
  * THING: near-dups found, skew path equivalent, multimodal shapes).
  */
class OpsSpec extends AnyFunSuite with graft.TempDirs with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def docs: DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("minhash LSH recalls the high-jaccard pairs the exact op finds") {
    val exact = Dedup.ngramJaccard(docs, "text", "doc_id", threshold = 0.9)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh(docs, "text", "doc_id", threshold = 0.9)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "test corpus should contain planted near-dups")
    // banding with 8 hashes / 4 bands catches ≥ 0.9-jaccard pairs with
    // probability ~1 - (1-0.9^2)^4 ≈ 0.9987 each; demand full recall on
    // this corpus and no pairs the exact op rejects
    assert(lsh == exact, s"lsh=$lsh exact=$exact")
  }

  test("containment-LSH: same band candidates as minhash-LSH, the " +
      "asymmetric measure, containment >= jaccard on every pair") {
    val jac = Dedup.minhashLsh(docs, "text", "doc_id")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    val cont = Dedup.ngramContainmentLsh(docs, "text", "doc_id")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    assert(cont.nonEmpty, "band candidates should exist on this corpus")
    assert(cont.keySet == jac.keySet,
      "one band index must yield one candidate set for every measure")
    // |A∩B|/min ≥ |A∩B|/|A∪B| always (min ≤ union) — the measure is
    // genuinely the laxer one on every single pair
    cont.foreach { case (p, c) =>
      assert(c >= jac(p) - 1e-9, s"containment < jaccard on $p") }
  }

  test("posting-list pair generation == self-join pair generation " +
      "(a never-binding cap must not change the exact result)") {
    // maxDf far above any shingle's df on this corpus: the capped
    // (posting-list) plan and the uncapped (self-join) plan must
    // produce the identical measure table
    val posting = Dedup.ngramJaccard(docs, "text", "doc_id",
        threshold = 0.5, maxDf = 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val selfJoin = Dedup.ngramJaccard(docs, "text", "doc_id",
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(posting == selfJoin, s"posting=$posting selfJoin=$selfJoin")
    assert(posting.nonEmpty, "fixture corpus should contain near-dups")
  }

  test("incremental minhash == full minhash restricted to pairs touching a new doc") {
    val isNew = Curation.hashBucket(col("doc_id"), "ingest") < lit(1000)
    val newIds = docs.where(isNew).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(newIds.nonEmpty && newIds.size < docs.count(),
      "batch split must be a proper subset")
    val full = Dedup.minhashLsh(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expected = full.filter(p => newIds(p._1) || newIds(p._2))
    val inc = Dedup.minhashLshIncremental(docs, "text", "doc_id", isNew)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(inc == expected, s"inc=$inc expected=$expected")
    assert(expected.nonEmpty,
      "the 10% batch should touch at least one planted near-dup pair")
  }

  test("indexed incremental minhash (precomputed signature store) == " +
      "self-contained incremental minhash") {
    val isNew = Curation.hashBucket(col("doc_id"), "ingest") < lit(1000)
    val direct = Dedup.minhashLshIncremental(docs, "text", "doc_id", isNew)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the signature store the gated leg probes: seedMinhashIndex over
    // the FULL corpus (same default geometry on both sides)
    val idxDir = tempDir("ops-mh-idx-").toString
    try {
      graft.streaming.StreamingDedup.seedMinhashIndex(
        docs, "text", "doc_id", idxDir)
      val indexed = Dedup.minhashLshIncrementalIndexed(docs,
          spark.read.parquet(idxDir), "text", "doc_id", isNew)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(indexed == direct, s"indexed=$indexed direct=$direct")
      assert(direct.nonEmpty,
        "the 10% batch should touch at least one planted near-dup pair")
    } finally graft.core.Fs.deleteRecursively(new java.io.File(idxDir))
  }

  test("indexed incremental containment == batch containment-LSH " +
      "restricted to pairs touching a new doc") {
    val isNew = Curation.hashBucket(col("doc_id"), "ingest") < lit(1000)
    val newIds = docs.where(isNew).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val full = Dedup.ngramContainmentLsh(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val expected = full.filter(p => newIds(p._1) || newIds(p._2))
    val idxDir = tempDir("ops-cont-idx-").toString
    try {
      graft.streaming.StreamingDedup.seedMinhashIndex(
        docs, "text", "doc_id", idxDir)
      val inc = Dedup.containmentIncrementalIndexed(docs,
          spark.read.parquet(idxDir), "text", "doc_id", isNew)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(inc == expected, s"inc=$inc expected=$expected")
      assert(expected.nonEmpty,
        "the 10% batch should touch at least one candidate pair")
    } finally graft.core.Fs.deleteRecursively(new java.io.File(idxDir))
  }

  test("substring spans: cross-doc verbatim runs found, positions exact, " +
      "within-doc repetition alone never spans") {
    import spark.implicits._
    // A and B share tokens 3..10 verbatim (8 tokens = 5 consecutive
    // 4-grams at positions 3..7); C repeats its own 4-gram twice but
    // shares nothing cross-doc; D is unique
    val a = "a1 a2 x1 x2 x3 x4 x5 x6 x7 x8 a3 a4"
    val b = "b1 x1 x2 x3 x4 x5 x6 x7 x8 b2 b3 b4"
    val c = "r1 r2 r3 r4 c1 c2 r1 r2 r3 r4 c3 c4"
    val dd = "d1 d2 d3 d4 d5 d6 d7 d8 d9 d10 d11 d12"
    val df = Seq((1L, a), (2L, b), (3L, c), (4L, dd)).toDF("doc_id", "text")
    val got = Dedup.substringDupSpans(df, "text", "doc_id",
        k = 4, minRun = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // shared x1..x8: in A grams at positions 3..7, in B at 2..6 —
    // one span each of 5 grams / 8 tokens
    assert(got == Set((1L, 3L, 5L, 8L), (2L, 2L, 5L, 8L)),
      s"got=$got")
  }

  test("substring strip: spans cut everywhere they appear, unique docs " +
      "untouched, fully-boilerplate docs survive with empty text") {
    import spark.implicits._
    // A and B share tokens 3..10 / 2..9 (the spans test's corpus);
    // E and F are verbatim copies of each other — fully boilerplate
    val a = "a1 a2 x1 x2 x3 x4 x5 x6 x7 x8 a3 a4"
    val b = "b1 x1 x2 x3 x4 x5 x6 x7 x8 b2 b3 b4"
    val dd = "d1 d2 d3 d4 d5 d6 d7 d8 d9 d10 d11 d12"
    val e = "e1 e2 e3 e4 e5 e6 e7 e8"
    val df = Seq((1L, a), (2L, b), (4L, dd), (5L, e), (6L, e))
      .toDF("doc_id", "text")
    val got = Dedup.substringStrip(df, "text", "doc_id", k = 4, minRun = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
      .toMap
    assert(got(1L) == ((4L, "a1 a2 a3 a4")), s"got=${got(1L)}")
    assert(got(2L) == ((4L, "b1 b2 b3 b4")), s"got=${got(2L)}")
    assert(got(4L) == ((12L, dd)), "unique doc must pass through intact")
    assert(got(5L) == ((0L, "")) && got(6L) == ((0L, "")),
      "fully-boilerplate docs survive as empty rows, never dropped")
    assert(got.size == 5)
  }

  test("ivf+sq8: probing every list equals flat sq8 exactly; narrow " +
      "probe returns full top-k per query") {
    import spark.implicits._
    val dims = 8
    def vec(i: Long): Seq[Double] =
      (0 until dims).map(j => ((i * 7 + j * 3) % 11 - 5).toDouble)
    val corpus = (0L until 40L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val pred = col("vec_id").isin(0, 1, 2)
    // nprobe == nlist degenerates to flat SQ8: identical scoring over
    // the identical (whole-corpus) candidate set — tuples must match
    // bit-for-bit, rank included
    val flat = Similarity.sq8TopKBatch(corpus, pred, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getLong(3))).toSet
    val all = Similarity.ivfSq8TopKBatch(corpus, pred, 3,
        nlist = 4, nprobe = 4, trainIters = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getLong(3))).toSet
    assert(all == flat, s"all=$all flat=$flat")
    // a narrow probe still fills k ranks per query (lists here hold
    // far more than k candidates), and scores stay properly ordered
    val narrow = Similarity.ivfSq8TopKBatch(corpus, pred, 3,
        nlist = 4, nprobe = 2, trainIters = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getLong(3)))
    assert(narrow.map(_._1).distinct.sorted.sameElements(Seq(0L, 1L, 2L)))
    narrow.groupBy(_._1).foreach { case (qid, rows) =>
      assert(rows.map(_._4).sorted.sameElements(Seq(1L, 2L, 3L)), s"q$qid ranks")
      val byRank = rows.sortBy(_._4).map(_._3)
      assert(byRank.zip(byRank.tail).forall { case (x, y) => x >= y },
        s"q$qid scores must be non-increasing in rank")
    }
  }

  test("sq8 top-k matches the exact baseline on well-separated vectors " +
      "and stays self-consistent") {
    import spark.implicits._
    val dims = 8
    def vec(i: Long): Seq[Double] =
      (0 until dims).map(j => ((i * 7 + j * 3) % 11 - 5).toDouble)
    val corpus = (0L until 40L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val q = corpus.where(col("vec_id").isin(0, 1, 2))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val exact = Similarity.bruteForceTopK(corpus, q, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq8 = Similarity.sq8TopKBatch(corpus,
        col("vec_id").isin(0, 1, 2), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // int8 rounding perturbs each cosine by < 1% — far inside this
    // corpus's ranking margins, so the top-3 SETS agree exactly
    // (distances differ; the oracle gate pins those cross-engine)
    assert(sq8 == exact, s"sq8=$sq8 exact=$exact")
  }

  test("ivfpq refine: full-depth re-rank over all lists equals the " +
      "exact baseline; shallow refine ranks by true cosine") {
    import spark.implicits._
    val dims = 8
    def vec(i: Long): Seq[Double] =
      (0 until dims).map(j => ((i * 7 + j * 3) % 11 - 5).toDouble)
    val corpus = (0L until 40L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val pred = col("vec_id").isin(0, 1, 2)
    val q = corpus.where(pred)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    // rerank deep enough to cover every probed candidate + probe all
    // lists -> the ADC stage merely forwards the corpus and the exact
    // re-rank must reproduce the brute-force answer bit-for-bit
    val exact = Similarity.bruteForceTopK(corpus, q, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getLong(3))).toSet
    val deep = Similarity.ivfPqRefineTopKBatch(corpus, pred, kNN = 3,
        rerank = 40, nlist = 4, nprobe = 4, trainIters = 2,
        m = 4, k = 4, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getLong(3))).toSet
    assert(deep == exact, s"deep=$deep exact=$exact")
    // shallow refine: scores are TRUE cosines (not ADC distances) and
    // properly ordered per query
    val shallow = Similarity.ivfPqRefineTopKBatch(corpus, pred, kNN = 3,
        rerank = 10, nlist = 4, nprobe = 2, trainIters = 2,
        m = 4, k = 4, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getLong(3)))
    val trueCos = exact ++ Similarity.bruteForceTopK(corpus, q, 40)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getLong(3)))
    val cosOf = trueCos.map(t => (t._1, t._2) -> t._3).toMap
    shallow.foreach { case (qid, vid, c, _) =>
      assert(cosOf((qid, vid)) == c,
        s"refined score must be the true cosine for ($qid,$vid)")
    }
  }

  test("matryoshka two-stage: full-width truncation degenerates to " +
      "brute force; truncated stage-1 still yields true-cosine ranks") {
    import spark.implicits._
    val dims = 8
    def vec(i: Long): Seq[Double] =
      (0 until dims).map(j => ((i * 7 + j * 3) % 11 - 5).toDouble)
    val corpus = (0L until 40L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val pred = col("vec_id").isin(0, 1, 2)
    val q = corpus.where(pred)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val exact = Similarity.bruteForceTopK(corpus, q, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getLong(3))).toSet
    // dims = full width + rerank = corpus: both stages are exact
    val full = Similarity.matryoshkaRefineTopKBatch(corpus, pred,
        kNN = 3, rerank = 40, dims = dims)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getLong(3))).toSet
    assert(full == exact, s"full=$full exact=$exact")
    // truncated stage 1: final scores must still be TRUE full-dim
    // cosines (the refine stage's contract)
    val allCos = Similarity.bruteForceTopK(corpus, q, 40)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val trunc = Similarity.matryoshkaRefineTopKBatch(corpus, pred,
        kNN = 3, rerank = 10, dims = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    trunc.foreach { case (qid, vid, c) =>
      assert(allCos((qid, vid)) == c,
        s"refined score must be the true full-dim cosine ($qid,$vid)")
    }
  }

  test("opq rotation is near-orthonormal: norms preserved, " +
      "inverse schedule recovers the input, angles cancel in ranking") {
    import spark.implicits._
    val dims = 8
    def vec(i: Long): Seq[Double] =
      (0 until dims).map(j => ((i * 13 + j * 5) % 17 - 8).toDouble)
    val corpus = (0L until 30L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val rot = Similarity.opqRotate(corpus, "embedding", "rve", 6, dims)
    val rows = rot.select(col("vec_id"), col("embedding"), col("rve"))
      .collect().map(r => (r.getLong(0),
        r.getSeq[Double](1), r.getSeq[Double](2)))
    def n2(v: Seq[Double]) = v.map(x => x * x).sum
    rows.foreach { case (id, v, rv) =>
      assert(math.abs(n2(v) - n2(rv)) < 1e-9,
        s"rotation must preserve the L2 norm (id=$id)")
    }
    // a rotation never changes cosine geometry: exact top-k in the
    // rotated space equals exact top-k in the original space
    val q = corpus.where(col("vec_id").isin(0, 1))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val qr = rot.where(col("vec_id").isin(0, 1))
      .select(col("vec_id").as("qid"), col("rve").as("qe"))
    val base = Similarity.bruteForceTopK(corpus, q, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rotated = Similarity.bruteForceTopK(
        rot.select(col("vec_id"), col("rve").as("embedding")), qr, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rotated == base, s"rotated=$rotated base=$base")
    // determinism: the schedule is a constant
    assert(Similarity.opqSchedule(6, dims) == Similarity.opqSchedule(6, dims))
  }

  test("rrf fusion: union semantics, missing-arm zero, exact " +
      "reciprocal-rank arithmetic, deterministic tie-break") {
    import spark.implicits._
    val lex = Seq((10L, 1L), (11L, 2L), (12L, 3L)).toDF("doc_id", "rk")
    val sem = Seq((11L, 1L), (13L, 2L)).toDF("doc_id", "rk")
    val got = Ranking.rrfFusion(lex, sem, "doc_id", kRrf = 60, topK = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(3), r.getLong(4)))
    val byId = got.map(t => t._1 -> t._2).toMap
    def rr(r: Long) = 1.0 / (60 + r)
    assert(byId(11L) == math.rint((rr(2) + rr(1)) * 1e9) / 1e9)
    assert(byId(10L) == math.rint(rr(1) * 1e9) / 1e9,
      "doc missing from one arm competes on the other alone")
    assert(byId.keySet == Set(10L, 11L, 12L, 13L), "union, not intersection")
    // 11 leads (two arms beat any single rank-1 here), then 10 (lex#1),
    // then 13 (sem#2 = 1/62) ahead of 12 (lex#3 = 1/63)
    assert(got.sortBy(_._3).map(_._1).toSeq == Seq(11L, 10L, 13L, 12L),
      s"got=${got.toSeq}")
  }

  test("batch rrf fusion == per-qid single fusion") {
    import spark.implicits._
    val lex = Seq((0L, 10L, 1L), (0L, 11L, 2L), (0L, 12L, 3L),
      (1L, 12L, 1L), (1L, 14L, 2L))
      .toDF("qid", "doc_id", "rk")
    val sem = Seq((0L, 11L, 1L), (0L, 13L, 2L),
      (1L, 13L, 1L), (1L, 12L, 2L))
      .toDF("qid", "doc_id", "rk")
    val batch = Ranking.rrfFusionBatch(lex, sem, "doc_id", kRrf = 60,
        topK = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(4), r.getLong(5)))
      .toSet
    val perQid = Seq(0L, 1L).flatMap { q =>
      Ranking.rrfFusion(
        lex.where(col("qid") === q).drop("qid"),
        sem.where(col("qid") === q).drop("qid"),
        "doc_id", kRrf = 60, topK = 10)
        .collect()
        .map(r => (q, r.getLong(0), r.getDouble(3), r.getLong(4)))
    }.toSet
    assert(batch == perQid, s"batch=$batch perQid=$perQid")
    assert(batch.exists(_._1 == 0L) && batch.exists(_._1 == 1L))
  }

  test("fuzzy decontamination: edited near-copies of benchmark docs " +
      "flagged with best match, unrelated docs clean, ties to the " +
      "smaller bench id") {
    import spark.implicits._
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val edited = ((1 to 30).map(i => s"w$i").updated(14, "CHANGED"))
      .mkString(" ")
    val unrelated = (1 to 30).map(i => s"z$i").mkString(" ")
    // bench: 1 and 2 (identical), corpus: 10 = verbatim copy,
    // 11 = one-token edit, 12 = unrelated
    val df = Seq((1L, base), (2L, base), (10L, base), (11L, edited),
      (12L, unrelated)).toDF("doc_id", "text")
    val got = Curation.contaminatedFuzzy(df, "text", "doc_id",
        col("doc_id") < 10, threshold = 0.5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    // verbatim copy: matches BOTH bench docs at 1.0, best = smaller id
    assert(got(10L) == ((2L, 1.0, 1L)), s"got=${got.get(10L)}")
    // the one-token edit: 3 of 28 shingles broken -> high jaccard,
    // still flagged against both
    assert(got.contains(11L) && got(11L)._2 > 0.8 && got(11L)._3 == 1L,
      s"edited near-copy must be flagged: ${got.get(11L)}")
    assert(!got.contains(12L), "unrelated doc must stay clean")
  }

  test("dsir weights: target-like docs score higher, feature counts " +
      "are unigrams+bigrams, empty-vocab docs survive at zero") {
    import spark.implicits._
    // target = docs 1,2 (the "medical" domain); doc 3 shares their
    // vocabulary, doc 4 is disjoint "legal" text — DSIR must rank 3
    // above 4
    val df = Seq(
      (1L, "dose patient trial dose patient", true),
      (2L, "patient dose outcome trial", true),
      (3L, "trial patient dose", false),
      (4L, "court judge appeal verdict ruling", false),
      (5L, "", false)).toDF("doc_id", "text", "is_t")
    val got = Curation.dsirWeights(df, "text", "doc_id", col("is_t"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    // n_feats = words + (words-1) bigrams
    assert(got(1L)._1 == 9L && got(3L)._1 == 5L && got(4L)._1 == 9L)
    assert(got(5L) == ((0L, 0.0)), "no-token doc survives at zero")
    val perFeat3 = got(3L)._2 / got(3L)._1
    val perFeat4 = got(4L)._2 / got(4L)._1
    assert(perFeat3 > perFeat4,
      s"in-domain doc must outscore out-of-domain per feature: " +
        s"$perFeat3 vs $perFeat4")
    assert(got(4L)._2 < 0.0, "out-of-domain weight is negative")
  }

  test("incremental simhash == batch pairs restricted to pairs touching a new doc") {
    val isNew = Curation.hashBucket(col("doc_id"), "ingest") < lit(1000)
    val newIds = docs.where(isNew).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(newIds.nonEmpty && newIds.size < docs.count(),
      "batch split must be a proper subset")
    val full = Dedup.simhashPairs(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expected = full.filter(p => newIds(p._1) || newIds(p._2))
    val inc = Dedup.simhashPairsIncremental(docs, "text", "doc_id", isNew)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(inc == expected, s"inc=$inc expected=$expected")
    // all-new batch degenerates to the full batch answer
    val allNew = Dedup.simhashPairsIncremental(docs, "text", "doc_id", lit(true))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(allNew == full, s"allNew=$allNew full=$full")
  }

  test("incremental image dHash == batch pairs restricted to pairs " +
      "touching a new image") {
    import spark.implicits._
    // solid-color twin BMPs (even/odd doc_ids share a color): solid
    // images of one color hash identically, so the pair structure is
    // known — this test pins the probe/restriction ALGEBRA (the gate's
    // oracle pins hash correctness on real gradients)
    val bmps = (0L until 40L).map { id =>
      val gg = id / 2
      val w = (gg % 5 + 8).toInt
      val h = (gg % 3 + 8).toInt
      id -> graft.ops.Multimodal.syntheticBmp24(w, h,
        ((gg % 200).toInt, (gg * 3 % 200).toInt, (gg * 7 % 200).toInt))
    }.toDF("doc_id", "payload")
    val isNew = Curation.hashBucket(col("doc_id"), "ingest") < lit(3000)
    val newIds = bmps.where(isNew).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(newIds.nonEmpty && newIds.size < 40L, "proper subset required")
    val full = Dedup.imageDHashPairs(bmps, "payload", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expected = full.filter(p => newIds(p._1) || newIds(p._2))
    val inc = Dedup.imageDHashPairsIncremental(bmps, "payload", "doc_id",
        isNew)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(inc == expected, s"inc size ${inc.size} vs ${expected.size}")
    val allNew = Dedup.imageDHashPairsIncremental(bmps, "payload",
        "doc_id", lit(true))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(allNew == full)
  }

  test("wavEnergyHash64 == the hand-computed window-comparison bits") {
    import spark.implicits._
    // 130 samples: enough that all 65 windows are non-empty (2 each)
    val samples = Array.tabulate(130)(i => (i * 37 + 11) % 256)
    val wav = Multimodal.syntheticWav8(8000, samples)
    val junk: Array[Byte] = Array(1, 2, 3)
    val got = Seq((1L, wav), (2L, junk)).toDF("id", "payload")
      .select(col("id"), Multimodal.wavEnergyHash64(col("payload")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getAs[String]("h")).toMap
    // reference: window w = samples[130*w/65, 130*(w+1)/65); bit w =
    // cross-multiplied mean comparison of windows w+1 vs w
    val n = samples.length
    def sums(w: Int): (Long, Long) = {
      val lo = n * w / 65; val hi = n * (w + 1) / 65
      (samples.slice(lo, hi).map(_.toLong).sum, (hi - lo).toLong)
    }
    val want = (0 until 64).map { w =>
      val (e0, l0) = sums(w); val (e1, l1) = sums(w + 1)
      if (e1 * l0 > e0 * l1) '1' else '0'
    }.mkString
    assert(got(1L) == want, s"${got(1L)}\nvs\n$want")
    assert(got(2L) == null, "non-WAV payload must hash to null")
  }

  test("incremental audio energy hash == batch pairs restricted to " +
      "pairs touching a new clip") {
    import spark.implicits._
    // twin clips: even/odd ids share a sample ramp (near-identical
    // energy envelopes), different groups get different slopes
    val wavs = (0L until 40L).map { id =>
      val g = (id / 2).toInt
      val samples = Array.tabulate(130)(i => (7 + g * 2 + i * (2 * g + 3)) % 256)
      if (id % 2 == 1) samples(0) = (samples(0) + 128) % 256
      id -> Multimodal.syntheticWav8(8000, samples)
    }.toDF("doc_id", "payload")
    val isNew = Curation.hashBucket(col("doc_id"), "ingest") < lit(3000)
    val newIds = wavs.where(isNew).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(newIds.nonEmpty && newIds.size < 40, "proper subset required")
    val full = Dedup.audioEnergyHashPairs(wavs, "payload", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(full.exists(p => p._2 - p._1 == 1), "planted twins must pair")
    val expected = full.filter(p => newIds(p._1) || newIds(p._2))
    val inc = Dedup.audioEnergyHashPairsIncremental(wavs, "payload",
        "doc_id", isNew)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(inc == expected)
    val allNew = Dedup.audioEnergyHashPairsIncremental(wavs, "payload",
        "doc_id", lit(true))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(allNew == full)
  }

  test("incremental video temporal hash == batch pairs restricted to " +
      "pairs touching a new clip") {
    import spark.implicits._
    // twin clips: even/odd ids share a per-frame color ramp (same
    // temporal envelope), odd bumps frame 0; 70 frames so every
    // temporal window is non-empty
    val avis = (0L until 40L).map { id =>
      val g = (id / 2).toInt
      val frames = (0 until 70).map { f =>
        val c1 = (5 + g * 3 + f * (2 * g + 5)) % 256
        val bump = if (id % 2 == 1 && f == 0) 128 else 0
        ((c1 + bump) % 256, (11 + f * (g + 7)) % 256, (23 + f * 13) % 256)
      }
      id -> Multimodal.syntheticAvi(4, 2, frames)
    }.toDF("doc_id", "payload")
    val isNew = Curation.hashBucket(col("doc_id"), "ingest") < lit(3000)
    val newIds = avis.where(isNew).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(newIds.nonEmpty && newIds.size < 40, "proper subset required")
    val full = Dedup.videoTemporalHashPairs(avis, "payload", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(full.exists(p => p._2 - p._1 == 1), "planted twins must pair")
    val expected = full.filter(p => newIds(p._1) || newIds(p._2))
    val inc = Dedup.videoTemporalHashPairsIncremental(avis, "payload",
        "doc_id", isNew)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(inc == expected)
    val allNew = Dedup.videoTemporalHashPairsIncremental(avis, "payload",
        "doc_id", lit(true))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(allNew == full)
  }

  test("consistent top-k sample: survivors stable under corpus growth") {
    import spark.implicits._
    def hashed(ids: Seq[Long]) = ids.map(i => (i, s"s${i % 3}"))
      .toDF("doc_id", "stratum")
      .withColumn("h", md5(concat(lit("csample:"),
        col("doc_id").cast("string")).cast("binary")))
    def survivors(ids: Seq[Long]) =
      graft.plans.TopK.topKPerKey(hashed(ids), Seq("stratum"),
          Seq(col("h").asc, col("doc_id").asc), 5)
        .collect().map(r => (r.getString(1), r.getLong(0))).toSet
    val base = survivors(0L until 60L)
    assert(base.groupBy(_._1).forall(_._2.size == 5), "exact k per stratum")
    // growing the corpus can only REPLACE a survivor with a smaller
    // hash, never shuffle the rest: old ∩ new survivors ≥ k-1 per
    // stratum is not guaranteed in general, but determinism is —
    // the same corpus always yields the same sample
    assert(survivors(0L until 60L) == base)
    val grown = survivors(0L until 90L)
    assert(grown.groupBy(_._1).forall(_._2.size == 5))
    // every evicted survivor was evicted by a smaller-hash newcomer,
    // so survivors of the grown corpus restricted to old ids are a
    // subset of the old survivors
    val oldIds = (0L until 60L).toSet
    assert(grown.filter(p => oldIds(p._2)).subsetOf(base))
  }

  test("winnowing: shared-passage guarantee, short-doc cutoff, determinism") {
    import spark.implicits._
    // A and B embed the same 10-token passage at DIFFERENT offsets:
    // >= w+k-1 = 6 shared tokens ⇒ the winnowing theorem guarantees a
    // shared fingerprint (by VALUE; positions differ)
    val passage = (1 to 10).map(i => s"p$i").mkString(" ")
    val df = Seq(
      (1L, s"a1 a2 a3 a4 $passage a5 a6"),
      (2L, s"b1 $passage b2 b3 b4 b5"),
      (3L, (1 to 30).map(i => s"c$i").mkString(" ")),
      (4L, "s1 s2 s3 s4 s5")) // 5 tokens ⇒ m = 3 < w = 4 ⇒ nothing
      .toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(df, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byDoc = fps.groupBy(_._1).map { case (d, g) => d -> g.map(_._3).toSet }
    assert(!byDoc.contains(4L), "short doc must emit no fingerprints")
    assert((byDoc(1L) & byDoc(2L)).nonEmpty,
      "shared >= w+k-1-token passage must share a fingerprint")
    assert((byDoc(3L) & (byDoc(1L) ++ byDoc(2L))).isEmpty,
      "unrelated doc must not collide")
    // density: selections bounded by window count, at least one per doc
    fps.groupBy(_._1).foreach { case (d, g) =>
      val m = df.where(col("doc_id") === d).select(
        size(split(col("text"), " "))).head.getInt(0) - 2
      assert(g.length >= 1 && g.length <= m - 3, s"doc $d density")
    }
    // positions are valid 1-based k-gram indexes
    assert(fps.forall(f => f._2 >= 1))
    // deterministic
    val again = Dedup.winnowFingerprints(df, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(fps.sorted.toSeq == again.sorted.toSeq)
  }

  test("incremental winnow == batch pairs restricted to pairs touching a new doc") {
    val isNew = Curation.hashBucket(col("doc_id"), "ingest") < lit(1000)
    val newIds = docs.where(isNew).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(newIds.nonEmpty && newIds.size < docs.count())
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val fps = Dedup.winnowFingerprints(docs, "text", "doc_id")
      .select(col("id"), col("fp")).distinct()
    val full = pairsOf(fps.select(col("id").as("a"), col("fp"))
      .join(fps.select(col("id").as("b"), col("fp")), "fp")
      .where(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n"))
      .where(col("n") >= 2))
    val expected = full.filter(p => newIds(p._1) || newIds(p._2))
    val inc = pairsOf(Dedup.winnowPairsIncremental(docs, "text", "doc_id", isNew))
    assert(inc == expected, s"inc=$inc expected=$expected")
    val allNew = pairsOf(Dedup.winnowPairsIncremental(docs, "text", "doc_id",
      lit(true)))
    assert(allNew == full)
    assert(full.nonEmpty, "fixture corpus should contain shared passages")
  }

  test("containment catches subset-duplicates that jaccard dilutes") {
    import spark.implicits._
    val long = (1 to 60).map(i => s"w$i").mkString(" ")
    val short = (1 to 12).map(i => s"w$i").mkString(" ") // prefix quote
    val other = (100 to 140).map(i => s"v$i").mkString(" ")
    val df = Seq((1L, long), (2L, short), (3L, other)).toDF("doc_id", "text")
    val cont = Dedup.ngramContainment(df, "text", "doc_id", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // every shingle of the short doc appears in the long one
    assert(cont.toSeq == Seq((1L, 2L, 1.0)), cont.mkString(", "))
    // jaccard misses the same pair at any useful threshold:
    // 10 shared / (58 + 10 - 10) = 0.172
    val jac = Dedup.ngramJaccard(df, "text", "doc_id", threshold = 0.5)
      .collect()
    assert(jac.isEmpty, "jaccard should dilute the subset-dup below 0.5")
  }

  test("simhash: near-dup pairs have small hamming distance") {
    import org.apache.spark.sql.functions.col
    val nearDups = Dedup.ngramJaccard(docs, "text", "doc_id", threshold = 0.95)
      .limit(3).collect()
    assume(nearDups.nonEmpty)
    val fps = Dedup.simhash(docs, "text", "doc_id")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("simhash")).toMap
    nearDups.foreach { r =>
      val d = fps(r.getAs[Long]("a")).zip(fps(r.getAs[Long]("b")))
        .count { case (x, y) => x != y }
      assert(d <= 3, s"near-dup pair should have hamming <= 3, got $d")
    }
    // the column-level hammingDistance agrees with the manual count
    import spark.implicits._
    val pairs = nearDups.map(r =>
      (fps(r.getAs[Long]("a")), fps(r.getAs[Long]("b")))).toSeq
      .toDF("fa", "fb")
      .withColumn("d", Dedup.hammingDistance(col("fa"), col("fb")))
      .collect()
    pairs.foreach { r =>
      val manual = r.getString(0).zip(r.getString(1)).count { case (x, y) => x != y }
      assert(r.getAs[Int]("d") == manual)
    }
  }

  test("simhashPairs: banded join equals all-pairs hamming scan") {
    // exact-equivalence claim: for maxDistance <= bands-1, banding
    // loses nothing (pigeonhole) — verify against a brute-force scan
    // at the DEFAULT config (64-bit Manku, 16-bit band keys)
    val fps = Dedup.simhash(docs, "text", "doc_id", bits = 64, shingleK = 3)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("simhash"))
    val brute = (for {
      (a, fa) <- fps; (b, fb) <- fps if a < b
      d = fa.zip(fb).count { case (x, y) => x != y } if d <= 3
    } yield (a, b, d.toLong)).toSet
    val banded = Dedup.simhashPairs(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded == brute)
    assert(banded.nonEmpty, "corpus should contain simhash near-dups")
  }

  test("simhashPairs: 32-bit small-corpus config stays exact (diagnostic only)") {
    // the 8-bit-band config is quadratic at scale (256 buckets/band)
    // and is never gated — but on a small corpus its pigeonhole
    // exactness still holds, which is what makes it usable as a
    // candidate-ratio diagnostic
    val fps = Dedup.simhash(docs, "text", "doc_id", bits = 32, shingleK = 3)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("simhash"))
    val brute = (for {
      (a, fa) <- fps; (b, fb) <- fps if a < b
      d = fa.zip(fb).count { case (x, y) => x != y } if d <= 3
    } yield (a, b, d.toLong)).toSet
    val banded = Dedup.simhashPairs(docs, "text", "doc_id",
        bits = 32, bands = 4, maxDistance = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded == brute)
  }

  test("128-bit simhash: narrower widths are prefixes; banding stays exact") {
    // chained seeded hashes make every narrower fingerprint a PREFIX
    // of the wider one — widening never invalidates stored fingerprints
    val f64 = Dedup.simhash(docs, "text", "doc_id", bits = 64, shingleK = 3)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("simhash")).toMap
    val f128 = Dedup.simhash(docs, "text", "doc_id", bits = 128, shingleK = 3)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("simhash")).toMap
    assert(f128.keySet == f64.keySet)
    assert(f128.values.forall(_.length == 128))
    f64.foreach { case (id, f) => assert(f128(id).startsWith(f), s"id $id") }
    // pigeonhole exactness at the gated config: 8 bands of 16-bit
    // keys, hamming <= 7
    val brute = (for {
      (a, fa) <- f128.toSeq; (b, fb) <- f128.toSeq if a < b
      d = fa.zip(fb).count { case (x, y) => x != y } if d <= 7
    } yield (a, b, d.toLong)).toSet
    val banded = Dedup.simhashPairs(docs, "text", "doc_id",
        bits = 128, bands = 8, maxDistance = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded == brute)
  }

  test("dedup pipeline: exact tier collapses first, every doc lands in a cluster") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"), // exact dup of 1
      (7L, "alpha beta gamma delta epsilon zeta eta theta"), // exact dup of 1
      (4L, "totally different words entirely here now friend"),
      (5L, "totally different words entirely here now friend"), // exact dup of 4
      (6L, "unrelated singleton content sharing nothing at all"))
      .toDF("doc_id", "text")
    val out = Dedup.dedupPipeline(df, "text", "doc_id", threshold = 0.3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out.keySet == Set(1L, 2L, 4L, 5L, 6L, 7L), "every doc clustered")
    // exact groups collapse onto their min-id representative
    assert(out(1L) == ((1L, true)))
    assert(out(2L) == ((1L, false)) && out(7L) == ((1L, false)))
    assert(out(4L) == ((4L, true)) && out(5L) == ((4L, false)))
    assert(out(6L) == ((6L, true)))
    // keeper flag = "is the cluster minimum", exactly once per cluster
    out.groupBy(_._2._1).foreach { case (cl, members) =>
      assert(members.count(_._2._2) == 1, s"cluster $cl keepers")
      assert(members.keys.min == cl, s"cluster $cl label is its min id")
    }
  }

  test("near-dup LSH bucket count scales with the corpus (not constant)") {
    import spark.implicits._
    // deterministic synthetic vectors: bucket space must GROW with the
    // corpus — the old 6-plane scheme pinned every corpus into 64
    // global buckets, making the bucket self-join all-pairs/64
    def corpus(n: Int): DataFrame = spark.range(n).select(
      col("id").as("vec_id"),
      transform(sequence(lit(1), lit(64)),
        i => (pmod(hash(col("id") * lit(31) + i), lit(1000)).cast("double") / 500.0 - 1.0)
          .cast("float")).as("embedding"))
    def distinctBuckets(n: Int): Long = corpus(n)
      .select(Similarity.lshBucket(col("embedding"), 16).as("b"))
      .agg(countDistinct(col("b"))).head().getLong(0)
    val small = distinctBuckets(200)
    val large = distinctBuckets(3000)
    assert(small > 64, s"16-plane signatures should exceed 64 buckets, got $small")
    assert(large > small, s"bucket count must grow with corpus: $large <= $small")
  }

  test("curation: stable hash split, planted contamination flagged, int8 roundtrip bounded") {
    import spark.implicits._
    val th = Seq("train" -> 9000, "val" -> 9500, "test" -> 10000)
    def splits() = Curation.hashSplit(docs, "doc_id", th)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val s1 = splits()
    assert(s1 == splits(), "split must be deterministic")
    val trainFrac = s1.values.count(_ == "train").toDouble / s1.size
    assert(trainFrac > 0.8 && trainFrac < 0.97, s"train fraction $trainFrac")

    // plant contamination: the benchmark IS one corpus doc's text
    val donor = docs.where(length(col("text")) > 200).limit(1).collect()(0)
    val bench = Seq((999999L, donor.getAs[String]("text"))).toDF("doc_id", "text")
    val flagged = Curation.contaminated(docs, bench, "text", "doc_id", n = 8)
      .collect().map(_.getAs[Long]("id"))
    assert(flagged.contains(donor.getAs[Long]("doc_id")))

    // int8 quantization: codes bounded, reconstruction error <= scale/2
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = Curation.quantizeInt8(e, "vec_id", "embedding")
      .select(col("scale"), col("max_abs_err"),
        expr("aggregate(codes, 127, (acc, v) -> greatest(acc, abs(v)))").as("max_code"))
      .collect()
    q.foreach { r =>
      assert(r.getAs[Int]("max_code") <= 127)
      assert(r.getAs[Double]("max_abs_err") <= r.getAs[Double]("scale") / 2 + 1e-9)
    }
  }

  test("64-bit simhash: wider fingerprints, same near-dup structure") {
    val fp64 = Dedup.simhash(docs, "text", "doc_id", bits = 64, shingleK = 3)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("simhash")).toMap
    assert(fp64.values.forall(_.length == 64))
    // first 32 bits must equal the 32-bit fingerprint (same hash chain)
    val fp32 = Dedup.simhash(docs, "text", "doc_id", bits = 32, shingleK = 3)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("simhash")).toMap
    fp32.foreach { case (id, f) => assert(fp64(id).startsWith(f)) }
  }

  test("salted dedup equals unsalted dedup exactly") {
    val plain = Dedup.exact(docs, "text", "doc_id")
      .orderBy("fp").collect().map(_.toSeq).toSeq
    val salted = Skew.exactDedupSalted(docs, "text", "doc_id", saltFactor = 16)
      .orderBy("fp").collect().map(_.toSeq).toSeq
    assert(plain == salted)
  }

  test("brute-force vs IVF: probed lists contain the true top-1") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.where(col("vec_id").isin(3, 4))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val exact = Similarity.bruteForceTopK(e, q, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ivf = Similarity.ivfTopK(e, q, 5, nlist = 8, nprobe = 4)
      .collect().groupBy(_.getLong(0))
      .map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
    exact.foreach { case (qid, top1) =>
      assert(ivf(qid).contains(top1),
        s"IVF with nprobe=4 should recall the true top-1 for $qid")
    }
  }

  test("IVF-PQ: probing every list equals flat batch ADC; partial probe only prunes") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pred = col("vec_id").isin(0, 1, 2)
    def rows(df: DataFrame) = df.select("qid", "vec_id", "adist", "rk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    // composition pin: with nprobe == nlist the coarse quantizer
    // prunes nothing, so the composed path must equal the flat batch
    // ADC bit-for-bit (same books, same cube, same tie-breaks)
    val flat = rows(Similarity.pqAdcTopKBatch(e, pred, kNN = 5))
    val all = rows(Similarity.ivfPqTopKBatch(e, pred, kNN = 5,
      nlist = 8, nprobe = 8, trainIters = 2))
    assert(all == flat, "nprobe == nlist must reproduce flat ADC exactly")
    // partial probe: scores must agree with the flat ADC scoring on
    // every emitted (qid, vec_id) — probing changes WHICH candidates
    // are scored, never their distances
    val fullScores = Similarity.pqAdcTopKBatch(e, pred, kNN = 10000)
      .select("qid", "vec_id", "adist").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val pruned = Similarity.ivfPqTopKBatch(e, pred, kNN = 5,
      nlist = 8, nprobe = 2, trainIters = 2)
      .select("qid", "vec_id", "adist").collect()
    assert(pruned.nonEmpty)
    pruned.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(fullScores.get(key).contains(r.getDouble(2)),
        s"pruned score for $key disagrees with flat ADC")
    }
  }

  test("semantic dedup: verdicts replay the anchor rule; cap only shrinks the dup set") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = e.count()
    // uncapped (maxAnchors >= any cluster size) = the full SemDeDup
    // rule: dup iff ANY earlier same-cluster vector is >= τ-similar.
    // τ = 0.4: the synthetic embeddings are i.i.d. (no planted dups;
    // max pairwise cosine ~0.48), so production's ~0.95 never fires
    val full = Similarity.semanticDedup(e, 0.4, nlist = 8, trainIters = 2,
      maxAnchors = n.toInt).collect()
    assert(full.length == n, "one verdict row per input vector")
    assert(full.exists(_.getAs[Boolean]("is_dup")),
      "test corpus should contain planted semantic near-dups")
    val vecs = e.collect().map(r => r.getLong(0) ->
      r.getSeq[Number](1).map(_.doubleValue())).toMap
    def cos6(a: Seq[Double], b: Seq[Double]): Double = {
      def dot(x: Seq[Double], y: Seq[Double]) =
        x.zip(y).foldLeft(0.0) { case (s, (p, q)) => s + p * q }
      BigDecimal(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    full.groupBy(_.getAs[Long]("cid")).foreach { case (_, rows) =>
      val ids = rows.map(_.getAs[Long]("vec_id")).sorted
      rows.foreach { r =>
        val id = r.getAs[Long]("vec_id")
        val expect = ids.takeWhile(_ < id)
          .exists(a => cos6(vecs(a), vecs(id)) >= 0.4)
        assert(r.getAs[Boolean]("is_dup") == expect,
          s"verdict for $id should replay the earlier-member rule")
      }
    }
    // the anchor cap is a pure restriction: capped dups ⊆ uncapped dups,
    // same assignments, same row count
    val capped = Similarity.semanticDedup(e, 0.4, nlist = 8, trainIters = 2,
      maxAnchors = 5).collect()
    assert(capped.length == n)
    val fullDups = full.filter(_.getAs[Boolean]("is_dup"))
      .map(_.getAs[Long]("vec_id")).toSet
    val cappedDups = capped.filter(_.getAs[Boolean]("is_dup"))
      .map(_.getAs[Long]("vec_id")).toSet
    assert(cappedDups.subsetOf(fullDups))
    assert(capped.map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cid")).toMap ==
      full.map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cid")).toMap)
  }

  test("multi-table LSH recall >= single-table recall vs brute force") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.where(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    def hits(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 4 planes → 16 buckets over 500 vectors: dense enough that
    // recall is meaningful at this corpus size
    val exact = hits(Similarity.bruteForceTopK(e, q, 3))
    val single = hits(Similarity.lshTopK(e, q, 3, planes = 4))
    val multi = hits(Similarity.lshTopKMultiTable(e, q, 3, planes = 4, tables = 3))
    val rs = (single intersect exact).size
    val rm = (multi intersect exact).size
    assert(rm >= rs, s"multi-table recall $rm < single-table $rs")
    assert(rm > 0)
  }

  test("image header decode: PNG native path and JPEG marker walk") {
    import spark.implicits._
    def be2(v: Int) = Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def be4(v: Int) =
      Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    val png = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
      be4(13) ++ "IHDR".getBytes ++ be4(640) ++ be4(480) ++
      Array[Byte](8, 6, 0, 0, 0)
    val jpeg = Array(0xff, 0xd8).map(_.toByte) ++
      Array(0xff, 0xe0, 0x00, 0x04, 0x4a, 0x46).map(_.toByte) ++ // APP0
      Array(0xff, 0xc0, 0x00, 0x11, 0x08).map(_.toByte) ++       // SOF0
      be2(480) ++ be2(640) ++
      Array[Byte](3, 1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1) ++
      Array(0xff, 0xd9).map(_.toByte)
    assert(Multimodal.jpegDimensions(jpeg).contains((640, 480)))
    assert(Multimodal.jpegDimensions(png).isEmpty)
    val out = Multimodal.decodeDims(
        Seq((1L, png), (2L, jpeg), (3L, "junk".getBytes)).toDF("id", "payload"),
        "payload")
      .orderBy("id").select("img_format", "img_width", "img_height").collect()
    assert(out(0).toSeq == Seq("png", 640L, 480L))
    assert(out(1).toSeq == Seq("jpeg", 640L, 480L))
    assert(out(2).toSeq == Seq(null, null, null))
  }

  test("multimodal: real pixel decode + frame sampling preserve shape contracts") {
    import spark.implicits._
    // pixel-level ground truth: a 5x3 BMP filled with BGR (10, 20, 33)
    // has mean intensity (10+20+33)/3 = 21 exactly; 7x2 with (0,0,255)
    // has mean 85. Garbage and empty payloads take the null-object
    // shape instead of crashing.
    val bmpA = Multimodal.syntheticBmp24(5, 3, (10, 20, 33))
    val bmpB = Multimodal.syntheticBmp24(7, 2, (0, 0, 255))
    val df = Seq(
      ("a", bmpA), ("b", Array.emptyByteArray),
      ("c", "not an image".getBytes("UTF-8")), ("d", bmpB))
      .toDF("id", "payload")

    val meta = Multimodal.withMediaMeta(df, "payload", "image/bmp")
    val m = meta.select("media_meta.*").collect()
    assert(m.forall(_.getAs[String]("mime") == "image/bmp"))
    assert(m.map(_.getAs[Long]("byte_len")).min == 0L)

    val d = Multimodal.decodeImages(df, "payload").collect()
      .map(r => r.getAs[String]("id") -> r).toMap
    assert(d("a").getAs[Int]("img_width") == 5 &&
      d("a").getAs[Int]("img_height") == 3 &&
      d("a").getAs[Int]("img_channels") == 3 &&
      d("a").getAs[Double]("img_score") == 21.0)
    assert(d("d").getAs[Int]("img_width") == 7 &&
      d("d").getAs[Double]("img_score") == 85.0)
    // empty / undecodable payloads decode to the null-object shape
    assert(d("b").getAs[Int]("img_width") == 0)
    assert(d("c").getAs[Int]("img_width") == 0 &&
      d("c").getAs[Double]("img_score") == 0.0)

    val df2 = Seq(("a", "hello world payload")).toDF("id", "s")
      .withColumn("payload", col("s").cast("binary"))

    val frames = Multimodal.sampleFrames(df2, "payload", 4)
    val f = frames.select("frame_idx", "frame_bytes").collect()
    assert(f.map(_.getInt(0)).toSeq == Seq(0, 1, 2, 3))
    assert(f.forall(_.getAs[Array[Byte]]("frame_bytes").length == 19 / 4))
  }

  test("connected components: chains, stars, isolated pairs, empty") {
    import spark.implicits._
    def cc(edges: Seq[(Long, Long)]): Map[Long, Long] =
      Dedup.connectedComponents(edges.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // a 6-node chain is the worst case for label propagation — the
    // alternating-star contraction must still collapse it to root 1
    assert(cc(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))) ==
      (1L to 6L).map(_ -> 1L).toMap)
    // two components + duplicate/reversed edges
    val two = cc(Seq((10L, 20L), (20L, 10L), (20L, 30L), (7L, 8L), (8L, 7L)))
    assert(two == Map(10L -> 10L, 20L -> 10L, 30L -> 10L, 7L -> 7L, 8L -> 7L))
    // star already rooted at min: fixpoint immediately
    assert(cc(Seq((1L, 5L), (1L, 9L), (1L, 7L))) ==
      Map(1L -> 1L, 5L -> 1L, 9L -> 1L, 7L -> 1L))
    assert(cc(Nil).isEmpty)
  }

  test("connected components report their round count (bench scale witness)") {
    import spark.implicits._
    // chain: needs real contraction rounds; star at min: one round to
    // re-orient its edges and one to confirm the fixpoint. The counts
    // are pinned: a rewrite of a round that changed its edge set would
    // move them
    val (chainDf, chainRounds) = Dedup.connectedComponentsWithRounds(
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L)).toDF("a", "b"))
    assert(chainDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      (1L to 6L).map(_ -> 1L).toMap)
    assert(chainRounds == 4)
    val (_, starRounds) = Dedup.connectedComponentsWithRounds(
      Seq((1L, 5L), (1L, 9L)).toDF("a", "b"))
    assert(starRounds == 2)
  }

  test("guards: over-wide hamming fingerprint and exhausted cc iteration cap fail loudly") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 65 bits against width=64 must raise, not silently drop the tail
    val wide = Seq(("1" * 65, "0" * 65)).toDF("fa", "fb")
      .withColumn("d", Dedup.hammingDistance(col("fa"), col("fb"), width = 64))
    val ex = intercept[Exception](wide.collect())
    assert(ex.getMessage.contains("wider than width"),
      s"unexpected failure: ${ex.getMessage}")
    // equal-width still fine through the same guard
    val ok = Seq(("1" * 64, "0" * 64)).toDF("fa", "fb")
      .withColumn("d", Dedup.hammingDistance(col("fa"), col("fb"), width = 64))
      .collect()
    assert(ok.head.getAs[Int]("d") == 64)
    // a zero-iteration budget on a non-trivial graph cannot converge
    val cc = intercept[IllegalStateException](
      Dedup.connectedComponents(Seq((1L, 2L)).toDF("a", "b"), maxIter = 0))
    assert(cc.getMessage.contains("fixpoint"))
  }

  test("connected components match brute force on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(421)
    val edges = (0 until 120).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
    // brute force: repeated relabel-to-min until fixpoint
    var lbl = edges.flatMap { case (a, b) => Seq(a, b) }.distinct.map(n => n -> n).toMap
    var changed = true
    while (changed) {
      changed = false
      edges.foreach { case (a, b) =>
        val m = math.min(lbl(a), lbl(b))
        if (lbl(a) != m) { lbl += a -> m; changed = true }
        if (lbl(b) != m) { lbl += b -> m; changed = true }
      }
    }
    val got = Dedup.connectedComponents(edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == lbl)
  }

  /** Driver-side union-find: every node of a non-self-loop edge →
    * its component's minimum id. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.filter { case (a, b) => a != b }.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      // root = smaller id, so find(x) is the component minimum
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.map(n => n -> find(n)).toMap
  }

  /** Rounds of the large-star / small-star loop on driver-side sets,
    * with the edge sets `connectedComponentsWithRounds` defines: a
    * rewrite of a round's Spark plan that keeps these sets keeps the
    * round count. */
  private def starRounds(edges: Seq[(Long, Long)]): Int = {
    type E = Set[(Long, Long)]
    def mins(e: E): Map[Long, Long] =
      e.groupBy(_._1).map { case (u, es) => u -> es.map(_._2).min }
    def large(e: E): E = {
      val bi = e ++ e.map(_.swap)
      val m = mins(bi)
      bi.collect { case (u, v) if v > u => (v, math.min(u, m(u))) }
    }
    def small(e: E): E = {
      val o = e.map { case (u, v) => (math.max(u, v), math.min(u, v)) }
      val m = mins(o)
      (o.map { case (u, v) => (v, m(u)) } ++ m).filter { case (a, b) => a != b }
    }
    var cur: E = edges.filter { case (a, b) => a != b }.toSet
    var it = 0
    var converged = cur.isEmpty
    while (!converged) {
      val next = small(large(cur))
      converged = next == cur
      cur = next
      it += 1
    }
    it
  }

  test("connected components == driver union-find on seeded random graphs") {
    import spark.implicits._
    val fallbacks0 = Observed.fallbacks.get()
    val rnd = new scala.util.Random(1109)
    def shuffledIds(n: Int): IndexedSeq[Long] =
      rnd.shuffle((1 to n).map(_ => 1L + rnd.nextInt(10000)).distinct)
    def chain(n: Int) = { val ids = shuffledIds(n); ids.zip(ids.tail) }
    def star(n: Int) = {
      val ids = shuffledIds(n); val c = ids.max
      ids.filter(_ != c).map(c -> _)
    }
    def cycle(n: Int) = { val ids = shuffledIds(n); ids.zip(ids.tail :+ ids.head) }
    def noisy(e: Seq[(Long, Long)]) = rnd.shuffle(
      e ++ e.take(e.size / 3).map(_.swap) ++ e.takeRight(e.size / 4) ++
        e.take(3).map { case (a, _) => (a, a) } :+ (20000L, 20000L))
    val graphs: Seq[Seq[(Long, Long)]] =
      Seq(Nil, Seq((5L, 5L)), chain(64), star(40), cycle(30)) ++
        (1 to 18).map { i =>
          val parts = Seq(chain(2 + rnd.nextInt(63)), star(2 + rnd.nextInt(20)),
            cycle(3 + rnd.nextInt(20)), chain(2 + rnd.nextInt(10)))
          val g = parts.take(1 + i % 4).flatten
          if (i % 2 == 0) noisy(g) else g
        }
    graphs.zipWithIndex.foreach { case (g, i) =>
      val (out, rounds) = Dedup.connectedComponentsWithRounds(g.toDF("a", "b"))
      val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == unionFind(g), s"graph $i")
      assert(rounds == starRounds(g), s"graph $i rounds")
    }
    // the fixpoint fingerprint arrived through the observation every
    // round, never through the recompute fallback
    assert(Observed.fallbacks.get() == fallbacks0 && fallbacks0 == 0L)
  }

  test("connected components run one job per round") {
    import spark.implicits._
    val input = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("a", "b")
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      Dedup.connectedComponentsWithRounds(input)
      // the bus delivers in order: once the marker job's start has
      // arrived, every job the call ran has been counted
      sc.setJobDescription("cc-marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!jobs.contains("cc-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(jobs.contains("cc-marker"), "listener bus did not drain in 30 s")
      // the input's checkpoint (one exchange + its job), then for each
      // of the chain's 4 rounds three exchanges + the checkpoint job
      // that observes the fingerprint; a job of its own per round for
      // the fixpoint test would add to it
      assert(jobs.size - 1 == 2 + 4 * 4, s"jobs: ${jobs.size - 1}")
    } finally sc.removeSparkListener(listener)
  }

  test("dedup pipeline == md5 groups + minhash pairs + driver union-find") {
    import spark.implicits._
    val rnd = new scala.util.Random(2211)
    val vocab = (0 until 400).map(i => s"w$i")
    def words(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
    def edit(t: String) = {
      val ws = t.split(" "); ws(rnd.nextInt(ws.length)) = s"edit${rnd.nextInt(1000)}"
      ws.mkString(" ")
    }
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until 200).foreach(_ => texts += words(12).mkString(" "))
    (0 until 40).foreach(_ => texts += texts(rnd.nextInt(200)))      // exact copies
    (0 until 40).foreach(_ => texts += edit(texts(rnd.nextInt(200)))) // one-word edits
    texts += "too short"                                               // < k words
    // an exact group whose representative is a near-dup of another
    // group's representative
    val base = words(30).mkString(" "); val near = edit(base)
    texts ++= Seq(near, base, near, base, near)
    (0 until 12).foreach(_ => texts += texts(rnd.nextInt(texts.size)))
    val ids = rnd.shuffle((1 to texts.size).map(_ * 7L).toIndexedSeq)
    val corpus = ids.zip(texts)
    val df = corpus.toDF("doc_id", "text")

    // model: md5 groups → min-id representatives
    def md5(t: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).toSeq
    val rep = corpus.groupBy { case (_, t) => md5(t) }.values
      .flatMap { g => val r = g.map(_._1).min; g.map(_._1 -> r) }.toMap
    val reps = corpus.filter { case (id, _) => rep(id) == id }
    val pairs = Dedup.minhashLsh(reps.toDF("doc_id", "text"), "text", "doc_id",
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.nonEmpty, "planted edits must yield near-dup pairs")
    val cluster = unionFind(pairs)
    val want = corpus.map { case (id, _) =>
      val c = cluster.getOrElse(rep(id), rep(id)); (id, c, id == c)
    }.toSet
    val got = Dedup.dedupPipeline(df, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got.size == corpus.size)
    assert(got == want)
    // the planted group pair merged into one cluster
    val planted = corpus.filter { case (_, t) => t == base || t == near }.map(_._1)
    assert(got.filter(r => planted.contains(r._1)).map(_._2).size == 1)
  }

  test("decontamination probes the corpus with a broadcast benchmark side") {
    val bench = docs.where(col("doc_id") < 10)
    val corpus = docs.where(col("doc_id") >= 10)
    val hits = Curation.contaminated(corpus, bench, "text", "doc_id")
    hits.write.mode("overwrite").format("noop").save()
    // the benchmark shingle set must arrive as a broadcast hash join —
    // at 100 TB the corpus shingle stream cannot be shuffle-sorted
    val ops = graft.PlanTestHelpers.physicalOps(hits)
    val bhj = ops.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec])
    val smj = ops.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec])
    assert(bhj && !smj, hits.queryExecution.executedPlan.toString)
  }

  test("quality ensemble = first failing tier of its three components") {
    val pos = col("lang") === "en"
    val params = (5L, 10000L, 2.0, 12.0, 0.01, 0.4, 0.6)
    val (mnT, mxT, mnL, mxL, mnS, mxB, mxD) = params
    val ens = Curation.qualityEnsemble(docs, "text", "doc_id", pos,
        mnT, mxT, mnL, mxL, mnS, mxB, mxD)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("reason"), r.getAs[Boolean]("keep")))).toMap
    val gopher = Curation.qualityFilter(docs, "text", "doc_id",
        mnT, mxT, mnL, mxL, mnS, mxB, mxD)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("reason"))
      .toMap
    val ppl = LanguageModel.perplexityBuckets(docs, "text", "doc_id")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("bucket"))
      .toMap
    val clf = Classifier.logOddsScore(docs, "text", "doc_id", pos)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("pred_pos"))
      .toMap
    assert(ens.keySet == gopher.keySet)
    ens.foreach { case (id, (reason, keep)) =>
      val expected =
        if (gopher(id) != "") s"gopher:${gopher(id)}"
        else if (ppl(id) == "tail") "ppl:tail"
        else if (!clf(id)) "classifier:neg"
        else ""
      assert(reason == expected, s"doc $id: $reason != $expected")
      assert(keep == reason.isEmpty)
    }
    // the fixture corpus must actually exercise more than one tier
    val reasons = ens.values.map(_._1).toSet
    assert(reasons.size >= 3, s"degenerate fixture: $reasons")
  }

  test("quality filter: rules fire in order, first failure names the reason") {
    import spark.implicits._
    val long = (1 to 30).map(i => s"the word$i").mkString(" ") // healthy doc
    val df = Seq(
      (1L, long),                                   // passes everything
      (2L, "tiny doc"),                             // too few tokens
      (3L, (1 to 30).map(_ => "a b").mkString(" ")), // short tokens + no 'the'
      (4L, (1 to 30).map(_ => "the extraordinarily phenomenal").mkString(" ")),
      (5L, "the " + (1 to 29).map(_ => "same bigram same").mkString(" ")),
      // "the" appears ONLY inside words: substring counting (the old
      // rule) would keep this; token-boundary Gopher counting drops it
      (6L, (1 to 10).map(i => s"there lathe soothe brothers heathen wk$i")
        .mkString(" ")))
      .toDF("doc_id", "text")
    val out = Curation.qualityFilter(df, "text", "doc_id",
        minTokens = 16, maxTokens = 100000,
        minMeanTokLen = 3.0, maxMeanTokLen = 8.0,
        minStopRatio = 0.01,
        maxTopBigramFrac = 0.18, maxDupTrigramFrac = 0.2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("keep"), r.getAs[String]("reason")))).toMap
    assert(out(1L) == ((true, "")))
    assert(out(2L) == ((false, "too_few_tokens")))
    // doc 3 fails BOTH mean_tok_len and stopword — the earlier rule names it
    assert(out(3L) == ((false, "mean_tok_len")))
    assert(out(4L) == ((false, "mean_tok_len")))
    assert(!out(5L)._1 && out(5L)._2.endsWith("repetition"), out(5L).toString)
    assert(out(6L) == ((false, "low_stopword_ratio")), out(6L).toString)
  }

  test("stratified sample: deterministic, per-stratum rates honored") {
    val rates = Map("en" -> 0, "de" -> 10000)
    val s1 = Curation.stratifiedSample(docs, "lang", "doc_id", rates, 5000)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val s2 = Curation.stratifiedSample(docs, "lang", "doc_id", rates, 5000)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1 == s2, "same seed must keep the same documents")
    val byLang = docs.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("lang")).toMap
    assert(!s1.exists(byLang(_) == "en"), "0 bp stratum must drop everything")
    val de = byLang.count(_._2 == "de")
    assert(s1.count(byLang(_) == "de") == de, "10000 bp stratum keeps all")
    // default-rate strata keep a plausible fraction (hash buckets are
    // uniform; 50% ± wide slack on a small corpus)
    val rest = byLang.count(kv => kv._2 != "en" && kv._2 != "de")
    val kept = s1.count(id => byLang(id) != "en" && byLang(id) != "de")
    assert(kept > rest / 4 && kept < rest * 3 / 4, s"$kept of $rest")
  }

  test("weighted sample: keep-rate tracks the per-document score") {
    import org.apache.spark.sql.functions.{col, lit}
    val kept = Curation.weightedSample(docs, "doc_id",
        col("n_chars") * lit(25)).collect()
    // score and bucket honor the keep rule row-by-row
    kept.foreach { r =>
      assert(r.getAs[Long]("bucket") < r.getAs[Long]("score_bp"))
      assert(r.getAs[Long]("score_bp") ==
        math.min(10000L, r.getAs[Long]("n_chars") * 25))
    }
    // deterministic
    val again = Curation.weightedSample(docs, "doc_id",
        col("n_chars") * lit(25)).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(again == kept.map(_.getAs[Long]("doc_id")).toSet)
    // scores of 0 and 10000 are hard guarantees, not probabilities
    val all = Curation.weightedSample(docs, "doc_id", lit(10000)).count()
    val none = Curation.weightedSample(docs, "doc_id", lit(0)).count()
    assert(all == docs.count() && none == 0)
    // aggregate keep-rate ≈ mean score (uniform buckets; wide slack)
    val expected = docs.select((least(lit(10000), col("n_chars") * 25))
        .cast("long")).collect().map(_.getLong(0)).sum / 10000.0
    assert(kept.length > expected / 2 && kept.length < expected * 2,
      s"kept ${kept.length}, expected ~$expected")
  }

  test("sequence packing: next-fit invariants per lane") {
    val out = Curation.packSequences(docs, "text", "doc_id",
        budget = 128L, numLanes = 4)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(out.length == docs.count())
    out.groupBy(_._2).foreach { case (_, laneRows) =>
      val ordered = laneRows.sortBy(_._1)
      // recompute next-fit serially and demand identical assignment
      var pack = -1L; var used = 0L
      ordered.foreach { case (id, _, n, gotPack) =>
        if (pack < 0 || used + n > 128L) { pack += 1; used = 0L }
        used += n
        assert(gotPack == pack, s"doc $id")
      }
      // packs are dense from 0 and (except possibly the last of each
      // run) could not have absorbed their successor's first doc
      assert(ordered.map(_._4).distinct.sorted.zipWithIndex.forall {
        case (p, i) => p == i.toLong
      })
    }
  }

  test("WAV decode reads back an independently-encoded header exactly") {
    import spark.implicits._
    // ByteBuffer encoder (little-endian writes) vs expression decoder
    // (hex/conv byte reads) — two independent code paths
    val samples = Array(0, 255, 128, 7, 42, 99, 200, 1)
    val wav = Multimodal.syntheticWav8(11025, samples)
    val truncated = wav.take(20) // not a decodable WAV
    val df = Seq((1L, wav), (2L, truncated)).toDF("id", "payload")
    val got = Multimodal.decodeWav(df, "payload").orderBy("id").collect()
    val ok = got(0)
    assert(ok.getAs[Long]("wav_channels") == 1L)
    assert(ok.getAs[Long]("wav_sample_rate") == 11025L)
    assert(ok.getAs[Long]("wav_bits") == 8L)
    assert(ok.getAs[Long]("wav_n_samples") == samples.length.toLong)
    assert(ok.getAs[Long]("wav_duration_ms") ==
      samples.length.toLong * 1000 / 11025)
    val expMean = BigDecimal(samples.map(_.toLong).sum.toDouble / samples.length)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(ok.getAs[Double]("wav_mean_amp") == expMean)
    // non-WAV payloads decode to null fields, not garbage or a crash
    assert(got(1).isNullAt(got(1).fieldIndex("wav_sample_rate")))
  }

  test("WAV frame extraction: true PCM frame means, partial tail dropped") {
    import spark.implicits._
    val samples = (0 until 20).map(i => (i * 11 + 3) % 256).toArray
    val wav = Multimodal.syntheticWav8(8000, samples)
    val got = Multimodal.wavFrames8(Seq((1L, wav)).toDF("id", "payload"),
        "payload", frameSamples = 8)
      .orderBy("frame_idx").collect()
    assert(got.length == 2, "20 samples = 2 full 8-sample frames, tail dropped")
    got.zipWithIndex.foreach { case (r, f) =>
      assert(r.getAs[Long]("frame_idx") == f.toLong)
      val exp = BigDecimal(samples.slice(f * 8, f * 8 + 8).map(_.toLong).sum.toDouble / 8)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Double]("frame_mean_amp") == exp, s"frame $f")
    }
    // a non-WAV payload explodes to zero frames, not garbage
    val none = Multimodal.wavFrames8(
      Seq((1L, wav.take(10))).toDF("id", "payload"), "payload", 8)
    assert(none.count() == 0)
  }

  test("k-means-trained IVF centroids move to the true cluster centers") {
    import spark.implicits._
    // three tight, well-separated direction clusters, interleaved so the
    // ordered-prefix seed lands one seed per cluster; training must pull
    // each centroid off its single seed point onto the cluster MEAN
    val axes = Seq(Seq(10.0, 0.0, 0.0, 0.0), Seq(0.0, 10.0, 0.0, 0.0),
      Seq(0.0, 0.0, 10.0, 0.0))
    def jitter(base: Seq[Double], i: Int): Seq[Double] =
      base.zipWithIndex.map { case (v, d) => v + 0.01 * ((i + d) % 5) }
    val vecs = (0 until 24).map(i => (i.toLong, jitter(axes(i % 3), i)))
    val corpus = vecs.toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(corpus, nlist = 3, iters = 5)
    def cos(x: Seq[Double], y: Seq[Double]): Double = {
      val dot = x.zip(y).map { case (p, q) => p * q }.sum
      dot / (math.sqrt(x.map(v => v * v).sum) * math.sqrt(y.map(v => v * v).sum))
    }
    axes.foreach { ax =>
      // each axis direction is captured by some trained centroid...
      assert(cents.exists { case (_, ce) => cos(ax, ce) > 0.999 },
        s"no centroid captured axis $ax: $cents")
    }
    // ...and every centroid MOVED off its seed vector (training ran)
    val seeds = vecs.take(3).map(_._2).toSet
    cents.foreach { case (cid, ce) =>
      assert(!seeds.contains(ce), s"centroid $cid never left its seed")
    }
    // and training is idempotent-deterministic (same data → same model)
    assert(cents == Similarity.kmeansCentroids(corpus, nlist = 3, iters = 5))
  }

  test("trained IVF matches brute-force top-1 on the embeddings corpus") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.where(col("vec_id").isin(3, 4))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val exact = Similarity.bruteForceTopK(e, q, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ivf = Similarity.ivfTopK(e, q, 5, nlist = 8, nprobe = 4, trainIters = 3)
      .collect().groupBy(_.getLong(0))
      .map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
    exact.foreach { case (qid, top1) =>
      assert(ivf(qid).contains(top1),
        s"trained IVF should find brute-force top-1 $top1 for query $qid")
    }
  }

  test("ivf list sizes: every vector lands in exactly one inverted list") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = e.count()
    val sizes = Similarity.ivfListSizes(e, nlist = 8, trainIters = 3)
      .collect().map(r => (r.get(0), r.getLong(1)))
    // a partition of the corpus: sizes sum to the corpus, every list
    // non-empty would be ideal but is data-dependent — non-negative and
    // at most nlist lists is the contract
    assert(sizes.map(_._2).sum == n)
    assert(sizes.length <= 8 && sizes.forall(_._2 > 0))
    // same quantizer as the search path: deterministic across calls
    val again = Similarity.ivfListSizes(e, nlist = 8, trainIters = 3)
      .collect().map(r => (r.get(0), r.getLong(1)))
    assert(sizes.sortBy(_.toString).toSeq == again.sortBy(_.toString).toSeq)
  }

  test("forward as-of: next event, inclusive, bounded, tie to smallest id") {
    import spark.implicits._
    val left = Seq((1L, 10L, 100L), (1L, 15L, 120L), (1L, 20L, 200L),
      (2L, 30L, 100L)).toDF("k", "lid", "t")
    val right = Seq((1L, 7L, 100L), (1L, 9L, 100L), (1L, 8L, 150L),
      (2L, 5L, 5000L)).toDF("k", "rid", "rt")
    val out = AsOfJoin.asofJoinForward(left, right, "k", "t", "rt", "rid",
        Seq("rid"), tolerance = Some(1000L))
      .select("lid", "asof_rid").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(out(10L) == 7L, "equal time is inclusive; (k,time) tie keeps smallest rid")
    assert(out(15L) == 8L, "next right row forward in time")
    assert(out(20L) == -1L, "no right row at or after the left time")
    assert(out(30L) == -1L, "next right row lies beyond the tolerance")
  }

  test("z-order key interleaves bits; layout clusters both dimensions") {
    import spark.implicits._
    // 3 = 011b, 5 = 101b → even bits from a, odd from b:
    // a:1,1,0 → positions 0,2 ; b:1,0,1 → positions 1,5 → 1|2|4|32 = 39
    val z = Seq((3L, 5L)).toDF("a", "b")
      .select(Curation.zValue(col("a"), col("b")).as("z")).head().getLong(0)
    assert(z == 39L, s"zValue(3,5) = $z")
    // a z-ordered layout keeps each range partition tight in BOTH
    // dimensions: per-partition bounding boxes cover a small fraction
    // of the full (a, b) domain, which is what makes min/max stats
    // prune two-column predicates
    val n = 1 << 12
    val grid = (0 until n).map(i => ((i * 2654435761L) % 64, (i * 40503L) % 64))
      .toDF("a", "b")
    val parts = Curation.zOrderBy(grid, "a", "b", numPartitions = 16, bits = 6)
      .select(spark_partition_id().as("p"), col("a"), col("b"))
      .groupBy("p").agg(max("a") - min("a") as "aw", max("b") - min("b") as "bw")
      .collect()
    val meanArea = parts.map(r => (r.getLong(1) + 1.0) * (r.getLong(2) + 1.0)).sum / parts.length
    assert(meanArea < 64.0 * 64.0 / 4,
      s"z-ordered partitions should be locally tight, mean box area $meanArea")
  }

  test("AVI frame extraction: real RIFF chunk walk, exact frame means") {
    import spark.implicits._
    // ByteBuffer encoder vs expression/UDF decoder — independent paths
    val avi = Multimodal.syntheticAvi(4, 3, Seq((10, 20, 30), (255, 0, 5)))
    val got = Multimodal.aviFrames(Seq((1L, avi)).toDF("id", "payload"), "payload")
      .orderBy("frame_idx").collect()
    assert(got.length == 2)
    assert(got(0).getAs[Int]("frame_w") == 4)
    assert(got(0).getAs[Int]("frame_h") == 3)
    def mean(c: (Int, Int, Int)) =
      BigDecimal((c._1 + c._2 + c._3) / 3.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(0).getAs[Double]("frame_mean") == mean((10, 20, 30)))
    assert(got(1).getAs[Double]("frame_mean") == mean((255, 0, 5)))
    // truncated container → zero frames, never garbage
    assert(Multimodal.aviFrames(
      Seq((1L, avi.take(10))).toDF("id", "payload"), "payload").count() == 0)
  }

  test("NN resize samples exactly the mapped source pixels, both axes") {
    import spark.implicits._
    // independent ByteBuffer encoder: 5×3 gradient BMP, value = f(x, fileRow)
    val (w, h) = (5, 3)
    def ch(x: Int, fy: Int, m2: Int, m3: Int) = (40 + x * m2 + fy * m3) % 256
    val rowSize = (w * 3 + 3) / 4 * 4
    val buf = java.nio.ByteBuffer.allocate(54 + rowSize * h)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(54 + rowSize * h)
      .putInt(0).putInt(54)
      .putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(rowSize * h).putInt(2835).putInt(2835)
      .putInt(0).putInt(0)
    (0 until h).foreach { fy =>
      (0 until w).foreach { x =>
        buf.put(ch(x, fy, 13, 3).toByte)
          .put(ch(x, fy, 5, 7).toByte)
          .put(ch(x, fy, 11, 17).toByte)
      }
      (w * 3 until rowSize).foreach(_ => buf.put(0.toByte))
    }
    val (dw, dh) = (4, 2)
    // manual NN on the top-down image grid; image row y = file row h-1-y
    def s(x: Int, y: Int) = {
      val sx = x * w / dw
      val fy = h - 1 - (y * h / dh)
      ch(sx, fy, 13, 3) + ch(sx, fy, 5, 7) + ch(sx, fy, 11, 17)
    }
    val expTotal = (for (y <- 0 until dh; x <- 0 until dw) yield s(x, y)).sum.toLong
    val got = graft.ops.Multimodal.resizeImages(
        Seq((1L, buf.array()), (2L, "junk".getBytes)).toDF("id", "payload"),
        "payload", dw, dh)
      .orderBy("id").collect()
    assert(got(0).getAs[Int]("out_w") == dw && got(0).getAs[Int]("out_h") == dh)
    assert(got(0).getAs[Long]("tl_sum") == s(0, 0).toLong)
    assert(got(0).getAs[Long]("br_sum") == s(dw - 1, dh - 1).toLong)
    val expMean = BigDecimal(expTotal.toDouble / (3.0 * dw * dh))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(0).getAs[Double]("resized_mean") == expMean)
    // non-image payloads yield nulls, never garbage
    assert(got(1).isNullAt(got(1).fieldIndex("resized_mean")))
  }

  test("AVI declaring an avih payload beyond the buffer yields None, not a crash") {
    // a crafted container whose chunk sizes parse but whose declared
    // 40-byte avih payload does not exist — the dim reads at payload
    // bytes 32/36 would index past the buffer without the bounds guard
    val out = java.nio.ByteBuffer.allocate(32)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(24)
      .put("AVI ".getBytes("US-ASCII"))
    out.put("LIST".getBytes("US-ASCII")).putInt(12)
      .put("hdrl".getBytes("US-ASCII"))
    out.put("avih".getBytes("US-ASCII")).putInt(40) // payload absent
    assert(Multimodal.aviFrameIndex(out.array()).isEmpty)
    // and every truncation of a well-formed container stays a None
    val avi2 = Multimodal.syntheticAvi(4, 2, Seq((1, 2, 3)))
    (0 until avi2.length).foreach { k =>
      assert(Multimodal.aviFrameIndex(avi2.take(k)).isEmpty, s"take($k)")
    }
  }

  test("non-canonical WAV layouts decode to null, not fixed-offset garbage") {
    import spark.implicits._
    // an 18-byte extensible fmt chunk shifts every later field by two
    // bytes; the canonical-layout pin must reject it outright
    val n = 4
    val out = java.nio.ByteBuffer.allocate(46 + n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(38 + n)
      .put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(18)
      .putShort(1).putShort(1).putInt(8000).putInt(8000)
      .putShort(1).putShort(8)
      .putShort(0) // cbSize = 0 extension
    out.put("data".getBytes("US-ASCII")).putInt(n)
    (1 to n).foreach(s => out.put(s.toByte))
    val canonical = Multimodal.syntheticWav8(8000, Array(1, 2, 3, 4))
    val got = Multimodal.decodeWav(
        Seq((1L, canonical), (2L, out.array())).toDF("id", "payload"), "payload")
      .orderBy("id").collect()
    assert(got(0).getAs[Long]("wav_sample_rate") == 8000L)
    assert(got(1).isNullAt(got(1).fieldIndex("wav_sample_rate")))
    assert(got(1).isNullAt(got(1).fieldIndex("wav_mean_amp")))
  }

  test("PQ codes pick each subvector's nearest trained centroid") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val m = 4
    val books = Similarity.pqTrain(e, m = m, k = 8, iters = 2)
    assert(books.length == m && books.forall(_.length == 8))
    // training is deterministic
    assert(books == Similarity.pqTrain(e, m = m, k = 8, iters = 2))
    val vecs = e.orderBy(col("vec_id")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    val codes = Similarity.pqCodes(e, m = m, k = 8, iters = 2).collect()
    assert(codes.length == vecs.size)
    codes.take(50).foreach { r =>
      val v = vecs(r.getLong(0))
      val sub = v.length / m
      (0 until m).foreach { s =>
        val xs = v.slice(s * sub, s * sub + sub)
        // independent check: naive sum-of-squares distances; the chosen
        // centroid must be within rounding noise of the true minimum
        def l2(c: Seq[Double]) = xs.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
        val chosen = l2(books(s)(r.getLong(1 + s).toInt))
        val best = books(s).map(l2).min
        assert(chosen <= best + 1e-6, s"vec ${r.getLong(0)} subspace $s")
      }
    }
  }

  test("hash-sampled quantizer training: deterministic, distinct from prefix mode") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // the md5-bucket sample is pure id arithmetic: same corpus, same
    // centroids, every run
    val a = Similarity.kmeansCentroids(e, nlist = 3, iters = 2, sampleMode = "hash")
    val b = Similarity.kmeansCentroids(e, nlist = 3, iters = 2, sampleMode = "hash")
    assert(a == b)
    // and it trains on a genuinely different sample than the id prefix
    val p = Similarity.kmeansCentroids(e, nlist = 3, iters = 2)
    assert(a.map(_._2) != p.map(_._2))
    // the sample itself is ~HashSampleBuckets/10000 of the corpus
    val frac = e.where(graft.ops.Curation.hashBucket(col("vec_id"),
        Similarity.HashSampleSeed) < lit(Similarity.HashSampleBuckets))
      .count().toDouble / e.count()
    assert(frac > 0.1 && frac < 0.3, s"hash sample fraction $frac")
  }

  test("batch PQ-ADC equals the per-query union, from one corpus scan") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pred = pmod(col("vec_id"), lit(50)) === 3
    val ids = e.where(pred).select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(ids.length >= 5, s"want a real batch, got ${ids.length}")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    val batch = Similarity.pqAdcTopKBatch(e, pred, kNN = 5, m = 4, k = 8,
      iters = 2)
    val union = Similarity.pqAdcTopK(e, ids, kNN = 5, m = 4, k = 8,
      iters = 2)
    assert(rows(batch) == rows(union))
    // the whole point: ONE scan of the codes/corpus regardless of Q
    // (the query-vector collect is a separate bounded job)
    val scans = graft.PlanTestHelpers.physicalOps(batch).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.length == 1, batch.queryExecution.executedPlan.toString)
    // rank comes from the heap pass — no window operator re-sorting
    // survivors the heap already ordered
    assert(!graft.PlanTestHelpers.physicalOps(batch).exists {
      case _: org.apache.spark.sql.execution.window.WindowExec => true
      case _ => false
    }, batch.queryExecution.executedPlan.toString)
  }

  test("batch PQ-ADC at production-ish geometry (k=64) with a bounded sample") {
    // the bench's prod smoke runs m=8/k=256 at sf0.1; this pins the
    // same path (wide codebooks, typed-literal cube, bounded training
    // sample) at a spec-sized geometry: complete well-formed top-k
    // per query, deterministic across calls
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pred = pmod(col("vec_id"), lit(100)) === 3
    val q = e.where(pred).count()
    assert(q >= 3)
    def run() = Similarity.pqAdcTopKBatch(e, pred, kNN = 3, m = 8, k = 64,
        iters = 1, maxSample = 200)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    val got = run()
    assert(got.size == q * 3, s"${got.size} rows for $q queries")
    got.groupBy(_._1).foreach { case (qid, rs) =>
      assert(rs.map(_._4) == Set(1L, 2L, 3L), s"ranks for $qid")
      assert(rs.forall(_._3 >= 0.0), s"negative ADC distance for $qid")
    }
    // trained constants are deterministic → so is the whole query
    assert(run() == got)
  }

  test("range join by bucketization equals the brute-force theta join") {
    import spark.implicits._
    // edge cases: empty interval (hi <= lo), inclusive lo / exclusive
    // hi boundaries, an interval spanning many buckets
    val ivRows = Seq((0L, 10L, 25L), (1L, 24L, 24L), (2L, 0L, 3L),
      (3L, 30L, 180L), (4L, 150L, 150L))
    val pts = (0L until 200L by 7L).map(Tuple1(_)).toDF("p")
    val iv = ivRows.toDF("iid", "lo", "hi")
    val got = RangeJoin.pointInInterval(pts, iv, "p", "lo", "hi", bucketWidth = 16L)
      .select("p", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = (for {
      p <- 0L until 200L by 7L
      (iid, lo, hi) <- ivRows
      if p >= lo && p < hi
    } yield (p, iid)).toSet
    assert(brute.nonEmpty)
    assert(got == brute, s"got=$got brute=$brute")
  }

  test("language id prefers the language whose markers dominate") {
    import spark.implicits._
    val df = Seq(
      ("the cat and the dog is a pet", "en"),
      ("der hund und die katze ist das tier", "de"),
      ("el perro es la casa de que", "es"),
      ("le chat et la maison les des", "fr"),
      ("nothing matching here xyzzy", "und"))
      .toDF("text", "expected")
    val got = df.withColumn("pred", TextAnalysis.langId(col("text"))).collect()
    got.foreach(r =>
      assert(r.getAs[String]("pred") == r.getAs[String]("expected"),
        r.getAs[String]("text")))
  }

  test("priority sample: engine priorities equal the driver-side " +
      "w/u formula exactly; budgets and ranks hold per stratum") {
    import spark.implicits._
    val rows = (0L until 30L).map(i =>
      (i, if (i % 2 == 0) "a" else "b", 1L + (i * 37) % 900))
    val df = rows.toDF("doc_id", "lang", "n_chars")
    val got = Curation.prioritySample(df, "lang", "doc_id",
        col("n_chars"), k = 5, seed = "psample")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
    // driver-side mirror: same md5 hex → same exact dyadic u → the
    // SAME correctly-rounded double division
    val md = java.security.MessageDigest.getInstance("MD5")
    def uOf(id: Long): Double = {
      val hex = md.digest(s"psample:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      (java.lang.Long.parseLong(hex, 16).toDouble + 0.5) / 4294967296.0
    }
    val want = rows.groupBy(_._2).flatMap { case (lang, rs) =>
      rs.map { case (id, _, w) => (id, lang, math.max(w.toDouble, 1.0) / uOf(id)) }
        .sortBy { case (id, _, p) => (-p, id) }
        .take(5).zipWithIndex
        .map { case ((id, l, p), i) => (id, l, p, (i + 1).toLong) }
    }.toSet
    assert(got.toSet == want)
    assert(got.count(_._2 == "a") == 5 && got.count(_._2 == "b") == 5)
  }

  test("mrr/p@k: pure neighborhoods read 1.0/1.0; lone label reads 0") {
    import spark.implicits._
    val rows =
      (0L until 6L).map(i => (i, Seq(1.0 + 0.01 * i, 0.0), 1)) ++
      (6L until 12L).map(i => (i, Seq(0.0, 1.0 + 0.01 * i), 2)) ++
      Seq((12L, Seq(-1.0, -1.0), 3))
    val df = rows.toDF("vec_id", "embedding", "label")
    val out = Ranking.mrrPrecisionAtK(df, col("vec_id").isin(0, 6, 12),
        k = 5)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out(0L) === ((1L, 1.0, 1.0)))
    assert(out(6L) === ((1L, 1.0, 1.0)))
    assert(out(12L) === ((0L, 0.0, 0.0)))
  }

  test("simhashBandRows == simhashBandKeys joined back to fp (the " +
      "one-pass carried-fingerprint banding is a pure refactor)") {
    // includes a null fingerprint: band rows must still emit one row
    // per band with null bkey (dropped by equi-joins / the seed
    // filter), identical to the join form's null-slice rows
    import spark.implicits._
    val fp = Seq(
      (1L, "1010110010101100"), (2L, "1010110010101101"),
      (3L, null.asInstanceOf[String]), (4L, "0000111100001111"))
      .toDF("id", "simhash")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "band", "bkey", "simhash").collect()
        .map(r => (r.get(0), r.get(1), r.get(2), r.get(3))).toSet
    val onePass = rows(Dedup.simhashBandRows(fp, 16, 4))
    val joined = rows(
      Dedup.simhashBandKeys(fp, 16, 4).join(fp, Seq("id")))
    assert(onePass == joined, s"one-pass=$onePass joined=$joined")
    assert(onePass.size == 16, "4 ids x 4 bands (null slices included)")
  }
}
