package graft.ops

import graft.streaming.GenIndex
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Pins the persistent, generation-addressed IVF-PQ index
  * ([[AnnIndex]]):
  *
  *  - SAME ANSWER: a query through the persisted index reproduces the
  *    in-session [[Similarity.ivfPqTopKBatch]] exactly (same trained
  *    constants, same ADC arithmetic) — persistence changes where the
  *    codes live, never what a query returns.
  *  - APPEND INVARIANCE: the frozen-model discipline means any
  *    batching of the arrivals (one append vs three, with a
  *    generational compaction in between) yields identical queries.
  *  - PRUNING IS REAL: with nprobe < nlist the query's candidates are
  *    confined to the probed lists — unprobed lists' vectors never
  *    appear, which is the semantic witness that the read was bounded
  *    by the probe set, not the corpus.
  *  - GENERATIONS: compaction flips the manifest to a new generation,
  *    retention bounds the directory count, and the rewrite leaves
  *    one file per inverted list.
  */
class AnnIndexSpec extends AnyFunSuite with graft.TempDirs with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // deterministic 8-dim corpus, clustered enough for a 4-list coarse
  // quantizer to be non-degenerate
  private val Dims = 8
  private def vec(i: Long): Seq[Double] =
    (0 until Dims).map(j => ((i * 7 + j * 3) % 11 - 5).toDouble)
  private val ids: Seq[Long] = 0L until 40L
  private def corpus = {
    import spark.implicits._
    ids.map(i => (i, vec(i))).toDF("vec_id", "embedding")
  }
  private val NewIds: Set[Long] = ids.filter(_ % 5 == 4).toSet
  private val Geom = (4, 2, 4, 4, 2) // nlist, trainIters, m, k, pqIters

  private def qVecs: Seq[(Long, Seq[Double])] =
    Seq(0L, 1L, 2L).map(i => (i, vec(i)))

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet

  test("persisted full-corpus index reproduces the in-session IVF-PQ batch") {
    val (nlist, ti, m, k, pi) = Geom
    val want = rows(Similarity.ivfPqTopKBatch(corpus,
      queryPred = col("vec_id").isin(0, 1, 2), kNN = 3, nlist = nlist,
      nprobe = 2, trainIters = ti, m = m, k = k, iters = pi))
    val root = tempDir("annix-spec-")
    try {
      AnnIndex.seed(corpus, root.toString, nlist = nlist, trainIters = ti,
        m = m, k = k, pqIters = pi)
      val got = rows(AnnIndex.queryBatch(spark, root.toString, qVecs,
        kNN = 3, nprobe = 2))
      assert(got == want,
        s"persisted query diverged from in-session IVF-PQ:\n$got\nvs\n$want")
    } finally graft.core.Fs.deleteRecursively(root.toFile)
  }

  test("filtered query == post-filtered full ranking; allow-all == unfiltered") {
    import spark.implicits._
    val (nlist, ti, m, k, pi) = Geom
    val allowedSet = ids.filter(_ % 3 != 0).toSet
    val root = tempDir("annix-spec-")
    try {
      AnnIndex.seed(corpus, root.toString, nlist = nlist, trainIters = ti,
        m = m, k = k, pqIters = pi)
      // full probed ranking (kNN = corpus size), post-filter, re-rank:
      // scoring is per-candidate independent, so this must equal the
      // pre-filtered query's output exactly (same probe set both ways)
      val full = AnnIndex.queryBatch(spark, root.toString, qVecs,
          kNN = ids.size, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val want = full.filter(t => allowedSet(t._2)).groupBy(_._1).toSeq
        .flatMap { case (_, rws) =>
          rws.sortBy(t => (t._3, t._2)).take(3).zipWithIndex
            .map { case ((q, id, d), i) => (q, id, d, (i + 1).toLong) }
        }.toSet
      val got = rows(AnnIndex.queryBatch(spark, root.toString, qVecs,
        kNN = 3, nprobe = 2,
        allowed = Some(allowedSet.toSeq.toDF("vec_id"))))
      assert(got == want, s"filtered=$got postFiltered=$want")
      assert(got.forall(t => allowedSet(t._2)), "disallowed id scored")
      // the allow-everything filter must be a no-op
      val allowAll = rows(AnnIndex.queryBatch(spark, root.toString,
        qVecs, kNN = 3, nprobe = 2, allowed = Some(ids.toDF("vec_id"))))
      val unfiltered = rows(AnnIndex.queryBatch(spark, root.toString,
        qVecs, kNN = 3, nprobe = 2))
      assert(allowAll == unfiltered)
    } finally graft.core.Fs.deleteRecursively(root.toFile)
  }

  test("refined persisted query reproduces the in-session refine batch") {
    val (nlist, ti, m, k, pi) = Geom
    val want = rows(Similarity.ivfPqRefineTopKBatch(corpus,
      queryPred = col("vec_id").isin(0, 1, 2), kNN = 3, rerank = 6,
      nlist = nlist, nprobe = 2, trainIters = ti, m = m, k = k,
      iters = pi))
    val root = tempDir("annix-spec-")
    try {
      AnnIndex.seed(corpus, root.toString, nlist = nlist, trainIters = ti,
        m = m, k = k, pqIters = pi)
      val got = rows(AnnIndex.queryBatchRefined(spark, root.toString,
        corpus, qVecs, kNN = 3, rerank = 6, nprobe = 2))
      assert(got == want,
        s"persisted refine diverged from in-session refine:\n$got\nvs\n$want")
    } finally graft.core.Fs.deleteRecursively(root.toFile)
  }

  test("sq8 codec: persisted index reproduces the in-session IVF+SQ8 " +
      "batch, survives append+compact, and persists its codec") {
    val (nlist, ti, m, k, pi) = Geom
    val want = rows(Similarity.ivfSq8TopKBatch(corpus,
      queryPred = col("vec_id").isin(0, 1, 2), kNN = 3, nlist = nlist,
      nprobe = 2, trainIters = ti))
    val root = tempDir("annsq8-spec-")
    try {
      AnnIndex.seed(corpus, root.toString, nlist = nlist, trainIters = ti,
        m = m, k = k, pqIters = pi, codec = "sq8")
      val got = rows(AnnIndex.queryBatch(spark, root.toString, qVecs,
        kNN = 3, nprobe = 2))
      assert(got == want,
        s"persisted sq8 query diverged from in-session:\n$got\nvs\n$want")
      // a compaction rewrites the generation — codec marker and answer
      // must carry over
      AnnIndex.compact(spark, root.toString)
      val after = rows(AnnIndex.queryBatch(spark, root.toString, qVecs,
        kNN = 3, nprobe = 2))
      assert(after == want, "compaction changed the sq8 answer")
      // and appends encode with the frozen per-vector quantizer
      import spark.implicits._
      val extra = Seq((100L, vec(100L))).toDF("vec_id", "embedding")
      AnnIndex.append(extra, root.toString)
      val withNew = rows(AnnIndex.queryBatch(spark, root.toString, qVecs,
        kNN = 40, nprobe = nlist))
      assert(withNew.exists(_._2 == 100L),
        "appended vector must be queryable under the sq8 codec")
    } finally graft.core.Fs.deleteRecursively(root.toFile)
  }

  test("bq codec: all-lists-probed persisted index + refine reproduces " +
      "the in-session flat binary-hamming batch; codec survives " +
      "compact and append") {
    val (nlist, ti, m, k, pi) = Geom
    // with nprobe == nlist every candidate is probed, so the Hamming
    // survivor set — and therefore the refined answer — must equal
    // the flat in-session scan bit-for-bit
    val want = rows(Similarity.binaryHammingRefineTopKBatch(corpus,
      queryPred = col("vec_id").isin(0, 1, 2), kNN = 3, rerank = 10,
      dims = Dims))
    val root = tempDir("annbq-spec-")
    try {
      AnnIndex.seed(corpus, root.toString, nlist = nlist, trainIters = ti,
        m = m, k = k, pqIters = pi, codec = "bq")
      val got = rows(AnnIndex.queryBatchRefined(spark, root.toString,
        corpus, qVecs, kNN = 3, rerank = 10, nprobe = nlist))
      assert(got == want,
        s"persisted bq+refine diverged from the flat scan:\n$got\nvs\n$want")
      AnnIndex.compact(spark, root.toString)
      val after = rows(AnnIndex.queryBatchRefined(spark, root.toString,
        corpus, qVecs, kNN = 3, rerank = 10, nprobe = nlist))
      assert(after == want, "compaction changed the bq answer")
      import spark.implicits._
      val extra = Seq((100L, vec(100L))).toDF("vec_id", "embedding")
      AnnIndex.append(extra, root.toString)
      // raw bq queryBatch scores are LONG hammings (not doubles) —
      // collect ids only
      val withNew = AnnIndex.queryBatch(spark, root.toString, qVecs,
        kNN = 40, nprobe = nlist).collect().map(_.getLong(1)).toSet
      assert(withNew.contains(100L),
        "appended vector must be queryable under the bq codec")
    } finally graft.core.Fs.deleteRecursively(root.toFile)
  }

  test("opq model: persisted index reproduces the in-session rotated " +
      "IVF-PQ chain; raw queries are rotated by the index itself") {
    val (nlist, ti, m, k, pi) = Geom
    val t = 6
    // in-session equivalent: rotate the corpus, run the standard
    // chain — its query batch comes out of the ROTATED corpus
    val rot = Similarity.opqRotate(corpus, "embedding", "embedding", t, Dims)
    val want = rows(Similarity.ivfPqTopKBatch(rot,
      queryPred = col("vec_id").isin(0, 1, 2), kNN = 3, nlist = nlist,
      nprobe = 2, trainIters = ti, m = m, k = k, iters = pi))
    val root = tempDir("annopq-spec-")
    try {
      AnnIndex.seed(corpus, root.toString, nlist = nlist, trainIters = ti,
        m = m, k = k, pqIters = pi, opqSteps = t, opqDims = Dims)
      // queryBatch takes RAW vectors — the _opq marker makes the index
      // rotate them with the bit-identical driver-side mirror
      val got = rows(AnnIndex.queryBatch(spark, root.toString, qVecs,
        kNN = 3, nprobe = 2))
      assert(got == want,
        s"persisted opq query diverged from in-session:\n$got\nvs\n$want")
      AnnIndex.compact(spark, root.toString)
      val after = rows(AnnIndex.queryBatch(spark, root.toString, qVecs,
        kNN = 3, nprobe = 2))
      assert(after == want, "compaction changed the opq answer")
    } finally graft.core.Fs.deleteRecursively(root.toFile)
  }

  test("model-state composition: opq composes with the sq8 codec and " +
      "with residual encoding — persisted == in-session-rotated") {
    val (nlist, ti, m, k, pi) = Geom
    val t = 6
    val rot = Similarity.opqRotate(corpus, "embedding", "embedding", t, Dims)
    // sq8 × opq
    val wantSq8 = rows(Similarity.ivfSq8TopKBatch(rot,
      queryPred = col("vec_id").isin(0, 1, 2), kNN = 3, nlist = nlist,
      nprobe = 2, trainIters = ti))
    val r1 = tempDir("annsq8opq-spec-")
    try {
      AnnIndex.seed(corpus, r1.toString, nlist = nlist, trainIters = ti,
        m = m, k = k, pqIters = pi, codec = "sq8", opqSteps = t,
        opqDims = Dims)
      val got = rows(AnnIndex.queryBatch(spark, r1.toString, qVecs,
        kNN = 3, nprobe = 2))
      assert(got == wantSq8, s"sq8×opq diverged:\n$got\nvs\n$wantSq8")
    } finally graft.core.Fs.deleteRecursively(r1.toFile)
    // residual × opq
    val wantRes = rows(Similarity.ivfPqResidualTopKBatch(rot,
      queryPred = col("vec_id").isin(0, 1, 2), kNN = 3, nlist = nlist,
      nprobe = 2, trainIters = ti, m = m, k = k, iters = pi))
    val r2 = tempDir("annresopq-spec-")
    try {
      AnnIndex.seed(corpus, r2.toString, nlist = nlist, trainIters = ti,
        m = m, k = k, pqIters = pi, residual = true, opqSteps = t,
        opqDims = Dims)
      val got = rows(AnnIndex.queryBatch(spark, r2.toString, qVecs,
        kNN = 3, nprobe = 2))
      assert(got == wantRes, s"residual×opq diverged:\n$got\nvs\n$wantRes")
    } finally graft.core.Fs.deleteRecursively(r2.toFile)
    // bq × opq: the Hamming stage runs on sign bits of the ROTATED
    // vectors on both paths, so with all lists probed the SURVIVOR
    // SET must match the flat in-session scan over the rotated corpus
    // exactly (integer data — no fp tolerance). The refine tail then
    // scores in the ORIGINAL space (rotation-invariant mathematically
    // but not bitwise, so cosines are pinned per-path, not across the
    // rotated/original spaces: the flat mirror refines rotated, the
    // index refines original — only the set is cross-comparable).
    val flatBq = rows(Similarity.binaryHammingRefineTopKBatch(rot,
      queryPred = col("vec_id").isin(0, 1, 2), kNN = 10, rerank = 10,
      dims = Dims))
    val r3 = tempDir("annbqopq-spec-")
    try {
      AnnIndex.seed(corpus, r3.toString, nlist = nlist, trainIters = ti,
        m = m, k = k, pqIters = pi, codec = "bq", opqSteps = t,
        opqDims = Dims)
      val got = rows(AnnIndex.queryBatchRefined(spark, r3.toString,
        corpus, qVecs, kNN = 10, rerank = 10, nprobe = nlist))
      val flatSurv = flatBq.map(r => (r._1, r._2))
      val gotSurv = got.map(r => (r._1, r._2))
      assert(gotSurv == flatSurv,
        s"bq×opq survivor set diverged:\n$gotSurv\nvs\n$flatSurv")
    } finally graft.core.Fs.deleteRecursively(r3.toFile)
  }

  test("append batching + generational compaction never change the answer") {
    val (nlist, ti, m, k, pi) = Geom
    import spark.implicits._
    val old = corpus.where(!col("vec_id").isin(NewIds.toSeq: _*))
    val nw = corpus.where(col("vec_id").isin(NewIds.toSeq: _*))

    def build(chunks: Seq[Seq[Long]], compactAfter: Int): Set[(Long, Long, Double, Long)] = {
      val root = tempDir("annix-spec-")
      try {
        AnnIndex.seed(old, root.toString, nlist = nlist, trainIters = ti,
          m = m, k = k, pqIters = pi)
        chunks.zipWithIndex.foreach { case (chunk, i) =>
          AnnIndex.append(nw.where(col("vec_id").isin(chunk: _*)),
            root.toString)
          if (i == compactAfter)
            AnnIndex.compact(spark, root.toString, targetFiles = 4)
        }
        rows(AnnIndex.queryBatch(spark, root.toString, qVecs,
          kNN = 3, nprobe = 2))
      } finally graft.core.Fs.deleteRecursively(root.toFile)
    }

    val one = build(Seq(NewIds.toSeq.sorted), compactAfter = -1)
    val three = build(NewIds.toSeq.sorted.grouped(3).toSeq, compactAfter = 0)
    assert(one == three,
      s"append batching / compaction changed the answer:\n$one\nvs\n$three")
    // and new vectors actually reached the index: at least one query
    // neighbor set mentions a NewIds member OR the old-only build
    // differs (the split was chosen so it does)
    val oldOnly = {
      val root = tempDir("annix-spec-")
      try {
        AnnIndex.seed(old, root.toString, nlist = nlist, trainIters = ti,
          m = m, k = k, pqIters = pi)
        rows(AnnIndex.queryBatch(spark, root.toString, qVecs,
          kNN = 3, nprobe = 2))
      } finally graft.core.Fs.deleteRecursively(root.toFile)
    }
    assert(one != oldOnly, "appends were invisible to the query")
  }

  test("reseed == fresh seed of the same corpus, with old-generation " +
      "reader safety during the flip") {
    val (nlist, ti, m, k, pi) = Geom
    import spark.implicits._
    val old = corpus.where(!col("vec_id").isin(NewIds.toSeq: _*))
    val nw = corpus.where(col("vec_id").isin(NewIds.toSeq: _*))
    // fresh seed of the FULL corpus — the reseed equality target
    val want = {
      val root = tempDir("annix-spec-")
      try {
        AnnIndex.seed(corpus, root.toString, nlist = nlist, trainIters = ti,
          m = m, k = k, pqIters = pi)
        rows(AnnIndex.queryBatch(spark, root.toString, qVecs,
          kNN = 3, nprobe = 2))
      } finally graft.core.Fs.deleteRecursively(root.toFile)
    }
    val root = tempDir("annix-spec-")
    try {
      AnnIndex.seed(old, root.toString, nlist = nlist, trainIters = ti,
        m = m, k = k, pqIters = pi)
      AnnIndex.append(nw, root.toString)
      // a reader that resolved the manifest BEFORE the flip: its
      // generation's model + codes must stay readable and answer
      // identically after the reseed has published (retain=1 keeps it)
      val preGen = GenIndex.currentGen(root.toString)
      val preFlip = rows(AnnIndex.queryBatch(spark, root.toString, qVecs,
        kNN = 3, nprobe = 2))
      AnnIndex.reseed(corpus, root.toString, nlist = nlist,
        trainIters = ti, m = m, k = k, pqIters = pi)
      assert(GenIndex.currentGen(root.toString) != preGen,
        "reseed must flip to a new generation")
      // old-generation read-back: the pre-flip generation is intact
      assert(spark.read.parquet(s"$preGen/codes").count() == ids.length,
        "pre-flip generation's codes were disturbed by the reseed")
      // the reseeded index == a fresh seed of the same corpus
      val got = rows(AnnIndex.queryBatch(spark, root.toString, qVecs,
        kNN = 3, nprobe = 2))
      assert(got == want,
        s"reseed diverged from a fresh seed:\n$got\nvs\n$want")
      // and the refresh is REAL: the old-split-trained index answered
      // differently (the split is chosen so training sees the drift)
      assert(got != preFlip || preFlip == want,
        "reseed was a no-op on a drifted corpus")
    } finally graft.core.Fs.deleteRecursively(root.toFile)
  }

  test("reseed x codec: sq8, bq and opq reseed == a fresh seed of the " +
      "same corpus (reseed is codec-generic, one trainModel behind both)") {
    val (nlist, ti, m, k, pi) = Geom
    // generic row form: bq scores are LONG hammings, pq/sq8 doubles —
    // stringify so one comparator pins every codec bit-for-bit
    def gRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet
    val old = corpus.where(!col("vec_id").isin(NewIds.toSeq: _*))
    val nw = corpus.where(col("vec_id").isin(NewIds.toSeq: _*))
    for ((label, codec, opqSteps) <- Seq(
        ("sq8", "sq8", 0), ("bq", "bq", 0), ("opq", "pq", 6))) {
      val want = {
        val root = tempDir("annrsx-spec-")
        try {
          AnnIndex.seed(corpus, root.toString, nlist = nlist,
            trainIters = ti, m = m, k = k, pqIters = pi, codec = codec,
            opqSteps = opqSteps, opqDims = Dims)
          gRows(AnnIndex.queryBatch(spark, root.toString, qVecs,
            kNN = 3, nprobe = 2))
        } finally graft.core.Fs.deleteRecursively(root.toFile)
      }
      val root = tempDir("annrsx-spec-")
      try {
        AnnIndex.seed(old, root.toString, nlist = nlist, trainIters = ti,
          m = m, k = k, pqIters = pi, codec = codec,
          opqSteps = opqSteps, opqDims = Dims)
        AnnIndex.append(nw, root.toString)
        AnnIndex.reseed(corpus, root.toString, nlist = nlist,
          trainIters = ti, m = m, k = k, pqIters = pi, codec = codec,
          opqSteps = opqSteps, opqDims = Dims)
        val got = gRows(AnnIndex.queryBatch(spark, root.toString, qVecs,
          kNN = 3, nprobe = 2))
        assert(got == want,
          s"$label reseed diverged from a fresh seed:\n$got\nvs\n$want")
      } finally graft.core.Fs.deleteRecursively(root.toFile)
    }
  }

  test("reseed refuses to shrink the index unless explicitly allowed") {
    val (nlist, ti, m, k, pi) = Geom
    val root = tempDir("annshr-spec-")
    try {
      AnnIndex.seed(corpus, root.toString, nlist = nlist, trainIters = ti,
        m = m, k = k, pqIters = pi)
      val stale = corpus.where(col("vec_id") < 20)
      val ex = intercept[IllegalArgumentException] {
        AnnIndex.reseed(stale, root.toString, nlist = nlist,
          trainIters = ti, m = m, k = k, pqIters = pi)
      }
      assert(ex.getMessage.contains("shrink"),
        s"unexpected failure message: ${ex.getMessage}")
      // count-equality is NOT enough: a stale snapshot that DROPS 20
      // live ids but carries 20 new ones has the same cardinality as
      // the live set, yet the 20 old vectors would vanish at the flip
      // — the guard is an exact id-set check, so it must still refuse
      val swapped = {
        import spark.implicits._
        corpus.where(col("vec_id") >= 20).unionByName(
          (100L until 120L).map(i => (i, vec(i))).toDF("vec_id", "embedding"))
      }
      assert(swapped.count() == corpus.count(), "test geometry drifted")
      val ex2 = intercept[IllegalArgumentException] {
        AnnIndex.reseed(swapped, root.toString, nlist = nlist,
          trainIters = ti, m = m, k = k, pqIters = pi)
      }
      assert(ex2.getMessage.contains("shrink"),
        s"count-equal swap was not refused: ${ex2.getMessage}")
      // the refused reseed must not have flipped the manifest: the
      // live index still answers with the full corpus
      val full = AnnIndex.queryBatch(spark, root.toString, qVecs,
        kNN = 40, nprobe = nlist).collect().map(_.getLong(1)).toSet
      assert(full.exists(_ >= 20), "refused reseed disturbed the index")
      // and explicitly allowed, the shrink publishes
      AnnIndex.reseed(stale, root.toString, nlist = nlist,
        trainIters = ti, m = m, k = k, pqIters = pi, allowShrink = true)
      val after = AnnIndex.queryBatch(spark, root.toString, qVecs,
        kNN = 40, nprobe = nlist).collect().map(_.getLong(1)).toSet
      assert(after.forall(_ < 20), "allowed shrink did not publish")
    } finally graft.core.Fs.deleteRecursively(root.toFile)
  }

  test("generations: manifest flip, retention bound, one file per list") {
    val (nlist, ti, m, k, pi) = Geom
    val root = tempDir("annix-spec-")
    try {
      AnnIndex.seed(corpus, root.toString, nlist = nlist, trainIters = ti,
        m = m, k = k, pqIters = pi)
      val before = rows(AnnIndex.queryBatch(spark, root.toString, qVecs,
        kNN = 3, nprobe = 2))
      AnnIndex.compact(spark, root.toString, targetFiles = 4, retain = 0)
      assert(GenIndex.currentGen(root.toString).endsWith("gen-00001"))
      // retain=0 keeps only the live generation
      val gens = root.toFile.listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("gen-")).map(_.getName)
      assert(gens.sameElements(Array("gen-00001")), gens.mkString(","))
      val gen = GenIndex.currentGen(root.toString)
      val filesPerList = spark.read.parquet(s"$gen/codes")
        .select(col("ivf_cid"), input_file_name().as("f")).distinct()
        .groupBy(col("ivf_cid")).agg(count(lit(1)).as("n"))
        .agg(max(col("n"))).collect().head.getLong(0)
      assert(filesPerList == 1L,
        s"compaction left $filesPerList files in a list directory")
      val after = rows(AnnIndex.queryBatch(spark, root.toString, qVecs,
        kNN = 3, nprobe = 2))
      assert(after == before, "compaction changed the answer")
    } finally graft.core.Fs.deleteRecursively(root.toFile)
  }

  test("at-least-once replay: a double-appended batch changes nothing, " +
      "and compaction absorbs the duplicate rows") {
    val (nlist, ti, m, k, pi) = Geom
    import spark.implicits._
    val old = corpus.where(!col("vec_id").isin(NewIds.toSeq: _*))
    val nw = corpus.where(col("vec_id").isin(NewIds.toSeq: _*))
    val root = tempDir("annix-spec-")
    try {
      AnnIndex.seed(old, root.toString, nlist = nlist, trainIters = ti,
        m = m, k = k, pqIters = pi)
      AnnIndex.append(nw, root.toString)
      val want = rows(AnnIndex.queryBatch(spark, root.toString, qVecs,
        kNN = 3, nprobe = 2))
      // the replay: the same batch appended AGAIN (a foreachBatch
      // retry after a crash between the append and its checkpoint
      // commit) — queries must not let the duplicate rows double-fill
      // a top-k
      AnnIndex.append(nw, root.toString)
      val replay = rows(AnnIndex.queryBatch(spark, root.toString, qVecs,
        kNN = 3, nprobe = 2))
      assert(replay == want, "replayed append changed query results")
      // compaction absorbs the duplicates globally: row count drops to
      // the distinct vector count, results still unchanged
      AnnIndex.compact(spark, root.toString, targetFiles = 4)
      val gen = GenIndex.currentGen(root.toString)
      val n = spark.read.parquet(s"$gen/codes").count()
      assert(n == ids.size.toLong,
        s"compaction left $n code rows for ${ids.size} vectors")
      val after = rows(AnnIndex.queryBatch(spark, root.toString, qVecs,
        kNN = 3, nprobe = 2))
      assert(after == want, "compaction after replay changed results")
    } finally graft.core.Fs.deleteRecursively(root.toFile)
  }

  test("residual model: persisted IVFADC reproduces the in-session " +
      "residual batch, appends included") {
    val (nlist, ti, m, k, pi) = Geom
    import spark.implicits._
    val want = rows(Similarity.ivfPqResidualTopKBatch(corpus,
      queryPred = col("vec_id").isin(0, 1, 2), kNN = 3, nlist = nlist,
      nprobe = 2, trainIters = ti, m = m, k = k, iters = pi))
    val old = corpus.where(!col("vec_id").isin(NewIds.toSeq: _*))
    val nw = corpus.where(col("vec_id").isin(NewIds.toSeq: _*))
    // full-corpus seed must equal the in-session residual batch
    val root1 = tempDir("annix-spec-")
    try {
      AnnIndex.seed(corpus, root1.toString, nlist = nlist, trainIters = ti,
        m = m, k = k, pqIters = pi, residual = true)
      val got = rows(AnnIndex.queryBatch(spark, root1.toString, qVecs,
        kNN = 3, nprobe = 2))
      assert(got == want,
        s"persisted residual query diverged from in-session:\n$got\nvs\n$want")
    } finally graft.core.Fs.deleteRecursively(root1.toFile)
    // and the frozen residual model is append/compaction-invariant
    val root2 = tempDir("annix-spec-")
    try {
      AnnIndex.seed(old, root2.toString, nlist = nlist, trainIters = ti,
        m = m, k = k, pqIters = pi, residual = true)
      AnnIndex.append(nw, root2.toString)
      val one = rows(AnnIndex.queryBatch(spark, root2.toString, qVecs,
        kNN = 3, nprobe = 2))
      AnnIndex.compact(spark, root2.toString, targetFiles = 4)
      val after = rows(AnnIndex.queryBatch(spark, root2.toString, qVecs,
        kNN = 3, nprobe = 2))
      assert(after == one, "compaction changed residual results")
    } finally graft.core.Fs.deleteRecursively(root2.toFile)
  }

  test("tombstone deletes: queries mask, compaction applies physically, " +
      "delete wins within a generation, re-insert after compaction works") {
    val (nlist, ti, m, k, pi) = Geom
    import spark.implicits._
    val root = tempDir("annix-spec-")
    try {
      AnnIndex.seed(corpus, root.toString, nlist = nlist, trainIters = ti,
        m = m, k = k, pqIters = pi)
      val before = rows(AnnIndex.queryBatch(spark, root.toString, qVecs,
        kNN = 3, nprobe = 2))
      // victims: two ids that actually appear in the results, so the
      // mask is observable (never a query id — those self-exclude)
      val victims = before.map(_._2)
        .filter(v => !Set(0L, 1L, 2L).contains(v)).toSeq.sorted.take(2)
      assert(victims.size == 2, s"fixture: need 2 result ids, got $victims")
      AnnIndex.delete(victims.toDF("vec_id"), root.toString)
      val masked = rows(AnnIndex.queryBatch(spark, root.toString, qVecs,
        kNN = 3, nprobe = 2))
      assert(!masked.exists(r => victims.contains(r._2)),
        s"tombstoned ids still appear: $masked")
      // removing candidates only PROMOTES the rest: every surviving
      // pre-delete pair must still be present
      val surviving = before.filter(r => !victims.contains(r._2))
        .map(r => (r._1, r._2))
      assert(surviving.subsetOf(masked.map(r => (r._1, r._2))),
        "masking dropped a non-victim result")
      // compaction applies tombstones physically and clears them
      AnnIndex.compact(spark, root.toString)
      val gen = GenIndex.currentGen(root.toString)
      assert(!graft.core.Fs.hadoopExists(s"$gen/tombs"),
        "compaction must not carry tombstones into the new generation")
      assert(spark.read.parquet(s"$gen/codes")
        .where(col("vec_id").isin(victims: _*)).count() == 0,
        "compaction must physically remove tombstoned rows")
      val after = rows(AnnIndex.queryBatch(spark, root.toString, qVecs,
        kNN = 3, nprobe = 2))
      assert(after == masked, "physical removal changed the answer")
      // delete-wins: an append AFTER the delete is still masked until
      // a compaction separates them
      val resId = victims.head
      AnnIndex.delete(Seq(resId).toDF("vec_id"), root.toString)
      AnnIndex.append(corpus.where(col("vec_id") === resId), root.toString)
      val stillMasked = rows(AnnIndex.queryBatch(spark, root.toString,
        qVecs, kNN = 3, nprobe = 2))
      assert(!stillMasked.exists(_._2 == resId),
        "delete must win over a later append within a generation")
      // re-insert AFTER compaction behaves as a fresh id: resId was in
      // the pre-delete results (victims were drawn from them) and the
      // frozen model encodes it identically, so it must reappear; the
      // other victim stays gone
      AnnIndex.compact(spark, root.toString)
      AnnIndex.append(corpus.where(col("vec_id") === resId), root.toString)
      val resurrected = rows(AnnIndex.queryBatch(spark, root.toString,
        qVecs, kNN = 3, nprobe = 2))
      assert(resurrected.exists(_._2 == resId),
        "re-insert after compaction must restore the id's candidacy")
      assert(!resurrected.exists(_._2 == victims(1)),
        "the undeleted victim must stay gone")
      assert(before.filter(_._2 == resId).map(r => (r._1, r._2))
          .subsetOf(resurrected.map(r => (r._1, r._2))),
        "re-inserted id must recover its pre-delete pairings")
    } finally graft.core.Fs.deleteRecursively(root.toFile)
  }

  test("the probe bounds the read: unprobed lists' vectors never score") {
    val (nlist, ti, m, k, pi) = Geom
    val root = tempDir("annix-spec-")
    try {
      AnnIndex.seed(corpus, root.toString, nlist = nlist, trainIters = ti,
        m = m, k = k, pqIters = pi)
      val gen = GenIndex.currentGen(root.toString)
      val assign = spark.read.parquet(s"$gen/codes")
        .select(col("vec_id"), col("ivf_cid")).collect()
        .map(r => r.getLong(0) -> r.getAs[Number](1).longValue()).toMap
      assert(assign.values.toSet.size >= 2,
        "fixture degenerate: all vectors in one list")
      // nprobe=1: each query's results must come from exactly one list
      val got = AnnIndex.queryBatch(spark, root.toString, qVecs,
        kNN = 10, nprobe = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val listsPerQuery = got.groupBy(_._1)
        .map { case (q, xs) => q -> xs.map(x => assign(x._2)).toSet }
      assert(listsPerQuery.values.forall(_.size == 1),
        s"nprobe=1 results span multiple lists: $listsPerQuery")
    } finally graft.core.Fs.deleteRecursively(root.toFile)
  }
}
