package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale (100 TB) text corpora.
  *
  * All operators are pure DataFrame transformations: shuffles only on
  * content hashes / band buckets (never on document ids), map-side
  * combine everywhere, no driver-side loops. Where an operator still
  * exposes a `hasher` (exact / chunk dedup), `md5` is the default so
  * an external SQL oracle reproduces the exact values; production at
  * scale can pass `xxhash64String` (codegen'd, no hex-string
  * materialization). The minhash/simhash tiers fix md5 — their word
  * slicing assumes a 32-hex-char digest, and a shorter pluggable hash
  * would fail silently (NULL words), not loudly.
  */
object Dedup {

  /** Hash used by default where speed matters (Spark-native xxhash64). */
  def xxhash64String(c: Column): Column = xxhash64(c).cast("string")

  /** Hash used where DuckDB must mirror values exactly. */
  def md5String(c: Column): Column = md5(c.cast("binary"))

  /** Exact dedup: group by content hash, keep the minimum id.
    * One shuffle on the 128-bit hash; group sizes are tiny (true dup
    * clusters), so no skew handling needed.
    */
  def exact(df: DataFrame, textCol: String, idCol: String,
      hasher: Column => Column = md5String): DataFrame =
    df.groupBy(hasher(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("dups"))

  /** Distinct word k-shingles per document.
    * Output: (id, sh). Row count ≈ tokens × 1; the distinct is a
    * map-side-combinable aggregation on (id, sh).
    */
  def wordShingles(df: DataFrame, textCol: String, idCol: String, k: Int): DataFrame =
    wordShinglesAll(df, textCol, idCol, k).distinct()

  /** [[wordShingles]] WITHOUT the distinct — every shingle occurrence,
    * no shuffle. For consumers that aggregate after a further join
    * (decontamination), deduplicating the full corpus explode first
    * would be a corpus-wide shuffle for nothing.
    */
  def wordShinglesAll(df: DataFrame, textCol: String, idCol: String, k: Int): DataFrame = {
    val toks = split(col(textCol), " ")
    val shingle = concat_ws(" ",
      (0 until k).map(j => element_at(col("t"), col("i") + j)): _*)
    df.select(col(idCol).as("id"), toks.as("t"))
      // sequence(1, n) with n < 1 yields a DESCENDING array, not an
      // empty one — guard short documents with an empty array instead.
      .withColumn("i", explode(
        when(size(col("t")) >= k, sequence(lit(1), size(col("t")) - (k - 1)))
          .otherwise(array().cast("array<int>"))))
      .select(col("id"), shingle.as("sh"))
  }

  /** Modulus for the derived minhash seeds (2³¹ − 1). */
  val MinhashPrime = 2147483647L

  /** Per-seed affine coefficients (c1..c4, d), all odd and < 2²⁰ —
    * deterministic so the SQL oracle regenerates the identical table.
    * With the digest words < 2²⁸, every term stays < 2⁴⁸ and the sum
    * < 2⁵¹: exact in 64-bit integer arithmetic on any engine.
    */
  val MinhashCoefs: IndexedSeq[Array[Long]] =
    (0 until 8).map { j =>
      Array.tabulate(5)(i => ((1000003L * (j * 5 + i + 1)) % 1048573L) | 1L)
    }

  /** Offsets of the four 7-hex-digit (28-bit) words sliced from the
    * md5 hex digest. */
  val MinhashWordOffsets: Seq[Int] = Seq(1, 8, 15, 22)

  /** MinHash signatures: for each of `numHashes` seeded hash functions,
    * the min hash value over the document's shingle set. One aggregation
    * with `numHashes` min() columns — a single shuffle on id, partial
    * aggregation on the map side (this is what makes it 100 TB-safe:
    * signature size is O(numHashes), independent of document length).
    *
    * The seeds are DERIVED, not re-hashed: ONE md5 per shingle, whose
    * hex digest is sliced into four 28-bit words mixed affinely per
    * seed mod 2³¹−1 (Broder-style minwise via universal hashing over a
    * single strong hash). The previous formulation hashed `"$j:" + sh`
    * per seed — `numHashes` full md5 passes over the corpus shingles,
    * which WAS the dominant CPU of the whole LSH family at 10×; the
    * derived form does one pass and eight multiply-adds, and min() now
    * compares longs instead of 32-char strings.
    */
  def minhashSignatures(shingles: DataFrame, numHashes: Int): DataFrame = {
    require(numHashes <= MinhashCoefs.size,
      s"numHashes $numHashes exceeds the ${MinhashCoefs.size}-seed table")
    // fixed md5: the word slicing below assumes a 32-hex-char digest —
    // a pluggable shorter hasher would yield empty substrings → NULL
    // words → NULL signatures with no error (the pre-r11 hasher
    // parameter was dropped for exactly that silent-failure mode)
    val hx = md5String(col("sh"))
    val words = shingles.select(col("id") +:
      MinhashWordOffsets.zipWithIndex.map { case (off, i) =>
        conv(substring(hx, off, 7), 16, 10).cast("long").as(s"u${i + 1}")
      }: _*)
    def hj(j: Int): Column = {
      val c = MinhashCoefs(j)
      pmod(lit(c(0)) * col("u1") + lit(c(1)) * col("u2") +
        lit(c(2)) * col("u3") + lit(c(3)) * col("u4") + lit(c(4)),
        lit(MinhashPrime))
    }
    words.groupBy(col("id"))
      .agg(min(hj(0)).as("h0"),
        (1 until numHashes).map(j => min(hj(j)).as(s"h$j")): _*)
  }

  /** (id, band, bkey) band rows for LSH candidate joins. The key is a
    * delimiter-joined decimal rendering of the band's hash values
    * (unambiguous, engine-portable). */
  def bandKeys(signatures: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    // one pass (posexplode over the per-band key array), not a union
    // of per-band selects — the union form scanned `signatures` once
    // per band (see simhashBandKeys)
    signatures.select(col("id"),
      posexplode(array((0 until bands).map { b =>
        concat_ws(":", (0 until rowsPerBand)
          .map(r => col(s"h${b * rowsPerBand + r}").cast("string")): _*)
      }: _*)).as(Seq("band", "bkey")))

  /** LSH banding: candidate pairs = documents agreeing on ALL rows of
    * at least one band. Shuffle is on (band index, band key) — uniform
    * by construction (hash values), so no skew.
    */
  def minhashCandidates(signatures: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val banded = bandKeys(signatures, bands, rowsPerBand)
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("a"), col("b.id").as("b"))
      .distinct()
  }

  /** Exact Jaccard for given candidate pairs, via an inverted-index
    * join on shingles (never materializes document contents twice).
    *
    * The shingle table is first SEMI-JOINED down to documents that
    * appear in some candidate pair: banding leaves most of the corpus
    * in no pair at all, so the verify join's input shrinks from
    * O(corpus shingles) to O(candidate-doc shingles) — each kept
    * document keeps ALL its shingle rows, so sizes and intersections
    * (hence Jaccard) are unchanged. AQE broadcasts the candidate-id
    * set when small and falls back to a shuffled semi-join when not,
    * so the restriction itself stays scale-safe.
    */
  def jaccardForCandidates(candidates: DataFrame, shingles: DataFrame): DataFrame =
    overlapForCandidates(candidates, shingles)
      .withColumn("jaccard",
        round(col("ni").cast("double") / (col("na") + col("nb") - col("ni")), 6))
      .select(col("a"), col("b"), col("jaccard"))

  /** ONE candidate-verify pair plan behind [[jaccardForCandidates]]
    * and [[containmentForCandidates]] (the shingleOverlap discipline:
    * measures differ in one arithmetic column, so they must share the
    * pair generation or silently diverge): restricted shingles, each
    * row carrying its document's shingle count `n` → per-pair
    * intersection counts, with both sizes riding the pair join,
    * returning (a, b, na, nb, ni).
    */
  private def overlapForCandidates(candidates: DataFrame,
      shingles: DataFrame): DataFrame = {
    val (cand, sh) = candidateRestrictedShingles(candidates, shingles)
    cand
      .join(sh.select(col("id").as("a"), col("sh"), col("n").as("na")), "a")
      .join(sh.select(col("id").as("b"), col("sh"), col("n").as("nb")),
        Seq("b", "sh"))
      // na/nb are functions of a/b: grouping by them only carries them
      .groupBy(col("a"), col("b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("ni"))
  }

  /** Materialization discipline of the verify tails: the CANDIDATE
    * frame is referenced three times downstream (both sides of the id
    * union + the pair join) and the candidate-RESTRICTED shingle table
    * twice more (both pair-join sides) — without pinning them,
    * each reference re-derives its whole subtree (for the LSH callers
    * that is the banded self-join, re-run ~6×; the r15 plan audit
    * caught exactly this shape in dedup_containment_lsh). Both are
    * bounded frames (candidate pairs, candidate-doc shingles — never
    * corpus-sized), so holding them is strictly cheaper than any
    * recomputation. Indexed-incremental callers pass a cand frame
    * they already checkpointed for their own probe derivation; the
    * second checkpoint here copies a bounded frame once more, which
    * is accepted over threading a was-it-checkpointed flag through
    * the API. Each restricted shingle row carries its document's
    * shingle count `n` (a window over the semi-join's output, in the
    * same checkpoint job), so no size aggregate is joined back later.
    */
  private def candidateRestrictedShingles(candidates: DataFrame,
      shingles: DataFrame): (DataFrame, DataFrame) = {
    val cand = candidates.localCheckpoint()
    val candIds = cand.select(col("a").as("id"))
      .unionAll(cand.select(col("b").as("id"))).distinct()
    val sh = shingles.join(candIds, Seq("id"), "left_semi")
      .withColumn("n", count(lit(1)).over(Window.partitionBy("id")))
      .localCheckpoint()
    (cand, sh)
  }

  /** Full MinHash+LSH near-dup pipeline: shingle → sign → band →
    * candidate join → exact-Jaccard verify ≥ threshold.
    */
  def minhashLsh(df: DataFrame, textCol: String, idCol: String,
      k: Int = 3, numHashes: Int = 8, bands: Int = 4,
      threshold: Double = 0.0): DataFrame = {
    // the shingle explode feeds FOUR consumers (signatures, both
    // verify joins, sizes); whether Spark reuses the exchange across
    // them is an AQE coin-flip, measured as 1-3× recomputation of the
    // corpus explode between same-HEAD runs (the r10 dedup_clusters
    // 6.9 s-vs-18.7 s swing). Materialize once — reference-tracked
    // blocks, same discipline as simhashPairs' fingerprints.
    val sh = wordShingles(df, textCol, idCol, k).localCheckpoint()
    val sig = minhashSignatures(sh, numHashes)
    val cand = minhashCandidates(sig, bands, numHashes / bands)
    jaccardForCandidates(cand, sh).where(col("jaccard") >= threshold)
  }

  /** INCREMENTAL MinHash-LSH: near-dup pairs touching at least one NEW
    * document — the shape corpus dedup actually runs at 100 TB. A
    * production pipeline does not re-deduplicate the whole corpus per
    * ingest batch: the existing corpus's band keys are a precomputed
    * INDEX (recomputed from `df` here so the gated query is self-
    * contained; production reads them from the signature store), only
    * the new batch's bands PROBE it, and per-bucket candidate work is
    * |new ∩ bucket| × |bucket| instead of |bucket|² — the self-join
    * over the historical corpus never happens. New-new pairs fall out
    * of the same probe (the new batch is part of the probed side).
    *
    * Result == [[minhashLsh]] over the full corpus RESTRICTED to pairs
    * with at least one `isNewCol` member (pinned by OpsSpec), so
    * batch-then-incremental composes to exactly the batch-global
    * answer. Output: (a, b, jaccard), a < b.
    */
  def minhashLshIncremental(df: DataFrame, textCol: String, idCol: String,
      isNewCol: Column, k: Int = 3, numHashes: Int = 8, bands: Int = 4,
      threshold: Double = 0.0): DataFrame = {
    // materialized for the same multi-consumer reason as minhashLsh
    val sh = wordShingles(df, textCol, idCol, k).localCheckpoint()
    val sig = minhashSignatures(sh, numHashes)
    val banded = bandKeys(sig, bands, numHashes / bands)
    val newIds = df.where(isNewCol).select(col(idCol).as("id"))
    val probe = banded.join(newIds, "id")
    val cand = probe.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.id") =!= col("y.id"))
      .select(least(col("x.id"), col("y.id")).as("a"),
        greatest(col("x.id"), col("y.id")).as("b"))
      .distinct()
    jaccardForCandidates(cand, sh).where(col("jaccard") >= threshold)
  }

  /** [[minhashLshIncremental]] against a PRECOMPUTED banded signature
    * index — the form an ingest pipeline actually runs. The
    * self-contained variant above re-derives the corpus's band keys
    * from scratch, so every invocation pays a corpus-wide
    * shingle + signature pass before the probe even starts; production
    * pays that pass ONCE (at signature-store build / per ingest batch,
    * amortized) and every probe reads the store. `banded` is that
    * store: (id, band, bkey) rows for the FULL corpus (old AND new —
    * the probe side selects the new ids out of it), exactly
    * [[bandKeys]] over [[minhashSignatures]], e.g. as persisted by
    * [[graft.streaming.StreamingDedup.seedMinhashIndex]].
    *
    * Verification is candidate-restricted like the streaming probes:
    * only candidate-pair documents are re-shingled from `df` (the
    * semi-join runs BEFORE the explode, so the explode never touches
    * the non-candidate corpus). Result is IDENTICAL to
    * [[minhashLshIncremental]] (same band keys → same candidates; same
    * shingle function → same Jaccard values) — OpsSpec pins the
    * equality.
    */
  def minhashLshIncrementalIndexed(df: DataFrame, banded: DataFrame,
      textCol: String, idCol: String, isNewCol: Column, k: Int = 3,
      threshold: Double = 0.0): DataFrame = {
    val (cand, candSh) =
      indexedIncrementalCandidates(df, banded, textCol, idCol, isNewCol, k)
    jaccardForCandidates(cand, candSh).where(col("jaccard") >= threshold)
  }

  /** The shared probe half of the indexed incremental tiers: the new
    * batch's band rows probe the precomputed index, candidate pairs
    * canonicalize (least/greatest) and materialize, and ONLY candidate
    * documents are re-shingled (the semi-join runs before the explode,
    * so the explode never touches the non-candidate corpus). Returns
    * (candidates(a, b), candidate shingles(id, sh)) for whichever
    * measure verifies downstream.
    */
  private def indexedIncrementalCandidates(df: DataFrame,
      banded: DataFrame, textCol: String, idCol: String,
      isNewCol: Column, k: Int): (DataFrame, DataFrame) = {
    val newIds = df.where(isNewCol).select(col(idCol).as("id"))
    val probe = banded.join(newIds, "id")
    val cand = probe.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.id") =!= col("y.id"))
      .select(least(col("x.id"), col("y.id")).as("a"),
        greatest(col("x.id"), col("y.id")).as("b"))
      .distinct()
      .localCheckpoint()
    val candIds = cand.select(col("a").as("cid"))
      .unionAll(cand.select(col("b").as("cid"))).distinct()
    val candDocs = df.join(candIds, df(idCol) === candIds("cid"), "left_semi")
    (cand, wordShingles(candDocs, textCol, idCol, k))
  }

  /** INCREMENTAL containment against the SAME precomputed band index
    * the minhash tier probes — the per-ingest form of
    * [[ngramContainmentLsh]]: only the new batch's bands probe the
    * store, candidate work is |new ∩ bucket| × |bucket|, and exact
    * containment verifies on candidate-restricted re-shingles. One
    * band index, one probe plan, every measure — the production
    * discipline that makes adding a measure free at 100 TB (the index
    * and the probe amortize across ALL of them). Same recall contract
    * as the batch LSH form (band agreement tracks Jaccard; the
    * subset-dup extreme stays the exact tier's job).
    */
  def containmentIncrementalIndexed(df: DataFrame, banded: DataFrame,
      textCol: String, idCol: String, isNewCol: Column, k: Int = 3,
      threshold: Double = 0.0): DataFrame = {
    val (cand, candSh) =
      indexedIncrementalCandidates(df, banded, textCol, idCol, isNewCol, k)
    containmentForCandidates(cand, candSh)
      .where(col("containment") >= threshold)
  }

  /** Cross-document duplicated-substring spans — the distributed
    * analogue of suffix-array exact-substring dedup (the
    * "deduplicate-text-datasets" tier: find text shared VERBATIM
    * across documents and cut the span, not the document — catches
    * boilerplate headers/footers/licenses that near-dup scoring
    * dilutes away on long documents). A suffix array is a
    * single-machine construct; the distributed shape anchors on
    * positional word k-grams instead — a maximal run of consecutive
    * k-grams each of which occurs in ≥ 2 distinct documents marks a
    * duplicated span of ≥ `minRun + k − 1` tokens:
    *
    *   1. positional k-grams: posexplode-style projection — corpus
    *      token mass, linear, zero shuffle until the aggregate;
    *   2. duplicated grams: (gram, doc) distinct (map-side combinable)
    *      → distinct-doc count ≥ 2 — shuffles on the 128-bit gram key,
    *      never on doc ids, so hot boilerplate grams spread by hash;
    *   3. hash semi-join of positions against the duplicated-gram set;
    *   4. gaps-and-islands per document (pos − row_number() is
    *      constant exactly on a run of consecutive duplicated
    *      positions) → spans, filtered to runs ≥ `minRun`.
    *
    * Output: (doc_id, start_pos, n_grams, span_tokens), 1-based token
    * positions. The gram key is md5 so an external SQL oracle mirrors
    * it exactly; collisions (2⁻⁶⁴-scale) would only ever ADD a span.
    */
  def substringDupSpans(df: DataFrame, textCol: String, idCol: String,
      k: Int = 8, minRun: Int = 2): DataFrame = {
    val toks = split(col(textCol), " ")
    val gram = md5(concat_ws(" ",
      (0 until k).map(j => element_at(col("t"), col("i") + j)): _*)
      .cast("binary"))
    val pos = df.select(col(idCol).as("id"), toks.as("t"))
      // sequence(1, n) with n < 1 yields a DESCENDING array — guard
      // short documents with an empty array (wordShinglesAll contract)
      .withColumn("i", explode(
        when(size(col("t")) >= k, sequence(lit(1), size(col("t")) - (k - 1)))
          .otherwise(array().cast("array<int>"))))
      .select(col("id"), col("i"), gram.as("g"))
    val dup = pos.select("g", "id").distinct()
      .groupBy("g").agg(count(lit(1)).as("nd"))
      .where(col("nd") >= 2).select("g")
    val w = Window.partitionBy("id").orderBy("i")
    pos.join(dup, "g")
      .select("id", "i")
      .withColumn("isl", col("i") - row_number().over(w))
      .groupBy("id", "isl")
      .agg(min(col("i")).cast("long").as("start_pos"),
        count(lit(1)).as("n_grams"))
      .where(col("n_grams") >= minRun)
      .select(col("id").as("doc_id"), col("start_pos"), col("n_grams"),
        (col("n_grams") + lit(k - 1)).as("span_tokens"))
  }

  /** BOILERPLATE STRIP: remove the [[substringDupSpans]] spans from
    * the text itself — the consumption side of exact-substring dedup
    * (headers/footers/licenses shared verbatim across documents are
    * cut EVERYWHERE; a span covers its run's tokens through the last
    * gram's tail, `start .. start + span_tokens − 1`). Every document
    * survives — a fully-boilerplate document keeps an empty text and
    * `kept_tokens` 0, the row a downstream quality filter then drops.
    *
    * Scale shape on top of the span pass: covered positions explode
    * from the SPANS (span mass, not corpus mass), the keep-filter is
    * one anti-join on (doc, position), and reassembly is a per-doc
    * sort_array aggregation — collect_list carries no ordering
    * guarantee, so tokens ride in (pos, tok) structs and sort before
    * the join. Output: (doc_id, kept_tokens, text_stripped).
    */
  def substringStrip(df: DataFrame, textCol: String, idCol: String,
      k: Int = 8, minRun: Int = 2): DataFrame = {
    val spans = substringDupSpans(df, textCol, idCol, k, minRun)
    val covered = spans.select(col("doc_id"),
      explode(sequence(col("start_pos"),
        col("start_pos") + col("span_tokens") - 1)).as("p"))
    val toks = df.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), " ")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("p"),
        col("tok"))
    val kept = toks.join(covered, Seq("doc_id", "p"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("kept_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("p"), col("tok")))),
          s => s.getField("tok")), " ").as("text_stripped"))
    df.select(col(idCol).as("doc_id"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        coalesce(col("text_stripped"), lit("")).as("text_stripped"))
  }

  /** END-TO-END dedup pipeline — the composition a production corpus
    * run actually executes, in tier order:
    *   1. EXACT dedup: md5(content) groups collapse to their min-id
    *      representative. One cheap hash shuffle strips the bulk
    *      duplicate mass before anything expensive runs — at 100 TB
    *      the exact-dup fraction is typically the majority of all
    *      duplication, and every exact dup skipped here is a document
    *      the LSH tier never shingles, signs, or pairs.
    *   2. NEAR-dup discovery: MinHash-LSH over REPRESENTATIVES only.
    *   3. Connected components over the near-dup pairs, merging exact
    *      groups whose representatives are near-dups of each other.
    *   4. Every document mapped to its final cluster: the min doc id
    *      of its merged (exact ∪ near-dup) group.
    *
    * Output: (id, cluster, keeper) for EVERY input document — the
    * "keep one per cluster" decision is `keeper`.
    */
  def dedupPipeline(df: DataFrame, textCol: String, idCol: String,
      k: Int = 3, numHashes: Int = 8, bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    // one exchange on the content hash: every document learns its
    // exact group's min id, and the representatives keep their text
    val ranked = df.select(col(idCol).as("id"), col(textCol).as("text"),
        md5(col(textCol).cast("binary")).as("fp"))
      .withColumn("rep", min(col("id")).over(Window.partitionBy("fp")))
    val reps = ranked.where(col("id") === col("rep"))
      .select(col("id"), col("text"))
    val pairs = minhashLsh(reps, "text", "id", k, numHashes, bands, threshold)
    val cc = connectedComponents(pairs.select(col("a"), col("b")))
    // a representative in no near-dup pair is its own cluster
    ranked.select(col("id"), col("rep"))
      .join(cc.withColumnRenamed("id", "rep"), Seq("rep"), "left")
      .select(col("id"), coalesce(col("cluster"), col("rep")).as("cluster"))
      .withColumn("keeper", col("id") === col("cluster"))
  }

  /** Chunk-level exact substring dedup: split every document into
    * fixed-stride character chunks, count each chunk's corpus-wide
    * occurrences, drop EVERY occurrence of any chunk appearing more
    * than `maxDf` times, and reassemble the surviving chunks in
    * document order — the scalable fixed-alignment variant of
    * suffix-array substring dedup (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better"): boilerplate that repeats
    * verbatim across documents (headers, license blocks, templated
    * paragraphs) is removed from the text itself, not just used to
    * drop whole documents. Shifted/near-duplicate substrings are out
    * of scope by construction — that is [[minhashLsh]]/[[simhashPairs]]
    * territory; this operator is the exact tier.
    *
    * Dropping ALL occurrences (not keep-first) is deliberate: keeping
    * one copy would need a global "first" order; removing every copy
    * is order-free, engine-portable, and the conservative choice for
    * training data (repeated boilerplate adds no signal).
    *
    * Scale shape: chunk rows are linear in corpus bytes; the count is
    * one map-side-combinable aggregation on the 128-bit chunk hash;
    * the anti-join ships only hashes that are actually duplicated
    * (broadcast when small, AQE decides); reassembly is one shuffle on
    * doc id. No pair explosion anywhere — cost is O(bytes), the same
    * plan at 100 TB as at 500 rows.
    *
    * Output: (id, clean_text, n_chunks, n_dropped) — one row per input
    * document, `clean_text` empty when every chunk was shared (e.g.
    * exact duplicate documents dedup to nothing, both copies).
    */
  def chunkDedup(df: DataFrame, textCol: String, idCol: String,
      chunkChars: Int = 100, maxDf: Int = 1,
      hasher: Column => Column = md5String): DataFrame = {
    require(chunkChars > 0, "chunkChars must be positive")
    val nChunks = ceil(length(col(textCol)).cast("double") / chunkChars)
      .cast("int")
    // sequence(0, n-1) with n = 0 would yield DESCENDING [0, -1] (same
    // trap as wordShinglesAll) — guard empty documents explicitly
    val idxs = when(length(col(textCol)) > 0,
      sequence(lit(0), nChunks - 1)).otherwise(array().cast("array<int>"))
    val chunks = df
      .select(col(idCol).as("id"), col(textCol).as("text"), idxs.as("is"))
      .select(col("id"), posexplode(col("is")).as(Seq("ord", "i")),
        col("text"))
      .select(col("id"), col("ord"),
        col("text").substr(col("i") * chunkChars + 1, lit(chunkChars))
          .as("chunk"))
    val withH = chunks.withColumn("h", hasher(col("chunk")))
    val dupHashes = withH.groupBy(col("h"))
      .agg(count(lit(1)).as("c"))
      .where(col("c") > maxDf)
      .select(col("h"))
    val kept = withH.join(dupHashes, Seq("h"), "left_anti")
    val rebuilt = kept.groupBy(col("id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("ord"), col("chunk")))),
          s => s.getField("chunk")), "").as("clean_text"),
        count(lit(1)).as("n_kept"))
    df.select(col(idCol).as("id"), nChunks.cast("long").as("n_chunks"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"), coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_chunks"),
        (col("n_chunks") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }

  /** Exact n-gram Jaccard ≥ threshold via inverted-index self-join (no
    * LSH) — the VERIFICATION path; `minhashLsh` is the headline
    * discovery path at scale.
    *
    * `maxDf` is the candidate-pair budget: shingles appearing in more
    * than `maxDf` documents are dropped before the self-join (classic
    * posting-list capping — a shingle shared by everyone contributes
    * O(df²) candidate pairs and no discriminative signal). With the
    * cap the join cost is bounded by Σ min(df, maxDf)² per shingle.
    */
  def ngramJaccard(df: DataFrame, textCol: String, idCol: String,
      k: Int = 3, threshold: Double = 0.8,
      maxDf: Int = Int.MaxValue): DataFrame =
    shingleOverlap(df, textCol, idCol, k, maxDf)
      .withColumn("jaccard",
        round(col("ni").cast("double") / (col("na") + col("nb") - col("ni")), 6))
      .where(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))

  /** Shared overlap engine behind [[ngramJaccard]] / [[ngramContainment]]:
    * capped shingles → per-pair intersection counts → per-doc sizes,
    * returning (a, b, ni, na, nb) with a < b. The measures differ only
    * in one arithmetic column, so they must share ONE pair-generation
    * plan (the never-drift discipline).
    *
    * Pair generation is POSTING-LIST form, not a self-join: the capped
    * table groups once on `sh` into bounded posting arrays (≤ maxDf
    * ids — the cap runs BEFORE the collect, so a stopword shingle's
    * O(corpus) posting never materializes in any buffer), and each
    * posting emits its C(df, 2) pairs through the lazy
    * [[graft.functions.PairCombosExpr]] generator (index-walk, no
    * per-row array copy, only the i < j half ever exists).
    * That is ONE shuffle of the capped shingle table where the
    * self-join form shuffled it twice (both join sides) and then
    * probed row-by-row — same pair volume, one fewer corpus-sized
    * exchange, no join machinery. The uncapped (maxDf = ∞) library
    * form keeps the self-join: an unbounded collect_list is a
    * single-buffer hot-key hazard, exactly what the cap exists to
    * prevent.
    */
  private def shingleOverlap(df: DataFrame, textCol: String,
      idCol: String, k: Int, maxDf: Int): DataFrame = {
    // capped shingles feed two consumers (postings + sizes) —
    // materialized for the same AQE-reuse-coin-flip reason as
    // minhashLsh's shingles
    val sh0 = wordShingles(df, textCol, idCol, k)
    val sh = (
      if (maxDf == Int.MaxValue) sh0
      else sh0.join(
        sh0.groupBy(col("sh")).agg(count(lit(1)).as("df_c"))
          .where(col("df_c") <= maxDf).select("sh"),
        "sh")).localCheckpoint()
    val pairs =
      if (maxDf == Int.MaxValue) {
        sh.select(col("id").as("a"), col("sh"))
          .join(sh.select(col("id").as("b"), col("sh")), "sh")
          .where(col("a") < col("b"))
          .groupBy(col("a"), col("b"))
          .agg(count(lit(1)).as("ni"))
      } else {
        // pair emission via the LAZY pair generator, not a double
        // explode: the (a, ids) intermediate of the explode form
        // carried the full posting array in every one of its df rows —
        // O(df²) bytes per bucket in flight, the suite's largest GC
        // source at 10× (BENCH_r16 dedup_containment gc 7.3 s).
        // sort_array makes positional pairs (i < j) value pairs
        // (a < b) — ids are distinct per bucket (wordShingles is
        // distinct), so the emitted pair set is the self-join's
        // exactly (DedupSpec pins it).
        sh.groupBy(col("sh"))
          .agg(sort_array(collect_list(col("id"))).as("ids"))
          .where(size(col("ids")) >= 2)
          .select(graft.functions.gen.pairCombos(col("ids")).as(Seq("a", "b")))
          .groupBy(col("a"), col("b"))
          .agg(count(lit(1)).as("ni"))
      }
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("n"))
    pairs
      .join(sizes.select(col("id").as("a"), col("n").as("na")), "a")
      .join(sizes.select(col("id").as("b"), col("n").as("nb")), "b")
  }

  /** Shingle CONTAINMENT ≥ threshold: |A∩B| / min(|A|,|B|) — the
    * asymmetric near-dup measure (Broder's resemblance-vs-containment
    * distinction). A short document quoted whole inside a long one has
    * low Jaccard (the union is dominated by the long doc) but
    * containment ≈ 1 — the subset-duplicate class a Jaccard-only tier
    * systematically misses. Same inverted-index self-join and `maxDf`
    * posting cap as [[ngramJaccard]], and the same convention that
    * sizes count CAPPED shingles (both measures see one shingle
    * universe). Output: (a, b, containment), a < b, 6-dp.
    */
  def ngramContainment(df: DataFrame, textCol: String, idCol: String,
      k: Int = 3, threshold: Double = 0.9,
      maxDf: Int = Int.MaxValue): DataFrame =
    shingleOverlap(df, textCol, idCol, k, maxDf)
      .withColumn("containment",
        round(col("ni").cast("double") / least(col("na"), col("nb")), 6))
      .where(col("containment") >= threshold)
      .select(col("a"), col("b"), col("containment"))

  /** Exact CONTAINMENT for given candidate pairs — [[jaccardForCandidates]]
    * with the asymmetric |A∩B| / min(|A|,|B|) measure; same
    * candidate-restricted semi-join discipline (the verify join's
    * input is candidate-doc shingles, never the corpus).
    */
  def containmentForCandidates(candidates: DataFrame,
      shingles: DataFrame): DataFrame =
    overlapForCandidates(candidates, shingles)
      .withColumn("containment",
        round(col("ni").cast("double") / least(col("na"), col("nb")), 6))
      .select(col("a"), col("b"), col("containment"))

  /** LSH-FIRST containment — the 100 TB tier: candidate pairs come
    * from the SAME minhash band index the resemblance tiers probe
    * (one index, every measure), and exact containment is verified on
    * the candidate-restricted shingle table only. The corpus is never
    * self-joined: candidate mass is Σ per-bucket pairs (banding keeps
    * buckets uniform by construction), and the verify join's input is
    * candidate-doc shingles — the [[jaccardForCandidates]] discipline
    * with the asymmetric measure.
    *
    * Recall contract (stated, not hidden): minhash band agreement
    * tracks RESEMBLANCE (Jaccard), so a high-containment / low-Jaccard
    * pair (a short doc quoted inside a much longer one) may land in no
    * shared bucket — the subset-duplicate extreme stays the exact
    * [[ngramContainment]] tier's job at posting-cap cost. What this
    * tier finds is containment among resemblance-candidates: the
    * boilerplate-overlap class that dominates real corpora, at
    * banded-index cost. The oracle mirrors the band geometry exactly,
    * so the contract is deterministic, not probabilistic.
    */
  def ngramContainmentLsh(df: DataFrame, textCol: String, idCol: String,
      k: Int = 3, numHashes: Int = 8, bands: Int = 4,
      threshold: Double = 0.0): DataFrame = {
    // one materialized shingle pass feeds signatures AND the verify —
    // same multi-consumer discipline as minhashLsh
    val sh = wordShingles(df, textCol, idCol, k).localCheckpoint()
    val sig = minhashSignatures(sh, numHashes)
    val cand = minhashCandidates(sig, bands, numHashes / bands)
    containmentForCandidates(cand, sh)
      .where(col("containment") >= threshold)
  }

  /** WINNOWING document fingerprints (Schleimer, Wilkerson, Aiken,
    * SIGMOD'03 — the MOSS algorithm): hash every word k-gram, slide a
    * w-window over the hash sequence, and select the RIGHTMOST minimal
    * hash of each window; the deduped (position, hash) selections are
    * the document's fingerprint set. The winnowing guarantee: any
    * match of at least w + k - 1 consecutive tokens between two
    * documents produces at least one SHARED fingerprint, at selection
    * density ~2/(w+1) — the position-aware local-similarity primitive
    * (plagiarism / quoted-passage detection) that the set-global tiers
    * (minhash resemblance, simhash distance) cannot express.
    *
    * Scale shape: pure per-row higher-order functions — ZERO shuffle
    * at any corpus size; per-row cost O(tokens · w). Selections are
    * encoded as `pos · 2³² + hash32` (hash32 = first 8 md5 hex digits,
    * < 2³²) so the dedup is `array_distinct` over plain BIGINTs — no
    * struct-equality semantics to disagree on across engines — and the
    * final projection decodes. Fingerprint matching downstream is an
    * equi-join on `fp`.
    *
    * Output: (id, pos, fp) — one row per selected fingerprint, pos the
    * 1-based k-gram index; documents shorter than w + k - 1 tokens
    * emit nothing.
    */
  def winnowFingerprints(df: DataFrame, textCol: String, idCol: String,
      k: Int = 3, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, "k and w must be positive")
    val Enc = 4294967296L // 2^32
    // the selection runs as ONE native codegen'd pass per row
    // (vec.winnow — O(tokens·w)). The higher-order-function
    // formulation it replaced was re-inlined by projection collapse:
    // every per-window element_at(h, p) carried the FULL hash-array
    // expression, so each row cost O(windows·w·tokens) interpreted md5
    // evaluations — a single ~30 min task on the sf0.1 base corpus.
    df.select(col(idCol).as("id"),
        graft.functions.vec.winnow(col(textCol), k, w).as("sel"))
      .select(col("id"), explode(col("sel")).as("e"))
      .select(col("id"), expr(s"e div $Enc").as("pos"),
        pmod(col("e"), lit(Enc)).as("fp"))
  }

  /** INCREMENTAL winnowing: shared-passage pairs (≥ `minShared` shared
    * fingerprints) touching at least one NEW document — the per-ingest
    * shape, completing the incremental family next to
    * [[minhashLshIncremental]] and [[simhashPairsIncremental]]. The
    * corpus's winnow fingerprints are a precomputed INDEX (recomputed
    * from `df` so the gated query is self-contained); only the new
    * batch's fingerprints PROBE it, so per-bucket candidate work is
    * |new ∩ bucket| × |bucket| and the historical fingerprint
    * self-join never happens. Result == the batch pairs query
    * restricted to new-touching pairs (pinned by OpsSpec).
    * Output: (a, b, shared_fps), a < b.
    */
  def winnowPairsIncremental(df: DataFrame, textCol: String, idCol: String,
      isNewCol: Column, k: Int = 3, w: Int = 4,
      minShared: Long = 2L): DataFrame = {
    val fps = winnowFingerprints(df, textCol, idCol, k, w)
      .select(col("id"), col("fp")).distinct().localCheckpoint()
    val newIds = df.where(isNewCol).select(col(idCol).as("id"))
    val probe = fps.join(newIds, "id")
    probe.select(col("id").as("x"), col("fp"))
      .join(fps.select(col("id").as("y"), col("fp")), "fp")
      .where(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"), col("fp"))
      .distinct()
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("shared_fps"))
      .where(col("shared_fps") >= minShared)
  }

  /** SimHash fingerprint (16-bit default; width configurable by
    * `bits`, max 64: bits 1-32 weight from md5(feature), bits 33-64
    * from md5("1:" + feature)). Per feature, bit i's
    * weight is +1 if the i-th hex digit of the feature hash is ≥ 8
    * else -1; the fingerprint bit is 1 if the summed weight over
    * distinct features is positive. One aggregation, `bits` sum()
    * columns.
    *
    * `shingleK` picks the feature space: 0/1 = unigram tokens (cheap,
    * measures vocabulary overlap — documents from one template all
    * look alike); k >= 2 = word k-shingles (phrase-level, the
    * discriminative choice for near-dup detection — random pairs land
    * at hamming ≈ bits/2 instead of clustering near 0).
    */
  def simhash(df: DataFrame, textCol: String, idCol: String, bits: Int = 16,
      shingleK: Int = 0): DataFrame = {
    // ONE md5 per feature carries all 128 digest bits — weight bit i
    // is the i-th bit of the digest itself (MSB-first), so 128-bit
    // fingerprints no longer chain 4 seeded hashes and 64-bit no
    // longer chains 2 (the pre-r11 scheme took only the MSB of each
    // hex digit, 1 bit of weight per 4 bits of digest). Narrower
    // fingerprints remain PREFIXES of wider ones (bits come off the
    // digest in order).
    require(bits <= 128, "one md5 digest carries at most 128 bits")
    val features =
      if (shingleK <= 1)
        df.select(col(idCol).as("id"), explode(split(col(textCol), " ")).as("tok"))
          .distinct()
      else wordShingles(df, textCol, idCol, shingleK)
        .select(col("id"), col("sh").as("tok"))
    // Decode the hex ONCE per feature into 8-digit chunks (conv → long),
    // so each bit weight is an integer shift/mask on a decoded chunk
    // instead of a per-bit substring comparison: bit i lives in hex
    // digit (i-1)/4 at in-digit bit 3-(i-1)%4, i.e. chunk (i-1)/32,
    // shift (7 - pos)*4 + b — and the `bits` sums stay one
    // map-side-combinable aggregation.
    val numChunks = (bits + 31) / 32
    val tokens = features.withColumn("th", md5(col("tok").cast("binary")))
    val chunked = tokens.select(col("id") +:
      (0 until numChunks).map(c =>
        conv(substring(col("th"), c * 8 + 1, 8), 16, 10).cast("long").as(s"c$c")): _*)
    val bitSums = (1 to bits).map { i =>
      val chunk = (i - 1) / 32
      val pos = ((i - 1) / 4) % 8
      val shift = (7 - pos) * 4 + (3 - (i - 1) % 4)
      sum(shiftright(col(s"c$chunk"), shift).bitwiseAND(lit(1L)) * 2 - 1).as(s"s$i")
    }
    chunked.groupBy(col("id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"),
        concat((1 to bits).map(i =>
          when(col(s"s$i") > 0, lit("1")).otherwise(lit("0"))): _*).as("simhash"))
  }

  /** Connected components over an undirected edge list `(u, v)` — the
    * step that turns near-dup PAIRS into dedup CLUSTERS: output is one
    * row per node `(id, cluster)` where `cluster` is the component's
    * minimum id, i.e. the canonical document the cluster deduplicates
    * to.
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — the
    * standard shuffle-based CC that converges in O(log² n) rounds on
    * ANY graph shape (min-label propagation would need O(diameter)
    * rounds, unbounded on chain-shaped dup clusters). A round is three
    * exchanges and one job: large-star is a `min(v)` window over the
    * bidirected edges partitioned by `u`, small-star a `min(v)` window
    * over the edges oriented large→small, and one `distinct` closes
    * the round; `localCheckpoint` materializes it (cutting the
    * iterative lineage, so round N's plan does not replay rounds
    * 0..N-1). Data never collects to the driver. The fixpoint test —
    * an unchanged (count, xxhash64-sum) edge-set fingerprint — is
    * observed inside that checkpoint job ([[Observed]]), so no round
    * runs a job of its own for it; the input's observed count decides
    * emptiness.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25): DataFrame =
    connectedComponentsWithRounds(edges, maxIter)._1

  /** [[connectedComponents]] plus the number of large/small-star
    * rounds the fixpoint took (the loop runs eagerly — the count is
    * final when this returns). The round count is the scale witness
    * for the clusters bench leg — O(log² n) rounds that hold steady
    * between a 1× and a 10× corpus prove the replica's pair graph
    * contracts the same way. Callers that want the witness recorded
    * (the gated query) write it into `graft.Telemetry` — the library
    * itself keeps no mutable state.
    */
  def connectedComponentsWithRounds(edges: DataFrame,
      maxIter: Int = 25): (DataFrame, Int) = {
    val Seq(uc, vc) = edges.columns.take(2).toSeq
    // order-independent edge-set checksum, observed on the checkpoint
    // job; decimal(38,0) so the sum cannot overflow under ANSI
    // arithmetic at any edge count
    val fpAggs = Seq(count(lit(1)),
      coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
        lit(BigDecimal(0))))
    def checkpointed(e: DataFrame): (DataFrame, (Long, BigDecimal)) = {
      val obs = org.apache.spark.sql.Observation()
      val cp = e.observe(obs, fpAggs.head, fpAggs.tail: _*).localCheckpoint()
      val r = Observed.row(obs, cp, fpAggs)
      (cp, (r.getLong(0), BigDecimal(r.getDecimal(1))))
    }
    var (cur, fp) = checkpointed(edges.select(col(uc).as("u"), col(vc).as("v"))
      .where(col("u") =!= col("v"))
      .distinct())
    var it = 0
    var converged = fp._1 == 0L
    while (!converged && it < maxIter) {
      val (next, nfp) = checkpointed(smallStar(largeStar(cur)))
      converged = nfp == fp
      fp = nfp
      cur = next
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not reach a fixpoint in $maxIter " +
          "iterations; the clustering would be wrong (components split). " +
          "Raise maxIter for this graph.")
    // at the fixpoint every edge is (node, component-min); component
    // roots only appear on the right — add their identity rows
    (cur.select(col("u").as("id"), col("v").as("cluster"))
      .union(cur.select(col("v").as("id"), col("v").as("cluster")))
      .distinct(), it)
  }

  /** Large-star: connect every neighbor LARGER than `u` to
    * `m = min(Γ(u) ∪ {u})`. Operates on both orientations; one
    * window, one exchange on `u`. Every emitted edge has `u > v`
    * (`v > u ≥ m`), so no self-loop needs filtering. May emit an edge
    * more than once: [[smallStar]]'s `distinct` removes the copies,
    * so the round's edge set is the same as with a `distinct` here.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    e.union(e.select(col("v").as("u"), col("u").as("v")))
      .withColumn("m", least(col("u"), min(col("v")).over(Window.partitionBy("u"))))
      .where(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
  }

  /** Small-star: orient each edge large→small, then connect all of
    * `u`'s smaller neighbors (and `u` itself) to their minimum `m`.
    * One window over the oriented edges emits both `(v, m)` and
    * `(u, m)` per edge; one `distinct` leaves each edge once.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    e.select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .withColumn("m", min(col("v")).over(Window.partitionBy("u")))
      .select(explode(array(
        struct(col("v").as("u"), col("m").as("v")),
        struct(col("u").as("u"), col("m").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
  }

  /** Band-key rows `(id, band, bkey)` for precomputed fingerprints
    * `fp(id, simhash)`: band b's key is the b-th `bits/bands`-wide
    * slice of the fingerprint. The banding primitive shared by the
    * batch self-join ([[simhashBandCandidates]]) and the incremental
    * probe ([[simhashPairsIncremental]]).
    *
    * ONE pass, not a union of per-band selects: `posexplode` over the
    * array of band slices reads `fp` once and emits the `bands` rows
    * per id from that single scan (pos IS the band index) — the
    * union form scanned `fp` once per band, which for a
    * non-materialized fp (seed paths) was `bands` full fingerprint
    * computations of the corpus.
    */
  def simhashBandKeys(fp: DataFrame, bits: Int, bands: Int): DataFrame = {
    require(bits % bands == 0, "bits must divide evenly into bands")
    val width = bits / bands
    fp.select(col("id"),
      posexplode(array((0 until bands).map(b =>
        substring(col("simhash"), b * width + 1, width)): _*))
        .as(Seq("band", "bkey")))
  }

  /** [[simhashBandKeys]] WITH the fingerprint carried on every band
    * row — `(id, band, bkey, simhash)` in the same single pass. This
    * is the shape the banded indexes store and the verify path needs:
    * deriving it as `simhashBandKeys(fp).join(fp, "id")` (the pre-r18
    * form) paid a corpus-sized shuffle join to re-attach a column the
    * band row's own scan already had in hand.
    */
  private[graft] def simhashBandRows(fp: DataFrame, bits: Int,
      bands: Int): DataFrame = {
    require(bits % bands == 0, "bits must divide evenly into bands")
    val width = bits / bands
    fp.select(col("id"),
      posexplode(array((0 until bands).map(b =>
        substring(col("simhash"), b * width + 1, width)): _*))
        .as(Seq("band", "bkey")),
      col("simhash"))
  }

  /** Band-bucket candidate pairs over precomputed fingerprints
    * `fp(id, simhash)`: equi-join on (band index, band slice). Exposed
    * separately so the bench can report banding selectivity (candidate
    * pairs vs all pairs) — the number that decides whether the scheme
    * survives a 100× corpus.
    */
  def simhashBandCandidates(fp: DataFrame, bits: Int, bands: Int): DataFrame = {
    val banded = simhashBandKeys(fp, bits, bands)
    banded.select(col("band"), col("bkey"), col("id").as("a"))
      .join(banded.select(col("band"), col("bkey"), col("id").as("b")),
        Seq("band", "bkey"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"))
      .distinct()
  }

  /** Hamming distance between two equal-width simhash bit strings.
    * Decodes 32-bit chunks of each binary string to longs and counts
    * XOR bits — measured ~3× faster than the per-character
    * split/zip_with formulation (pure integer ops inside whole-stage
    * codegen, no array materialization per row). `width` is the
    * fingerprint width in bits; a trailing chunk shorter than 32 is
    * fine (`conv` accepts any length).
    */
  def hammingDistance(a: Column, b: Column, width: Int = 64): Column = {
    val dist = (0 until width by 32).map { off =>
      // fingerprints narrower than `width` leave trailing chunks empty;
      // conv('') is null, so default those chunks to distance 0
      coalesce(bit_count(conv(substring(a, off + 1, 32), 2, 10).cast("long")
        .bitwiseXOR(conv(substring(b, off + 1, 32), 2, 10).cast("long"))), lit(0))
    }.reduce(_ + _)
    // a fingerprint wider than `width` would have its tail silently
    // dropped (undercounting distance) — fail loudly instead
    when(greatest(length(a), length(b)) > lit(width),
      raise_error(concat(lit(s"hammingDistance: fingerprint wider than width=$width bits: "),
        greatest(length(a), length(b)).cast("string"))))
      .otherwise(dist)
  }

  /** SimHash near-duplicate pairs at scale: band the `bits`-wide
    * fingerprint into `bands` equal slices, equi-join on (band, slice)
    * — by pigeonhole any pair within hamming distance `bands - 1`
    * shares at least one identical band, so for
    * `maxDistance <= bands - 1` this is EXACT (same result as the
    * all-pairs scan), while the join only expands same-band buckets.
    * Verification is `hammingDistance` on the candidate pairs.
    *
    * The exactness guarantee couples bucket granularity to fingerprint
    * width: each band key is `bits/bands` bits, so bucket space per
    * band is 2^(bits/bands). The DEFAULT is the canonical Manku et al.
    * WWW'07 setting — 64-bit SHINGLED fingerprints, 4 bands of 16-BIT
    * keys, hamming <= 3: 65k+ buckets per band, a space that grows
    * with the corpus, so candidate mass stays ~linear. (Shingling
    * matters too: unigram fingerprints on a shared-vocabulary corpus
    * cluster within hamming ~6 of each other, so bands stop pruning —
    * shingles spread random pairs to hamming ≈ bits/2.) The wide
    * variant is 128-bit/8-band/hamming-7 — same 16-bit keys, twice the
    * entropy. Narrow band keys are the scale trap: trading band width
    * for reach (e.g. 32-bit fingerprints in 4 bands = 8-bit keys to
    * keep hamming 3 cheap) caps every band at 256 buckets and goes
    * quadratic — measured 15× on a 10× corpus, then 28.8× again when a
    * gated query slipped back to it; the 32-bit config is a
    * SMALL-CORPUS DIAGNOSTIC only (its candidate ratio is reported by
    * the bench as `simhash32_candidate_ratio` next to the 64/128
    * ratios so the gap stays visible). Candidates leave the band join
    * already carrying both fingerprints (they sit on the band rows),
    * so the Hamming verify is a projection — no re-join.
    */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
      bits: Int = 64, bands: Int = 4, maxDistance: Int = 3,
      shingleK: Int = 3): DataFrame = {
    require(maxDistance <= bands - 1,
      s"banding into $bands bands is only exact up to distance ${bands - 1}")
    // the fingerprint aggregation (shingle explode + hash + `bits`
    // sums) is the dominant cost and feeds the band join twice plus
    // both verify joins — materialize it once. localCheckpoint (not
    // Dataset.persist): its blocks are reference-tracked and reclaimed
    // when the result is garbage-collected, so repeated calls in a
    // long-lived session don't pin cache entries forever.
    val fp = simhash(df, textCol, idCol, bits, shingleK).localCheckpoint()
    bandedHammingPairs(fp, bits, bands, maxDistance)
  }

  /** PERCEPTUAL image near-duplicate pairs — dHash over the REAL
    * `javax.imageio` decode path ([[Multimodal.dHash64]]: 9×8
    * brightness grid, sign-of-adjacent-difference bits), banded with
    * the EXACT simhash LSH machinery: the 64-bit fingerprint travels
    * in the simhash bit-string representation, so
    * [[simhashBandCandidates]] (bands × 16-bit keys, pigeonhole-exact
    * for `maxDistance <= bands - 1`) and the chunked-conv
    * [[hammingDistance]] verify apply to images UNCHANGED — images
    * are the fourth member of the banded dedup family (shingle
    * minhash, simhash, embedding LSH, now pixels), sharing one
    * candidate-generation geometry.
    *
    * Scale shape: decode+hash is one narrow UDF projection (linear in
    * corpus bytes, no shuffle); everything after runs on 64-BIT
    * fingerprints — the corpus-sized image bytes never reach a
    * shuffle. Band join defaults to the Manku 4×16-bit geometry
    * (65k+ buckets per band — the narrow-key 8×8-bit variant is the
    * documented scale trap); candidate mass is reported next to the
    * simhash selectivity diagnostics by the bench. Undecodable
    * payloads drop out before banding (null fingerprints can't pair).
    *
    * Output: (a, b, hamming), a < b, hamming <= maxDistance.
    */
  def imageDHashPairs(df: DataFrame, binCol: String, idCol: String,
      bands: Int = 4, maxDistance: Int = 3): DataFrame = {
    require(maxDistance <= bands - 1,
      s"banding into $bands bands is only exact up to distance ${bands - 1}")
    // decode once: the null filter runs AFTER the checkpoint — placed
    // before it, Catalyst pushes isnotnull(dhash) below the projection
    // by alias substitution and the ImageIO decode runs TWICE per row
    // (once in the Filter, once in the Project — guide §4.4); the
    // checkpoint holds the few null rows instead, which the filter
    // then drops for free
    val fp = Multimodal.imageDHash(df, binCol)
      .select(col(idCol).as("id"), col("dhash").as("simhash"))
      .localCheckpoint()
      .where(col("simhash").isNotNull)
    bandedHammingPairs(fp, 64, bands, maxDistance)
  }

  /** The BATCH banded-Hamming tail shared by every fingerprint family
    * (text simhash, image dHash, audio energy hash): pigeonhole-exact
    * band candidates + chunked-conv Hamming verify over a
    * caller-materialized `fp(id, simhash)` frame.
    */
  private def bandedHammingPairs(fp: DataFrame, bits: Int, bands: Int,
      maxDistance: Int): DataFrame = {
    require(maxDistance <= bands - 1,
      s"banding into $bands bands is only exact up to distance ${bands - 1}")
    // fingerprints travel ON the band rows (simhashBandRows), so the
    // candidate pair (a, b) leaves the band join already carrying
    // (sa, sb) and the verify is a projection — the pre-r18 form
    // shipped (a, b) id pairs and paid TWO corpus-sized shuffle joins
    // to re-attach fingerprints the band rows had in hand. The
    // distinct's shuffle rows widen by the two bit-strings, but the
    // two join exchanges (cand + fp, twice) disappear outright.
    val banded = simhashBandRows(fp, bits, bands)
    banded.select(col("band"), col("bkey"),
        col("id").as("a"), col("simhash").as("sa"))
      .join(banded.select(col("band"), col("bkey"),
        col("id").as("b"), col("simhash").as("sb")), Seq("band", "bkey"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"), col("sa"), col("sb"))
      .distinct()
      .withColumn("hamming",
        hammingDistance(col("sa"), col("sb"), bits).cast("long"))
      .where(col("hamming") <= maxDistance)
      .select(col("a"), col("b"), col("hamming"))
  }

  /** PERCEPTUAL audio near-duplicate pairs — the energy-envelope hash
    * over the canonical 8-bit PCM WAV layout
    * ([[Multimodal.wavEnergyHash64]]: 65 contiguous data-chunk
    * windows, sign-of-adjacent-energy bits, a PURE native expression
    * — no UDF anywhere in this plan), banded and verified with the
    * SAME machinery as every other fingerprint family. Audio is the
    * FIFTH banded dedup member (shingles, simhash, embeddings,
    * pixels, now PCM energy envelopes) on one candidate-generation
    * geometry. Scale shape: fingerprinting is a zero-shuffle codegen
    * projection; only 64-bit fingerprints reach the band join;
    * undecodable payloads drop out before banding.
    */
  def audioEnergyHashPairs(df: DataFrame, binCol: String, idCol: String,
      bands: Int = 4, maxDistance: Int = 3): DataFrame = {
    // null filter after the checkpoint: EnergyHashExpr is nullable, so
    // a pre-checkpoint isnotnull(simhash) is pushed into the
    // projection and the full-payload energy kernel runs TWICE per
    // row (guide §4.4 — same duplication as the image decode)
    val fp = df.select(col(idCol).as("id"),
        Multimodal.wavEnergyHash64(col(binCol)).as("simhash"))
      .localCheckpoint()
      .where(col("simhash").isNotNull)
    bandedHammingPairs(fp, 64, bands, maxDistance)
  }

  /** INCREMENTAL audio dedup — [[audioEnergyHashPairs]]'s
    * per-ingest-batch shape on the shared incremental banded probe
    * (see [[imageDHashPairsIncremental]]): only new clips' bands probe
    * the corpus band index. Result == batch RESTRICTED to
    * new-touching pairs (spec-pinned).
    */
  def audioEnergyHashPairsIncremental(df: DataFrame, binCol: String,
      idCol: String, isNewCol: Column, bands: Int = 4,
      maxDistance: Int = 3): DataFrame = {
    // null filter after the checkpoint — see audioEnergyHashPairs
    val fp = df.select(col(idCol).as("id"),
        Multimodal.wavEnergyHash64(col(binCol)).as("simhash"),
        isNewCol.as("isnew"))
      .localCheckpoint()
      .where(col("simhash").isNotNull)
    bandedHammingPairsIncremental(
      fp.select(col("id"), col("simhash")),
      fp.where(col("isnew")).select(col("id")), 64, bands, maxDistance)
  }

  /** 64-bit TEMPORAL-ENVELOPE fingerprint over an uncompressed AVI's
    * frame sequence — the video member of the banded family: the real
    * container walk yields per-frame exact energies
    * ([[Multimodal.aviFrameEnergies]]), the frame sequence is
    * resampled onto 65 contiguous windows (boundaries nf·w div 65 —
    * the 1-D nearest-neighbor mapping again) and bit w compares
    * mean(window w+1) vs mean(window w) as cross-multiplied exact
    * integer sums — [[Multimodal.wavEnergyHash64]]'s construction
    * lifted from PCM bytes to frame energies, so the hash is robust
    * to frame-rate resampling and per-frame re-encoding that
    * preserves the brightness envelope. Fewer than 65 frames leaves
    * empty windows comparing 0 vs 0 (deterministic '0' bits) — short
    * clips degrade to coarser hashes, the honest behavior.
    *
    * Scale shape: the container walk + energy projection is linear in
    * video bytes (no shuffle); ONE doc-keyed aggregation packs the
    * bounded frame-stat sequence (nf structs of three longs — never
    * pixels); windows+bits are per-row array arithmetic on that
    * bounded sequence, materialized once (localCheckpoint) so the
    * window pass never re-derives per bit. Returns fp(id, simhash).
    */
  def videoTemporalHash64(df: DataFrame, binCol: String,
      idCol: String): DataFrame = {
    val fr = Multimodal.aviFrameEnergies(df, binCol, idCol)
    val packed = fr.groupBy(col("id"))
      .agg(sort_array(collect_list(
        struct(col("frame_idx"), col("fsum"), col("flen")))).as("fs"))
    val nf = size(col("fs"))
    def dv(a: Column): Column = call_function("div", a.cast("long"), lit(65L))
    // window boundaries in LONG: nf * w in Int overflows past ~33M
    // frames — same overflow discipline as VecOps.energyHashBits,
    // whose kernel does this arithmetic in Long throughout
    val nfL = nf.cast("long")
    val wins = transform(sequence(lit(0), lit(64)), w => {
      val lo = dv(nfL * w)
      val cnt = dv(nfL * (w + 1)) - lo
      struct(
        aggregate(slice(col("fs"), lo.cast("int") + 1, cnt.cast("int")),
          lit(0L), (acc, f) => acc + f.getField("fsum")).as("e"),
        aggregate(slice(col("fs"), lo.cast("int") + 1, cnt.cast("int")),
          lit(0L), (acc, f) => acc + f.getField("flen")).as("sz"))
    })
    val winsDf = packed.select(col("id"), wins.as("wins")).localCheckpoint()
    val bits = transform(sequence(lit(0), lit(63)), w => {
      val a = element_at(col("wins"), w + 1)
      val c = element_at(col("wins"), w + 2)
      when(c.getField("e") * a.getField("sz") >
          a.getField("e") * c.getField("sz"), lit("1"))
        .otherwise(lit("0"))
    })
    winsDf.select(col("id"), array_join(bits, "").as("simhash"))
  }

  /** PERCEPTUAL video near-duplicate pairs — the temporal-envelope
    * hash banded and verified with the shared machinery: video is the
    * SIXTH banded dedup member (shingles, simhash, embeddings,
    * pixels, PCM energy, now frame envelopes) — every decoder the
    * engine has now feeds a dedup tier on one candidate-generation
    * geometry.
    */
  def videoTemporalHashPairs(df: DataFrame, binCol: String,
      idCol: String, bands: Int = 4, maxDistance: Int = 3): DataFrame = {
    val fp = videoTemporalHash64(df, binCol, idCol).localCheckpoint()
    bandedHammingPairs(fp, 64, bands, maxDistance)
  }

  /** INCREMENTAL video dedup on the shared incremental banded probe —
    * see [[imageDHashPairsIncremental]]; result == batch RESTRICTED
    * to new-touching pairs (spec-pinned).
    */
  def videoTemporalHashPairsIncremental(df: DataFrame, binCol: String,
      idCol: String, isNewCol: Column, bands: Int = 4,
      maxDistance: Int = 3): DataFrame = {
    val newIds = df.where(isNewCol).select(col(idCol).as("id"))
    val fp = videoTemporalHash64(df, binCol, idCol).localCheckpoint()
    bandedHammingPairsIncremental(fp, newIds, 64, bands, maxDistance)
  }

  /** INCREMENTAL SimHash near-dup pairs: pairs within `maxDistance`
    * touching at least one NEW document — the per-ingest-batch shape
    * of simhash dedup, mirroring [[minhashLshIncremental]]. The
    * corpus's band keys are a precomputed INDEX (recomputed from `df`
    * here so the gated query is self-contained; production reads
    * fingerprints from the signature store), and only the new batch's
    * bands PROBE it: per-bucket candidate work is
    * |new ∩ bucket| × |bucket|, never |bucket|² — the historical
    * corpus self-join never happens. Pigeonhole exactness carries over
    * unchanged: any pair within hamming `bands - 1` shares a band, and
    * when either member is new the probe finds that shared band.
    *
    * Result == [[simhashPairs]] at the same config RESTRICTED to pairs
    * with at least one `isNewCol` member (pinned by OpsSpec), so
    * batch-then-incremental composes to exactly the batch-global
    * answer. Output: (a, b, hamming), a < b.
    */
  def simhashPairsIncremental(df: DataFrame, textCol: String, idCol: String,
      isNewCol: Column, bits: Int = 64, bands: Int = 4, maxDistance: Int = 3,
      shingleK: Int = 3): DataFrame = {
    val fp = simhash(df, textCol, idCol, bits, shingleK).localCheckpoint()
    bandedHammingPairsIncremental(fp,
      df.where(isNewCol).select(col(idCol).as("id")), bits, bands,
      maxDistance)
  }

  /** The INCREMENTAL banded-Hamming probe shared by every
    * fingerprint family (text simhash, image dHash): the corpus's
    * band keys are the index, only the NEW ids' bands probe it —
    * per-bucket work is |new ∩ bucket| × |bucket|, never |bucket|².
    * `fp` is the (id, simhash-bit-string) frame, already
    * materialized by the caller.
    */
  private def bandedHammingPairsIncremental(fp: DataFrame,
      newIds: DataFrame, bits: Int, bands: Int,
      maxDistance: Int): DataFrame = {
    require(maxDistance <= bands - 1,
      s"banding into $bands bands is only exact up to distance ${bands - 1}")
    // fingerprints travel ON the band rows — same verify-as-projection
    // shape as bandedHammingPairs (the two id-keyed re-join shuffles
    // are gone); (sa, sb) follow the least/greatest normalization so
    // sa is always a's fingerprint
    val banded = simhashBandRows(fp, bits, bands)
    val probe = banded.join(newIds, "id")
    probe.select(col("band"), col("bkey"), col("id").as("x"),
        col("simhash").as("sx"))
      .join(banded.select(col("band"), col("bkey"), col("id").as("y"),
        col("simhash").as("sy")), Seq("band", "bkey"))
      .where(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"),
        when(col("x") < col("y"), col("sx")).otherwise(col("sy")).as("sa"),
        when(col("x") < col("y"), col("sy")).otherwise(col("sx")).as("sb"))
      .distinct()
      .withColumn("hamming", hammingDistance(col("sa"), col("sb"), bits).cast("long"))
      .where(col("hamming") <= maxDistance)
      .select(col("a"), col("b"), col("hamming"))
  }

  /** INCREMENTAL perceptual image dedup: near-dup image pairs
    * touching at least one NEW image — [[imageDHashPairs]]'s
    * per-ingest-batch shape, riding the SAME incremental banded probe
    * as text simhash ([[bandedHammingPairsIncremental]]): only new
    * images' bands probe the corpus band index, the historical corpus
    * never self-joins, and pigeonhole exactness carries over (a pair
    * within hamming `bands - 1` with a new member shares a band the
    * probe visits). Result == [[imageDHashPairs]] RESTRICTED to
    * new-touching pairs (spec-pinned), so batch-then-incremental
    * composes to the batch-global answer.
    */
  def imageDHashPairsIncremental(df: DataFrame, binCol: String,
      idCol: String, isNewCol: Column, bands: Int = 4,
      maxDistance: Int = 3): DataFrame = {
    // null filter after the checkpoint — see imageDHashPairs (§4.4
    // pushdown would run the decode twice per row)
    val fp = Multimodal.imageDHash(df, binCol)
      .select(col(idCol).as("id"), col("dhash").as("simhash"),
        isNewCol.as("isnew"))
      .localCheckpoint()
      .where(col("simhash").isNotNull)
    bandedHammingPairsIncremental(
      fp.select(col("id"), col("simhash")),
      fp.where(col("isnew")).select(col("id")), 64, bands, maxDistance)
  }
}
