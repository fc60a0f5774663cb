package graft.ops

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BPE tokenizer TRAINING (Sennrich et al., "Neural Machine Translation
  * of Rare Words with Subword Units") — the other half of the tokenizer
  * story next to `TextAnalysis.bpeTokenCount` (which only counts
  * pre-tokenizer matches): learn the merge table itself from the
  * corpus.
  *
  * Scale split: the ONLY corpus-scale pass is `wordCounts` — one
  * map-side-combinable aggregation collapsing the corpus to its
  * vocabulary (|vocab| rows ≪ corpus rows; at 100 TB the vocabulary is
  * millions of rows, still a small DataFrame). Every merge iteration
  * after that runs on the vocabulary table only: one adjacent-pair
  * count aggregation (weighted by word frequency — counting each
  * DISTINCT word once and weighting is exactly equivalent to counting
  * the raw corpus, which is why BPE trainers all run on the frequency
  * table) and one map over the symbol sequences. The per-iteration
  * argmax ships ONE row to the driver (the winning pair) — bounded,
  * like the k-means/PQ trained constants.
  *
  * Determinism: ties on pair count break by (a, b) ascending, so the
  * merge sequence is a pure function of the corpus on any engine.
  */
object BpeTrain {

  /** Corpus → word frequency table: (word, c). The one corpus-scale
    * pass; everything downstream is O(|vocab|).
    */
  def wordCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(filter(split(col(textCol), " "), t => t =!= ""))
        .as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("c"))

  /** Adjacent symbol-pair counts over a (syms: array<string>, c: long)
    * vocabulary, weighted by word frequency: (a, b, cnt). One explode
    * (≤ Σ word lengths rows) into a map-side-combinable aggregation.
    */
  def pairCounts(vocab: DataFrame): DataFrame =
    vocab
      .where(size(col("syms")) > 1)
      .select(col("c"), explode(expr(
        "transform(sequence(1, size(syms) - 1), " +
          "i -> named_struct('a', syms[i-1], 'b', syms[i]))")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("c")).as("cnt"))

  /** Word → initial single-character symbol array. `split` on the
    * empty pattern keeps a trailing "" (Java split with limit -1) —
    * dropped here, or the empty symbol would join the pair statistics.
    */
  def charSyms(word: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    filter(split(word, ""), s => s =!= "")

  /** One word's symbols with its corpus frequency — the unit the merge
    * loop iterates over. */
  final case class SymWord(syms: Seq[String], c: Long)

  /** Symbol-boundary sentinels for [[bpeEncode]]'s string-form merge
    * application: every symbol travels as `\u0001sym\u0002`, so the
    * literal replace of `\u0001a\u0002\u0001b\u0002` can only match
    * at symbol boundaries, and Java's leftmost-non-overlapping
    * replace-all IS the BPE merge rule (match, emit, continue AFTER
    * the match — `l l l` merges to `ll l`, never `l ll`). The corpus
    * never contains the control chars (binary payloads travel in
    * binary columns, not text).
    */
  private val B1 = "\u0001"
  private val B2 = "\u0002"

  /** Apply a trained merge list: TOKENIZE every document with the
    * frozen tokenizer — the pass a production pipeline runs over the
    * whole corpus between BPE training and sequence packing (the
    * reference's "build once at seal, apply per record" discipline:
    * `/root/reference/crates/sierradb/src/writer_thread_pool.rs:698-793`).
    *
    * The encode is ONE codegen'd projection: whitespace-normalize
    * (token sequence unchanged — runs of spaces collapse, edges
    * strip), wrap every character in the sentinel pair, unwrap the
    * inter-word spaces so merges can never cross a word boundary,
    * then apply the k merges IN TRAINING ORDER as k literal
    * `replace` calls. Every function in the chain (regexp_replace /
    * replace / translate / length) is a non-HOF codegen'd string
    * expression, so whole-stage codegen evaluates the shared encode
    * subtree once per row even after projection collapse — the
    * vec.winnow discipline (a per-row higher-order fold here would be
    * re-inlined per consumer and excluded from subexpression
    * elimination).
    *
    * Scale shape: zero shuffle — linear in corpus bytes with the
    * merge count a (small) plan constant; nothing materializes beyond
    * the projected row. The alternative (encode the distinct-word
    * vocabulary once, join back) collapses the k factor to |vocab|
    * but buys it with a corpus-wide shuffle on the token stream — at
    * 100 TB the shuffle loses to k extra in-cache string scans. At
    * production merge counts (30k+) the plan-constant chain stops
    * being viable and the vocab-join shape wins; k here is the
    * gated-geometry regime, like every trained-constant leg.
    *
    * Output: (idCol, n_bpe_tokens, enc) — `enc` is the tokenized
    * document (each symbol prefixed by `|`, words separated by
    * spaces) for rows matching `samplePred`, NULL otherwise (the
    * bounded sample a correctness gate pins sequences on; counts are
    * pinned corpus-wide).
    */
  def bpeEncode(df: DataFrame, textCol: String, idCol: String,
      merges: Seq[(String, String)],
      samplePred: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, length, lit,
      regexp_replace, replace, translate, when}
    // NULL text coalesces to '' so a null-text row encodes as
    // (0 tokens, empty sequence) — identical to [[bpeEncodeVocab]],
    // whose explode-join path yields no tokens for a null document and
    // coalesces the count/sequence to 0/''. Without this the two
    // spec-pinned result-identical encoders diverged on null rows.
    val norm = regexp_replace(
      regexp_replace(coalesce(col(textCol), lit("")), " +", " "),
      "^ | $", "")
    val wrapped = replace(
      regexp_replace(norm, "(?s)(.)", B1 + "$1" + B2),
      lit(B1 + " " + B2), lit(" "))
    val enc = merges.foldLeft(wrapped) { case (s, (a, b)) =>
      replace(s, lit(B1 + a + B2 + B1 + b + B2), lit(B1 + a + b + B2))
    }
    df.select(col(idCol),
      (length(enc) - length(replace(enc, lit(B1), lit(""))))
        .cast("long").as("n_bpe_tokens"),
      when(samplePred, translate(enc, B1 + B2, "|")).as("enc"))
  }

  /** The VOCAB-JOIN encode — [[bpeEncode]]'s production swap for
    * large merge tables: tokenization is per WORD, so encode the
    * DISTINCT-word vocabulary once (|vocab| × k replace work instead
    * of corpus × k) and join the per-doc token stream back. The
    * trade: one corpus-wide shuffle of the token stream (the join +
    * doc-keyed aggregations) buys independence from the merge count —
    * at gated-geometry k the direct projection wins (zero shuffle),
    * at production k (30k+ merges, where a k-deep expression chain
    * stops being a viable plan) this shape wins; both are exposed and
    * result-identical (BpeTrainSpec pins equality, and the gate
    * shares [[bpeEncode]]'s oracle verbatim).
    *
    * The encoded vocabulary is the built-once artifact
    * (localCheckpoint — both the count and sequence consumers read
    * it; production would persist it next to the merge table). Output
    * contract identical to [[bpeEncode]].
    */
  def bpeEncodeVocab(df: DataFrame, textCol: String, idCol: String,
      merges: Seq[(String, String)],
      samplePred: org.apache.spark.sql.Column): DataFrame =
    bpeEncodeWithVocab(df, textCol, idCol,
      encodedVocab(df, textCol, merges).localCheckpoint(), merges,
      samplePred)

  /** The ENCODED VOCABULARY — the vocab-join encode's built-once
    * artifact: every distinct word of the corpus tokenized by the
    * frozen merge chain, as (word, nsym, wenc). |vocab| rows ≪ corpus
    * rows; [[bpeEncodeVocab]] localCheckpoints it per session, and
    * [[BpeStore]] persists it next to the merge table so a fresh
    * reader skips the |vocab| × k encode entirely.
    */
  def encodedVocab(df: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    // words contain no spaces (they ARE the space-split tokens), so
    // no inter-word unwrap is needed — wrap and run the merge chain
    val wrapped = regexp_replace(col("word"), "(?s)(.)", B1 + "$1" + B2)
    val enc = merges.foldLeft(wrapped) { case (s, (a, b)) =>
      replace(s, lit(B1 + a + B2 + B1 + b + B2), lit(B1 + a + b + B2))
    }
    wordCounts(df, textCol).select(col("word"),
      (length(enc) - length(replace(enc, lit(B1), lit(""))))
        .cast("long").as("nsym"),
      translate(enc, B1 + B2, "|").as("wenc"))
  }

  /** Encode a frame of words by the per-word merge FOLD — the
    * PRODUCTION-DEPTH apply: one [[applyMerge]] pass per merge over
    * the symbol vector, so the merge table travels as CLOSURE data
    * (plan size O(1) in merge count) instead of k nested replace
    * nodes. Both chained-replace expression shapes die of plan depth
    * between 512 and 2048 merges (measured by the `bpe_depth`
    * diagnostic: Catalyst stack overflow on the 2048-deep tree); this
    * shape is the one that reaches 30k+ production tables. Output
    * contract identical to [[encodedVocab]]: (word, nsym, wenc) —
    * the merge RULE is shared (`applyMerge`, the one implementation
    * behind the trainer, the synthetic-table builder, and this), so
    * equality with the expression encoders is by construction
    * (BpeTrainSpec pins it).
    */
  def encodeWords(words: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    // symbols come from the EXPRESSION charSyms (not a Scala-side
    // split), so char-boundary semantics cannot drift between the
    // fold and expression encoders
    words.select(col("word"), charSyms(col("word")).as("syms"))
      .as[(String, Seq[String])]
      .map { case (w, s0) =>
        val s = merges.foldLeft(s0) { case (acc, (a, b)) =>
          applyMerge(acc, a, b)
        }
        (w, s.length.toLong, s.map("|" + _).mkString)
      }
      .toDF("word", "nsym", "wenc")
  }

  /** The encoded vocabulary via [[encodeWords]] — [[encodedVocab]]'s
    * production-depth twin. */
  def encodedVocabFold(df: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    encodeWords(wordCounts(df, textCol).select(col("word")), merges)

  /** Vocab-join encode with the FOLD-encoded vocabulary — the shape
    * that survives production merge depth (plan size independent of
    * the merge count; per-word cost O(k · len) over |vocab| rows
    * only, never the corpus). Result-identical to [[bpeEncode]] and
    * [[bpeEncodeVocab]] (spec-pinned; the gate shares their oracle
    * verbatim).
    */
  def bpeEncodeVocabFold(df: DataFrame, textCol: String, idCol: String,
      merges: Seq[(String, String)],
      samplePred: org.apache.spark.sql.Column): DataFrame =
    bpeEncodeWithVocab(df, textCol, idCol,
      encodedVocabFold(df, textCol, merges).localCheckpoint(), merges,
      samplePred)

  /** Vocab-join encode against a PRE-BUILT (possibly persisted)
    * encoded vocabulary. Words ABSENT from the vocabulary — a corpus
    * that drifted since the vocabulary was built — are REPAIRED
    * first: the distinct unseen words (bounded: |new words| rows,
    * never corpus-shaped) are encoded by the per-word merge fold
    * ([[encodeWords]]) and unioned into the vocabulary, making the
    * join total. The merge table is the tokenizer CONTRACT, the
    * encoded vocabulary only its cache: a stale cache must never
    * change a token, and an unrepaired inner join would silently
    * DROP unseen words from counts and sequences. (The previous
    * repair — a coalesce over the k-deep chained-replace fallback —
    * put the whole merge chain back into the plan, the exact
    * plan-depth cliff the vocabulary artifact exists to avoid,
    * measured fatal past ~512 merges by `bpe_depth`.) Output
    * contract identical to [[bpeEncode]] (BpeTrainSpec/BpeStoreSpec
    * pin equality, vocab hits and misses both).
    */
  def bpeEncodeWithVocab(df: DataFrame, textCol: String, idCol: String,
      wordsEnc: DataFrame, merges: Seq[(String, String)],
      samplePred: org.apache.spark.sql.Column): DataFrame = {
    val toks = df.select(col(idCol), samplePred.as("samp"),
      posexplode(filter(split(col(textCol), " "), x => x =!= ""))
        .as(Seq("pos", "word")))
    val missing = toks.select(col("word")).distinct()
      .join(wordsEnc, Seq("word"), "left_anti")
    val full = wordsEnc.select(col("word"), col("nsym"), col("wenc"))
      .unionByName(encodeWords(missing, merges))
    val joined = toks.join(full, Seq("word"))
      .select(col(idCol), col("samp"), col("pos"), col("nsym"),
        col("wenc"))
    val cnt = joined.groupBy(col(idCol)).agg(sum(col("nsym")).as("n_bpe"))
    // encoded sequences only for the sampled docs — the collect_list
    // is doc-bounded and sample-restricted, never corpus-shaped
    val encs = joined.where(col("samp"))
      .groupBy(col(idCol))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("wenc")))),
        x => x.getField("wenc")), " ").as("enc0"))
    df.select(col(idCol), samplePred.as("samp"))
      .join(cnt, Seq(idCol), "left")
      .join(encs, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bpe"), lit(0L)).as("n_bpe_tokens"),
        when(col("samp"), coalesce(col("enc0"), lit(""))).as("enc"))
  }

  /** Learn `numMerges` BPE merges from the corpus. Returns the merge
    * table in application order. Each iteration: pair-count the
    * vocabulary, take the (count desc, pair asc) argmax, merge leftmost
    * non-overlapping occurrences in every word's symbol sequence (a
    * typed map over |vocab| rows — not the corpus). `localCheckpoint`
    * cuts the per-iteration lineage the same way the
    * connected-components loop does.
    */
  def trainBpe(df: DataFrame, textCol: String, numMerges: Int)
      : Seq[(String, String)] = {
    require(numMerges >= 0, "numMerges must be non-negative")
    val spark = df.sparkSession
    import spark.implicits._
    var vocab = wordCounts(df, textCol)
      .select(charSyms(col("word")).as("syms"), col("c"))
      .localCheckpoint()
    val merges = ArrayBuffer.empty[(String, String)]
    var exhausted = false
    while (merges.length < numMerges && !exhausted) {
      val top = pairCounts(vocab)
        .orderBy(desc("cnt"), col("a"), col("b")).limit(1).collect()
      if (top.isEmpty) exhausted = true // every word is a single symbol
      else {
        val (a, b) = (top(0).getAs[String]("a"), top(0).getAs[String]("b"))
        merges += ((a, b))
        vocab = vocab.as[SymWord].map(w =>
            SymWord(applyMerge(w.syms, a, b), w.c))
          .toDF("syms", "c").localCheckpoint()
      }
    }
    merges.toSeq
  }

  /** ONE leftmost-non-overlapping application of merge (a, b) to a
    * symbol sequence — THE merge rule, shared by [[trainBpe]]'s
    * per-iteration rewrite and [[syntheticMerges]]'s batched apply so
    * the rule every encoder's correctness leans on exists once.
    */
  private def applyMerge(syms: Seq[String], a: String,
      b: String): Seq[String] = {
    // fast path: most (word, merge) pairs don't match — scan before
    // allocating a rebuild buffer. At production depth the fold
    // encoder ([[encodeWords]]) runs |vocab| × k of these, so the
    // no-match path must be allocation-free.
    var j = 0
    var found = false
    while (!found && j < syms.length - 1) {
      if (syms(j) == a && syms(j + 1) == b) found = true
      j += 1
    }
    if (!found) syms
    else {
      val out = ArrayBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toSeq
    }
  }

  /** A SYNTHETIC merge table for encode COST diagnostics: BATCHED
    * rounds of pair statistics — each round takes EVERY surviving
    * adjacent pair by (cnt desc, a, b), appends them in that order,
    * applies the whole batch to the vocabulary in one typed map, and
    * recounts — so a 1024-deep table costs a handful of Spark jobs
    * instead of 1024 training iterations. Not a true BPE argmax
    * sequence (a round's later merges don't see its earlier merge
    * products' pair stats), which is irrelevant to what it is for:
    * the two encoders must agree on ANY applied-in-order table, and
    * apply cost scales with table depth and hit rate, not argmax
    * optimality. Never feeds a correctness gate.
    */
  def syntheticMerges(df: DataFrame, textCol: String,
      k: Int): Seq[(String, String)] = {
    val spark = df.sparkSession
    import spark.implicits._
    var vocab = wordCounts(df, textCol)
      .select(charSyms(col("word")).as("syms"), col("c"))
      .localCheckpoint()
    val merges = ArrayBuffer.empty[(String, String)]
    var exhausted = false
    while (merges.length < k && !exhausted) {
      val batch = pairCounts(vocab)
        .orderBy(desc("cnt"), col("a"), col("b"))
        .limit(k - merges.length)
        .collect()
        .map(r => (r.getAs[String]("a"), r.getAs[String]("b"))).toSeq
      if (batch.isEmpty) exhausted = true
      else {
        merges ++= batch
        vocab = vocab.as[SymWord].map(w =>
            SymWord(batch.foldLeft(w.syms) { case (s, (a, b)) =>
              applyMerge(s, a, b)
            }, w.c))
          .toDF("syms", "c").localCheckpoint()
      }
    }
    merges.toSeq
  }

  /** Padding merges past a corpus's exhaustion depth (the vocabulary
    * collapses to single symbols after ~150 real merges at bench SF):
    * deterministic pairs over a \u0005-prefixed alphabet that occurs in
    * no document and no real merge product, so a padding merge can
    * never change a token — but the encoders cannot know that, so each
    * still costs what a zero-hit real merge costs: one literal-replace
    * scan per row (direct) / per vocab word (vocab-join) and one more
    * level of expression depth in the plan. That is exactly the term
    * the bench's `bpe_depth` diagnostic measures — where the k-deep
    * chained-replace plan stops being viable (plan-size/compile-time
    * cliff, not just wall) — and it is a LOWER bound on real-merge
    * cost (hits add string rebuilds). Token sums at padded depths must
    * equal the full-real-table sums.
    */
  def padMerges(from: Int, to: Int): Seq[(String, String)] =
    (from until to).map(i => ("\u0005a" + i, "\u0005b" + i))
}
