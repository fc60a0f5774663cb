package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators: language id, quality scoring, token
  * counting, fingerprinting. All are single-pass, codegen-friendly
  * column expressions (no UDFs), so they run at scan speed and scale
  * linearly with corpus size.
  */
object TextAnalysis {

  /** Marker words per language for the n-gram/stopword language-id
    * heuristic. Kept tiny and deterministic so an external SQL oracle
    * can mirror the scoring exactly; a production build would swap in
    * full stopword tables (same shape, more rows).
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "a", "is"),
    "de" -> Seq("der", "und", "die", "das", "ist"),
    "es" -> Seq("el", "de", "la", "que", "es"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** Escape regex metacharacters with a backslash — valid in both Java
    * regex (Spark) and RE2 (DuckDB oracle mirrors), unlike \Q..\E.
    */
  def escapeRegex(s: String): String =
    s.flatMap(c => if ("\\^$.|?*+()[]{}".indexOf(c) >= 0) s"\\$c" else c.toString)

  /** Occurrences of `word` as a whole token in a space-separated text:
    * counts matches in " text " of " word ". Exact-arithmetic form with
    * the word regex-escaped so any SQL engine computes the identical
    * value for any word.
    */
  def tokenOccurrences(text: Column, word: String): Column = {
    val padded = concat(lit(" "), text, lit(" "))
    val needle = s" $word "
    // overlapping " a b a " cases don't occur since tokens are
    // delimited by single spaces and the needle consumes both spaces;
    // count via length difference, then the shared-space correction is
    // unnecessary for distinct non-adjacent matches. To stay exact for
    // adjacent matches we double the spaces first.
    val doubled = regexp_replace(padded, lit(" "), lit("  "))
    ((length(doubled) - length(regexp_replace(doubled, lit(s" ${escapeRegex(word)} "), lit(" "))))
      / lit(needle.length - 1)).cast("long")
  }

  /** Total occurrences of ANY word in `words` as a whole token — equal
    * to Σ [[tokenOccurrences]] over the set (distinct space-anchored
    * words can never match at the same position), but ONE regexp pass
    * over the text instead of |words| full-text replace passes: at
    * 100 TB the per-word form scans the corpus once per word. Matches
    * are counted directly (`regexp_extract_all`), so unlike the
    * length-difference form it needs no per-word length arithmetic and
    * a whole set shares one alternation. Same doubled-space trick for
    * adjacent-token exactness; non-capturing group so any engine
    * counts full matches.
    */
  def tokenSetOccurrences(text: Column, words: Seq[String]): Column = {
    require(words.nonEmpty, "empty word set")
    val padded = concat(lit(" "), text, lit(" "))
    val doubled = regexp_replace(padded, lit(" "), lit("  "))
    val alt = words.map(escapeRegex).mkString("|")
    size(regexp_extract_all(doubled, lit(s" (?:$alt) "), lit(0))).cast("long")
  }

  /** Per-language marker score = Σ occurrences of that language's
    * marker tokens — one alternation pass per language (the per-word
    * sum would scan the text once per marker; see
    * [[tokenSetOccurrences]]).
    */
  def langScore(text: Column, lang: String): Column =
    tokenSetOccurrences(text, LangMarkers.toMap.apply(lang))

  /** Predicted language: argmax of marker scores, ties broken by the
    * declaration order in `LangMarkers`; "und" (undetermined) when all
    * scores are 0.
    */
  def langId(text: Column): Column = {
    val scores = LangMarkers.map { case (l, _) => l -> langScore(text, l) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldLeft(when(best <= 0, lit("und"))) { case (acc, (l, s)) =>
      acc.when(s === best, lit(l))
    }.otherwise(lit("und"))
  }

  def tokenCount(text: Column): Column =
    (length(text) - length(regexp_replace(text, lit(" "), lit(""))) + 1).cast("long")

  /** Content-defined fingerprint: md5 of lowercased, whitespace-
    * collapsed text. Identical normalization on any engine.
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(text), lit("\\s+"), lit(" ")).cast("binary"))

  /** BPE-ish subword token count: runs of letters, runs of digits, and
    * individual other non-space characters — the shape of a byte-level
    * BPE pre-tokenizer's coarse split.
    */
  val BpePattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  def bpeTokenCount(text: Column): Column =
    regexp_count(lower(text), lit(BpePattern)).cast("long")

  /** Rabin-Karp-style polynomial rolling hash over the characters:
    * H = Σ ascii(c_i)·B^i mod M, exact 64-bit integer arithmetic so any
    * engine reproduces it bit-for-bit. Single pass, codegen'd, no UDF.
    */
  val HashBase = 31L
  val HashMod = 1000000007L
  val MaxHashLen = 1024

  /** B^i mod M for i = 1..MaxHashLen. */
  lazy val powTable: Seq[Long] =
    Iterator.iterate(HashBase)(p => p * HashBase % HashMod)
      .take(MaxHashLen).toSeq

  def rollingHash(text: Column): Column =
    // codegen'd single pass over the code points — value-identical to
    // the aggregate(sequence(...)) + ascii(substr(i,1)) formulation
    // (spark's ascii returns the full code point; VecExprSpec pins the
    // equivalence including multibyte text)
    graft.functions.vec.rollingHash(text, powTable, HashMod)

  /** Shannon character entropy in nats, 4-dp rounded: a repetition /
    * gibberish quality signal that needs no model artifact — natural
    * text sits in a band, while boilerplate ("aaaa…") collapses toward
    * 0 and random noise pushes toward ln(alphabet). A codegen'd native
    * expression (`vec.charEntropy` — one O(len + alphabet) pass over
    * code points, counts folded in ascending-code-point order, the
    * same summation sequence as the oracle's list_sort'ed fold): ZERO
    * shuffle at any corpus size, and none of the interpreted
    * higher-order-function tree's O(len²) per-position substr cost
    * (the HOF formulation measured 76 s on the sf0.1 corpus; this
    * measures sub-second). Empty text scores 0 via the guard; NULL
    * text propagates NULL — standard SQL semantics, matching the
    * entropy oracle (whose CASE also passes NULL through).
    */
  def charEntropy(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise(round(graft.functions.vec.charEntropy(text), 4))

  /** Distinct-character count (code points), the alphabet-size
    * companion signal to [[charEntropy]] (entropy near ln(alphabet) =
    * flat usage). NULL text propagates NULL, like [[charEntropy]]. */
  def distinctChars(text: Column): Column =
    graft.functions.vec.distinctChars(text)

  /** Per-document n-gram NOVELTY — the "how much of this doc is new
    * text" curation signal: the fraction of the doc's DISTINCT word
    * k-shingles whose FIRST corpus occurrence (minimum doc id, i.e.
    * ingest order) is this doc. Boilerplate-heavy and near-duplicate
    * docs score near 0; genuinely new text scores 1.0 at any corpus
    * size. The per-gram min-id attribution is the same statistic the
    * exact-substring span pass keys on, packaged as a per-doc scalar
    * a quality-filter ensemble can consume directly.
    *
    * Scale shape: novelty = owned / total, where `total` is the
    * per-doc distinct-gram count and `owned` counts the grams whose
    * corpus-min id is this doc — so the plan is TWO map-side-
    * combinable aggregates over the gram explode (one doc-keyed, one
    * gram-keyed-then-doc-keyed; hot boilerplate grams spread by hash,
    * the [[Dedup.duplicatedSubstringSpans]] key discipline) joined at
    * DOC granularity. The earlier formulation joined the per-gram
    * verdict back onto the gram table — a gram-MASS join this shape
    * eliminates entirely (10× probe: ratio 4.46 → the aggregate-only
    * form; the join side is now doc-count-sized). No pairwise term
    * anywhere; the ratio is one division of exact integers, rounded
    * 6 dp.
    *
    * Docs with fewer than k tokens have no shingles and are absent
    * (they carry no n-gram evidence either way — a quality ensemble
    * treats absent as "too short to judge").
    *
    * Output: (idCol, n_shingles, novelty).
    */
  def ngramNovelty(df: DataFrame, textCol: String, idCol: String,
      k: Int): DataFrame = {
    val sh = Dedup.wordShingles(df, textCol, idCol, k)
    val perDoc = sh.groupBy(col("id")).agg(count(lit(1)).as("n_shingles"))
    val owned = sh.groupBy(col("sh")).agg(min(col("id")).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("owned"))
    perDoc.join(owned, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_shingles"),
        round(coalesce(col("owned"), lit(0L)).cast("double") /
          col("n_shingles").cast("double"), 6).as("novelty"))
  }
}
