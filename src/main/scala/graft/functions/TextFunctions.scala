package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, counting, quality scoring, language-ID scoring.
  *
  * All are compositions of built-in (whole-stage-codegen'd) functions —
  * no UDFs in the hot path. Definitions are deliberately simple and
  * *portable* (expressible in ANSI-ish SQL) so every operator can be
  * oracle-checked.
  */
object TextFunctions {

  /** Whitespace tokens of trimmed lowercase text; empty text → empty array. */
  def tokens(c: Column): Column = {
    val t = trim(lower(c))
    when(t === "", array().cast(ArrayType(StringType)))
      .otherwise(split(t, "\\s+"))
  }

  /** Token count (whitespace segmentation). */
  def tokenCount(c: Column): Column = size(tokens(c))

  /** Distinct-token set. */
  def tokenSet(c: Column): Column = array_distinct(tokens(c))

  /** BPE-ish subword count: tokens re-segmented by a simple
    * letters/digits/other regex, ~the usual `\w+|[^\w\s]` pre-tokenizer.
    */
  def subwordCount(c: Column): Column =
    size(filter(split(lower(c), "[^a-z0-9]+"), x => x =!= ""))

  /** Punctuation characters (non-word, non-space). */
  def punctCount(c: Column): Column =
    length(c) - length(regexp_replace(c, "[^\\w\\s]", ""))

  /** Mean token length in characters (0 for empty docs); a single double
    * division so it hash-compares across engines.
    */
  def meanTokenLength(c: Column): Column = {
    val n = tokenCount(c)
    when(n === 0, lit(0.0))
      .otherwise(aggregate(tokens(c), lit(0L), (acc, t) => acc + length(t)).cast(DoubleType) / n)
  }

  /** Stopword hit ratio against a wordlist (set semantics). */
  def stopwordRatio(c: Column, stopwords: Seq[String]): Column = {
    val toks = tokenSet(c)
    when(size(toks) === 0, lit(0.0))
      .otherwise(size(array_intersect(toks, array(stopwords.map(lit): _*))).cast(DoubleType) / size(toks))
  }

  /** Heuristic quality score in [0,1]: long-enough, low-punctuation,
    * reasonable mean token length, some stopwords — the standard cheap
    * pre-filter shape for LLM corpus cleaning. Deterministic arithmetic
    * over integer counts (portable to the oracle).
    */
  def qualityScore(c: Column, stopwords: Seq[String] = EnglishStopwords): Column = {
    val len = length(c).cast(DoubleType)
    val lenScore = least(len / 200.0, lit(1.0))
    val punctScore = lit(1.0) - least(punctCount(c).cast(DoubleType) / greatest(len, lit(1.0)) * 4.0, lit(1.0))
    val mtl = meanTokenLength(c)
    val mtlScore = when(mtl >= 3.0 && mtl <= 10.0, 1.0).otherwise(0.5)
    val stopScore = least(stopwordRatio(c, stopwords) * 4.0, lit(1.0))
    lenScore * 0.3 + punctScore * 0.3 + mtlScore * 0.2 + stopScore * 0.2
  }

  /** Language profiles: high-frequency marker words per language. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "with"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "von", "mit", "den", "ein"),
    "es" -> Seq("el", "la", "de", "que", "los", "las", "por", "con", "una", "para"),
    "fr" -> Seq("le", "la", "les", "et", "des", "est", "dans", "pour", "que", "une"))

  val EnglishStopwords: Seq[String] = LangProfiles.head._2

  /** DuckDB mirror of the token split used by the text metrics — the
    * `toks` column every quality CTE starts from. Shared by the t01 and
    * t09 oracles so the formula exists exactly once per engine.
    */
  val ToksSql: String =
    """list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')"""

  /** DuckDB mirror of the [[qualityScore]] inputs — SELECT items
    * computing `n_chars`, `n_punct`, `mean_token_len`, `stop_ratio`
    * from `text` and `toks`. Any change to the Scala metrics must
    * change this fragment in lockstep. (Defined after
    * [[EnglishStopwords]] — object vals initialize in order.)
    */
  val QualityMetricsSql: String = {
    val stop = EnglishStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""CAST(length(text) AS INT) AS n_chars,
       |CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS INT) AS n_punct,
       |CASE WHEN len(toks) = 0 THEN 0.0
       |     ELSE CAST(list_sum(list_transform(toks, x -> CAST(length(x) AS BIGINT))) AS DOUBLE) / len(toks)
       |END AS mean_token_len,
       |CASE WHEN len(list_distinct(toks)) = 0 THEN 0.0
       |     ELSE CAST(len(list_intersect(list_distinct(toks), $stop)) AS DOUBLE) / len(list_distinct(toks))
       |END AS stop_ratio""".stripMargin
  }

  /** DuckDB mirror of `floor(`[[qualityScore]]`·1e6)` over the
    * [[QualityMetricsSql]] columns — the weights/clamps here and in the
    * Scala function are the same formula and must move together.
    */
  val QualityMicroSql: String =
    """CAST(FLOOR((
      |   LEAST(CAST(n_chars AS DOUBLE) / 200.0, 1.0) * 0.3
      | + (1.0 - LEAST(CAST(n_punct AS DOUBLE) / GREATEST(CAST(n_chars AS DOUBLE), 1.0) * 4.0, 1.0)) * 0.3
      | + (CASE WHEN mean_token_len >= 3.0 AND mean_token_len <= 10.0 THEN 1.0 ELSE 0.5 END) * 0.2
      | + LEAST(stop_ratio * 4.0, 1.0) * 0.2) * 1e6) AS BIGINT)""".stripMargin

  /** Per-language marker-hit score (distinct-token intersection size). */
  def langScore(c: Column, profile: Seq[String]): Column =
    size(array_intersect(tokenSet(c), array(profile.map(lit): _*)))

  /** Argmax language over [[LangProfiles]]; ties and zero-score docs
    * resolve to "und" (undetermined) / first-alphabetical winner —
    * deterministic by construction.
    */
  def langId(c: Column): Column = {
    // array_max over (score, -alpha-rank, lang) structs, NOT a reduce of
    // when/otherwise: that fold references its accumulator twice per
    // step, doubling the expression tree per language — and every copy
    // carries a tokenize. Max by score, ties to the smaller alpha rank
    // (negated so the struct MAX picks it) = alphabetically-first
    // winner, exactly the fold's keep-first semantics.
    val best = array_max(array(LangProfiles.sortBy(_._1).zipWithIndex.map {
      case ((lang, words), i) =>
        struct(langScore(c, words).as("score"), lit(-i).as("nk"), lit(lang).as("lang"))
    }: _*))
    when(best.getField("score") === 0, lit("und")).otherwise(best.getField("lang"))
  }

  /** Word n-grams (shingles) of the token stream, space-joined, distinct.
    * Documents shorter than n tokens yield their full token string as the
    * single shingle (so tiny docs still participate in dedup).
    *
    * PERFORMANCE: convenience form only — it inlines `tokens(c)` under
    * the interpreted gram lambda, which re-tokenizes the document per
    * gram index (O(tokens²) per doc). Hot paths must bind the tokens in
    * their own projection and call [[gramsOfTokens]] (see
    * `TextDedup.shingles` and the PlanSpec tokenize-once guard).
    */
  def wordNgrams(c: Column, n: Int): Column =
    array_distinct(gramsOfTokens(tokens(c), n))

  /** Frequency-preserving variant of [[wordNgrams]] (repeats kept) —
    * the input to repetition metrics and corpus gram counts, where how
    * often a gram occurs is the signal. Same PERFORMANCE caveat as
    * [[wordNgrams]]: hot paths bind tokens first and use
    * [[gramsOfTokens]].
    */
  def wordNgramsAll(c: Column, n: Int): Column =
    gramsOfTokens(tokens(c), n)

  /** N-grams over a token-array column (repeats kept).
    *
    * PERFORMANCE: pass a *bound* token array (an attribute produced by a
    * separate projection), not `tokens(text)` inline. Higher-order
    * lambdas run interpreted with no common-subexpression elimination,
    * so an inline `tokens(text)` under `slice` re-tokenizes the whole
    * document once per gram index — O(tokens²) per doc; over a bound
    * reference each slice is O(n). (Spark's CollapseProject declines to
    * merge the two projections because the alias is non-cheap and
    * multiply referenced, so the binding survives optimization.)
    */
  def gramsOfTokens(toks: Column, n: Int): Column =
    // one compiled loop (WordGrams) — semantically identical to the
    // transform/sequence/slice composition but with no interpreted
    // lambda and no per-gram slice allocation; also immune to the
    // outer-ref re-tokenization pitfall the PlanSpec guard watches for
    WordGrams(toks, n)
}
