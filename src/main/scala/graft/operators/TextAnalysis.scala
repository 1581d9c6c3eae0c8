package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for the training-data pipeline: token counting,
 * quality scoring, language identification, and document fingerprinting.
 *
 * Everything here is built from codegen'd Catalyst built-ins (split /
 * regexp_replace / higher-order array functions) — no UDFs in the hot path —
 * and each formula is reproducible in ANSI SQL for the DuckDB oracle.
 *
 * Shared token contract (same as [[graft.functions.Shingles.tokenize]]):
 * lowercase, split on runs of `[^a-z0-9]`, empty tokens dropped.
 */
object TextAnalysis {

  /** Tokens as an array column. */
  def tokens(content: Column): Column =
    filter(split(lower(content), "[^a-z0-9]+"), t => t =!= "")

  /** Occurrences of any of `words` in the token array (not deduped). */
  private def occurrences(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit): _*))).cast("long")

  val Stopwords: Seq[String] =
    Seq("the", "a", "of", "to", "and", "in", "is", "it", "for", "on")

  /**
   * Per-document statistics: `(rkey, n_chars, n_tokens, n_alnum, alnum_ratio,
   * avg_token_len, stopword_ratio, quality_score)`. The quality score is the
   * standard cheap heuristic family (length saturation + character-class
   * ratio + stopword density), deterministic double arithmetic.
   */
  def textStats(corpus: DataFrame): DataFrame = {
    val toks = tokens(col("content"))
    val nChars = length(col("content")).cast("long")
    val nAlnum = length(regexp_replace(lower(col("content")), "[^a-z0-9]", "")).cast("long")
    val nTokens = size(toks).cast("long")
    val nStop = occurrences(toks, Stopwords)
    val alnumRatio = when(nChars > 0, nAlnum.cast("double") / nChars).otherwise(lit(0.0))
    val avgTokLen = when(nTokens > 0, nAlnum.cast("double") / nTokens).otherwise(lit(0.0))
    val stopRatio = when(nTokens > 0, nStop.cast("double") / nTokens).otherwise(lit(0.0))
    val lenSat = when(nTokens >= 50, lit(1.0)).otherwise(nTokens.cast("double") / 50.0)
    val score = lit(0.4) * alnumRatio + lit(0.3) * lenSat + lit(0.3) * (lit(1.0) - stopRatio)
    corpus.select(
      col("rkey"),
      nChars.as("n_chars"),
      nTokens.as("n_tokens"),
      nAlnum.as("n_alnum"),
      alnumRatio.as("alnum_ratio"),
      avgTokLen.as("avg_token_len"),
      stopRatio.as("stopword_ratio"),
      score.as("quality_score"))
  }

  /** Marker-token lists for the stopword-voting language heuristic. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "en" -> Seq("the", "is", "and", "of", "to"),
    "es" -> Seq("el", "la", "de", "que", "los"),
    "fr" -> Seq("le", "la", "les", "et", "des"))

  /**
   * Language-ID heuristic: CJK codepoints force `zh`; otherwise argmax of
   * marker-token occurrence counts with alphabetical tie-break; no markers at
   * all → `und`. (On this corpus the incoming `lang` column is a label, not a
   * property of the text — the operator demonstrates the heuristic shape used
   * by real pipelines; its contract is determinism, verified by the oracle.)
   */
  def langId(corpus: DataFrame): DataFrame = {
    val toks = tokens(col("content"))
    val scored = corpus.select(
      (col("rkey") +: (size(regexp_extract_all(col("content"), lit("[\\x{4e00}-\\x{9fff}]"), lit(0)))
        .cast("long").as("s_zh") +:
        LangMarkers.map { case (l, ws) => occurrences(toks, ws).as(s"s_$l") })): _*)
    val Seq(de, en, es, fr) = LangMarkers.map { case (l, _) => col(s"s_$l") }
    val zh = col("s_zh")
    val pred = when(zh > 0, lit("zh"))
      .when(de + en + es + fr === 0, lit("und"))
      .when(de >= en && de >= es && de >= fr, lit("de"))
      .when(en >= es && en >= fr, lit("en"))
      .when(es >= fr, lit("es"))
      .otherwise(lit("fr"))
    scored.withColumn("predicted_lang", pred)
  }

  private val minGramUdf = udf((c: String, w: Int) => Substring.md5MinGram(c, w))

  /** Document fingerprint: the minimum md5 over all `w`-char windows — the
   *  1-fingerprint degenerate case of winnowing (Schleimer et al., MOSS);
   *  robust to content rotation/shifts. Documents shorter than `w` are
   *  excluded. */
  def fingerprints(corpus: DataFrame, w: Int = 48): DataFrame =
    corpus.where(length(col("content")) >= w)
      .select(col("rkey"), minGramUdf(col("content"), lit(w)).as("fingerprint"))
}
