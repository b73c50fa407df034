package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines.
  *
  * All hot-path functions are pure `Column` expressions (whole-stage
  * codegen; no UDFs) so they scale to the 100 TB design point: per-row,
  * no shuffle, fully pushdown-friendly.
  */
object TextOps {

  /** Whitespace tokens of trimmed text; empty text -> empty array. */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  /** Token count (whitespace segmentation). */
  def tokenCount(text: Column): Column = size(tokens(text))

  private def countMatches(text: Column, regex: String): Column =
    length(text) - length(regexp_replace(text, regex, ""))

  /** Character-class ratios scaled to integer micros (x 1e6, rounded) so
    * results are exactly comparable across engines.
    */
  def alphaRatioMicros(text: Column): Column =
    when(length(text) === 0, lit(0L)).otherwise(
      round(countMatches(text, "[A-Za-z]") * lit(1000000.0) / length(text)).cast("long"))

  def digitRatioMicros(text: Column): Column =
    when(length(text) === 0, lit(0L)).otherwise(
      round(countMatches(text, "[0-9]") * lit(1000000.0) / length(text)).cast("long"))

  // Small per-language stopword lists for the language-ID heuristic.
  // Deliberately tiny + deterministic; ship as literals so the expression
  // stays codegen-friendly and broadcast-free.
  val StopEn: Seq[String] = Seq("the", "and", "of", "to", "in", "is", "that", "with", "for", "was", "on", "are", "this", "it", "as", "be", "at", "by", "from")
  val StopDe: Seq[String] = Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu", "den", "von", "im", "auf", "des", "sich", "dem", "als", "auch")
  val StopFr: Seq[String] = Seq("le", "la", "les", "et", "est", "des", "une", "dans", "que", "pour", "qui", "sur", "pas", "au", "par", "du", "avec", "ce", "il")
  val StopEs: Seq[String] = Seq("el", "la", "los", "las", "y", "es", "en", "que", "de", "un", "una", "por", "con", "para", "del", "se", "no", "su", "al")

  private def stopHits(toks: Column, stops: Seq[String]): Column =
    size(filter(toks, t => array_contains(array(stops.map(lit): _*), lower(t))))

  /** Stopword ratio (English list) in micros. */
  def stopwordRatioMicros(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) === 0, lit(0L)).otherwise(
      round(stopHits(toks, StopEn) * lit(1000000.0) / size(toks)).cast("long"))
  }

  /** Language-ID by stopword voting over {en, de, fr, es}; "und" (unknown)
    * when no list scores. Deterministic tie-break by list order.
    */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val en = stopHits(toks, StopEn)
    val de = stopHits(toks, StopDe)
    val fr = stopHits(toks, StopFr)
    val es = stopHits(toks, StopEs)
    val mx = greatest(en, de, fr, es)
    when(mx === 0, lit("und"))
      .when(en === mx, lit("en"))
      .when(de === mx, lit("de"))
      .when(fr === mx, lit("fr"))
      .otherwise(lit("es"))
  }

  /** Word n-gram shingles of the token array (contiguous, space-joined). */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>")).otherwise(
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))

  /** 60-bit hash of a string both Spark and standard SQL engines can
    * compute: the first 15 hex digits of its md5.
    */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Document fingerprint: XOR over md5-derived 60-bit hashes of the 3-gram
    * shingle set (order-independent winnowing-style rolling fingerprint;
    * md5-based so the fingerprint is engine-portable and oracle-checkable).
    */
  def fingerprint(text: Column): Column = {
    val sh = shingles(tokens(text), 3)
    when(size(sh) === 0, md5Hash60(text)).otherwise(
      aggregate(transform(sh, s => md5Hash60(s)), lit(0L),
        (acc, h) => acc.bitwiseXOR(h)))
  }
}
