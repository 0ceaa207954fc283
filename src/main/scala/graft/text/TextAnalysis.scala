package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines, all
  * pure Catalyst columns (codegen'd, no UDFs): language id, quality
  * scoring, token counting, fingerprinting. Operate on any string column
  * (default `text`, matching the `documents` test table). */
object TextAnalysis {

  /** Whitespace tokens. */
  def tokens(c: Column): Column = split(trim(lower(c)), "\\s+")

  /** Token count: whitespace words. */
  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish subword count: word-boundary pieces + length/4 continuation
    * pieces — the standard ~4-chars-per-token heuristic, plus punctuation
    * as single tokens. Deterministic, SQL-expressible. */
  def bpeTokenCount(c: Column): Column = {
    val words = tokens(c)
    aggregate(words, lit(0L),
      (acc, w) => acc + lit(1L) + floor(length(w) / 4).cast("long"))
  }

  /** Word n-gram shingles. */
  def wordShingles(c: Column, n: Int = 3): Column = {
    val t = tokens(c)
    transform(sequence(lit(0), greatest(size(t) - n, lit(0))),
      i => concat_ws(" ", slice(t, i + 1, lit(n))))
  }

  private val enStop = Seq("the", "a", "of", "and", "to", "in", "is", "that",
    "it", "on", "for", "with", "as", "was", "at", "by")
  private val deStop = Seq("der", "die", "das", "und", "ist", "von", "mit",
    "zu", "im", "den", "ein", "eine", "nicht", "auf")
  private val frStop = Seq("le", "la", "les", "et", "est", "de", "des", "un",
    "une", "dans", "que", "pour", "pas", "sur")
  private val esStop = Seq("el", "la", "los", "las", "y", "es", "de", "un",
    "una", "en", "que", "por", "para", "no")

  private def stopHits(t: Column, stops: Seq[String]): Column =
    aggregate(t, lit(0), (acc, w) =>
      acc + when(w.isInCollection(stops), 1).otherwise(0))

  /** Language id by stopword-profile voting over {en, de, fr, es};
    * "und" = undetermined when no profile hits. The n-gram heuristic
    * family used by fastText-style classifiers, reduced to its
    * SQL-expressible core. */
  def langId(c: Column): Column = {
    val t = tokens(c)
    val scores = array(
      struct(stopHits(t, enStop).as("s"), lit("en").as("l")),
      struct(stopHits(t, deStop).as("s"), lit("de").as("l")),
      struct(stopHits(t, frStop).as("s"), lit("fr").as("l")),
      struct(stopHits(t, esStop).as("s"), lit("es").as("l")))
    val best = array_max(scores)
    when(best.getField("s") > 0, best.getField("l")).otherwise(lit("und"))
  }

  /** Quality score in [0,1]: length band + alpha ratio + stopword ratio +
    * word-length sanity — the C4/Gopher-style cheap filters composed. */
  def qualityScore(c: Column): Column = {
    val t = tokens(c)
    val nWords = size(t).cast("double")
    val nChars = length(c).cast("double")
    val alphaRatio = length(regexp_replace(lower(c), "[^a-z ]", "")).cast("double") /
      greatest(nChars, lit(1.0))
    val stopRatio = stopHits(t, enStop).cast("double") / greatest(nWords, lit(1.0))
    val meanWordLen = nChars / greatest(nWords, lit(1.0))
    val lenScore = when(nWords >= 50 && nWords <= 100000, 1.0)
      .when(nWords >= 10, 0.5).otherwise(0.0)
    val wordLenScore = when(meanWordLen >= 3 && meanWordLen <= 10, 1.0).otherwise(0.0)
    (lenScore + least(alphaRatio * 1.25, lit(1.0)) +
      least(stopRatio * 5.0, lit(1.0)) + wordLenScore) / 4.0
  }

  /** 64-bit content fingerprint: xxhash of the whitespace-normalized
    * lowercased text (exact-dup key). */
  def fingerprint(c: Column): Column =
    xxhash64(regexp_replace(trim(lower(c)), "\\s+", " "))
}
