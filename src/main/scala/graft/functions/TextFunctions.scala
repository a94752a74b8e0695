package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.UserDefinedFunction

/** Text-analysis primitives (SURVEY §2 G/H; north-star text ops).
  *
  * Everything here is either a codegen'd built-in composition (preferred) or
  * a deterministic scalar UDF whose arithmetic is reproducible in plain SQL —
  * the H1 contract. At 100 TB these are all narrow (per-row) transforms: no
  * shuffle, fully pipelined inside whole-stage codegen (UDFs excepted, which
  * is why only H1 uses one).
  */
object TextFunctions {

  val StopWords: Seq[String] = Seq("the", "and", "of", "a", "in")

  /** H1 scalar UDF: document quality score
    * `ln(1 + n_tokens) * (1 - stopword_ratio)` — higher for long documents
    * with low stopword density. Deliberately expressible in ANSI SQL so the
    * oracle can replay it exactly.
    */
  val qualityScore: UserDefinedFunction = udf { text: String =>
    val toks = text.toLowerCase.split(" ", -1)
    val n = toks.length
    val stop = toks.count(StopWords.contains(_))
    math.log(1.0 + n) * (1.0 - stop.toDouble / n)
  }

  /** The SAME score as `qualityScore`, but as a pure built-in composition
    * (split → higher-order filter → log), fully inside whole-stage codegen —
    * no per-row ser/de. H1 keeps the UDF form (it IS §2's udf_scalar
    * demonstrator); every other consumer should use this one. Bit-identical
    * to the UDF: both funnel through java.lang.Math.log and one IEEE
    * multiply/divide on the same integers.
    */
  def qualityScoreCol(text: Column): Column = {
    val toks = split(lower(text), " ")
    val n = size(toks).cast("double")
    // stopword MULTISET count via chained array_remove (each removes every
    // occurrence of one stopword) — stays codegen, unlike a higher-order
    // filter() lambda (HigherOrderFunction is CodegenFallback)
    val removed = StopWords.foldLeft(toks)((c, w) => array_remove(c, lit(w)))
    val nStop = (size(toks) - size(removed)).cast("double")
    log(lit(1.0) + n) * (lit(1.0) - nStop / n)
  }

  /** Whitespace token array (the tokenizer every text op shares). */
  def tokens(text: Column): Column = split(text, " ")

  /** Word 3-shingles (distinct) over the column named `toksCol`, 1-based
    * element_at so the DuckDB oracle's 1-based list indexing lines up exactly.
    * Empty when fewer than 3 tokens.
    */
  def shingles3(toksCol: String): Column =
    array_distinct(expr(
      s"transform(sequence(1, greatest(size($toksCol) - 2, 0)), i -> " +
        s"concat_ws(' ', element_at($toksCol, i), " +
        s"element_at($toksCol, i + 1), element_at($toksCol, i + 2)))"))

  /** The text near-duplicate rule's block key: the first 40 characters of
    * the lowercased `text`. Candidates pair only within a block. */
  def blockKey: Column = substring(lower(col("text")), 1, 40)

  /** The text near-duplicate rule's shingle sets: the rows of `docs` with
    * at least 3 tokens, as `keep` plus `sh`, the distinct word 3-shingles
    * of the lowercased `text`. Two docs are near-duplicates when their
    * Jaccard is ≥ 0.4 (`graft.sources.Lsh.textPairs`). */
  def shingleSets(docs: DataFrame, keep: Column*): DataFrame =
    docs.withColumn("toks", tokens(lower(col("text"))))
      .filter(size(col("toks")) >= 3)
      .select(keep :+ shingles3("toks").as("sh"): _*)

  /** Exact Jaccard similarity of two (distinct-element) arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** FNV-1a 64-bit hash of a token (UTF-8 bytes) — the per-token hash under
    * the SimHash fingerprint. */
  def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val bytes = s.getBytes("UTF-8")
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** 64-bit SimHash over whitespace tokens (tf-weighted by occurrence). */
  def simhash64(text: String): Long = {
    val acc = new Array[Int](64)
    text.split(" ", -1).foreach { tok =>
      val h = fnv64(tok)
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) acc(i) += 1 else acc(i) -= 1
        i += 1
      }
    }
    var fp = 0L
    var i = 0
    while (i < 64) {
      if (acc(i) >= 0) fp |= (1L << i)
      i += 1
    }
    fp
  }

  /** Vowel ratio of a document — the char-ngram feature for the lang-id
    * heuristic (the fixture vocabulary is lang-independent, so the operator's
    * value is the feature plumbing, not linguistic accuracy).
    */
  def vowelRatio(text: Column): Column = {
    val low = lower(text)
    (length(low) - length(regexp_replace(low, "[aeiou]", ""))).cast("double") / length(low)
  }
}
