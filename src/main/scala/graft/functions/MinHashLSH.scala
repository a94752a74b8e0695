package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + banded LSH near-duplicate detection — the 100 TB scale path for
  * G2 (SURVEY §7.3). The graded g2 query uses prefix blocking + exact Jaccard
  * (SQL-replayable); this variant replaces the blocking step with MinHash
  * banding so candidate generation is O(docs × bands) instead of O(pairs),
  * then applies the SAME exact-Jaccard filter, so any pair it emits is a true
  * near-duplicate.
  *
  * Scale design: one narrow map computes signatures (no shuffle); candidates
  * come from a groupBy on (band, band_hash) — a shuffle whose keys are
  * near-duplicate buckets, which is tiny by construction; the exact-Jaccard
  * verification joins shingle sets back by doc id. At 1000 executors the only
  * large shuffle is the signature explode, ~numBands rows per doc.
  */
object MinHashLSH {

  /** splitmix64 finalizer — the per-function mixer for minhash signatures. */
  @inline private def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** numHashes minhash values from pre-hashed shingles, computed in a tight
    * JVM loop: each shingle string is hashed ONCE (xxhash64, codegen'd); the
    * function family is splitmix64 over (hash + GOLDEN·i), plain multiply/
    * shift arithmetic — O(|shingles| × numHashes) cheap mixes instead of
    * numHashes full string hashes per shingle. Expression-tree HOFs price
    * each step as an interpreted lambda; this inner loop is where a custom
    * kernel beats the declarative form ~30×. */
  def minhashSig(hashedShingles: Seq[Long], numHashes: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    hashedShingles.foreach { h =>
      var i = 0
      while (i < numHashes) {
        val v = mix64(h + 0x9e3779b97f4a7c15L * (i + 1))
        if (v < sig(i)) sig(i) = v
        i += 1
      }
    }
    sig
  }

  /** Distinct word-3-shingle FNV-1a hash set of a text, whitespace-tokenized
    * with the same semantics as `TextFunctions.tokens` (Spark's split keeps
    * trailing empties → limit -1). Hashing the shingles instead of
    * materializing them as Catalyst string arrays is the whole ballgame:
    * building ~n shingle strings per doc through the expression tree or the
    * Dataset encoder measured ~4-5 s per 5k docs, the arithmetic below is
    * milliseconds. */
  def shingleHashes(txt: String): Array[Long] = {
    val toks = txt.split(" ", -1)
    if (toks.length < 3) return Array.emptyLongArray
    val seen = new java.util.HashSet[java.lang.Long](toks.length * 2)
    val out = new scala.collection.mutable.ArrayBuffer[Long](toks.length - 2)
    var i = 0
    while (i + 2 < toks.length) {
      val h = TextFunctions.fnv64(toks(i) + " " + toks(i + 1) + " " + toks(i + 2))
      if (seen.add(h)) out += h
      i += 1
    }
    out.toArray
  }

  /** Exact Jaccard of two distinct-hash sets (ascending sort + merge). */
  def jaccardHashes(a: Array[Long], b: Array[Long]): Double = {
    if (a.isEmpty && b.isEmpty) return 0.0
    val sa = a.sorted
    val sb = b.sorted
    var i = 0; var j = 0; var inter = 0
    while (i < sa.length && j < sb.length) {
      if (sa(i) == sb(j)) { inter += 1; i += 1; j += 1 }
      else if (sa(i) < sb(j)) i += 1
      else j += 1
    }
    inter.toDouble / (sa.length + sb.length - inter)
  }

  /** Near-dup pairs (a_id < b_id) with exact Jaccard >= threshold.
    * `docs` must have columns (id, txt); shingling, minhashing, and the
    * final exact-Jaccard verification all run on 3-shingle FNV hashes in
    * JVM kernels — shingle STRINGS are never materialized as Catalyst data
    * (doing so dominated the old runtime). Docs with fewer than 3 tokens
    * never pair.
    */
  def nearDupPairs(docs: DataFrame, threshold: Double,
                   numHashes: Int = 32, numBands: Int = 8): DataFrame = {
    require(numHashes % numBands == 0, "bands must divide hashes")
    val rowsPerBand = numHashes / numBands
    val spark = docs.sparkSession
    import spark.implicits._
    val txts = docs.select(col("id"), col("txt"))
    val sig = txts.as[(Long, String)]
      .map { case (id, txt) =>
        val hs = shingleHashes(txt)
        if (hs.isEmpty) (id, Array.emptyLongArray)
        else {
          val s = minhashSig(hs, numHashes)
          val bands = Array.tabulate(numBands) { b =>
            var acc = 0x9e3779b97f4a7c15L * (b + 1)
            var i = b * rowsPerBand
            while (i < (b + 1) * rowsPerBand) { acc = mix64(acc ^ s(i)); i += 1 }
            acc
          }
          (id, bands)
        }
      }
      .filter(_._2.nonEmpty)
      .toDF("id", "bands")
    // candidates carry only (ids, band key) — the raw texts are joined back
    // ONLY for the few candidate pairs, never shuffled all-pairs
    val banded = sig.select(col("id"), posexplode(col("bands")).as(Seq("band", "bkey")))
      .persist() // both sides of the self-join
    // unpinned: MinHash buckets are near-duplicate groups, tiny by
    // construction, so the planner may broadcast one side
    graft.sources.Lsh.bandedPairs(banded, "id")
      .select(col("u").as("a_id"), col("v").as("b_id"))
      .join(txts.select(col("id").as("a_id"), col("txt").as("ta")), "a_id")
      .join(txts.select(col("id").as("b_id"), col("txt").as("tb")), "b_id")
      .select(col("a_id").as[Long], col("b_id").as[Long],
        col("ta").as[String], col("tb").as[String])
      .map { case (a, b, ta, tb) =>
        (a, b, jaccardHashes(shingleHashes(ta), shingleHashes(tb)))
      }
      .toDF("a_id", "b_id", "jaccard")
      .filter(col("jaccard") >= threshold)
  }
}
