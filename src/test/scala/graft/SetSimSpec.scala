package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF}

/** g53's prefix-filter LOSSLESSNESS on adversarial inputs the fixture can't
  * guarantee: length-skewed sets, one shared hot token, boundary Jaccard.
  * The declared query's oracle proves parity on the fixture; this proves the
  * pruning math (integer prefix length + AllPairs length filter) never
  * drops a qualifying pair on crafted corners.
  */
class SetSimSpec extends AnyFunSuite {
  import TestSpark._

  /** Brute-force all-pairs Jaccard ≥ 0.4 over (id, text) rows. */
  private def bruteForce(rows: Seq[(Long, String)]): Set[(Long, Long)] = {
    def sh(s: String): Set[String] = {
      val t = s.toLowerCase.split(" ")
      if (t.length < 3) Set.empty
      else (0 to t.length - 3).map(i => s"${t(i)} ${t(i + 1)} ${t(i + 2)}").toSet
    }
    (for {
      (a, ta) <- rows; (b, tb) <- rows if a < b
      sa = sh(ta); sb = sh(tb)
      if sa.nonEmpty && sb.nonEmpty
      if sa.intersect(sb).size.toDouble / sa.union(sb).size >= 0.4
    } yield (a, b)).toSet
  }

  /** Run the same pipeline as g53 over an in-memory corpus. */
  private def prefixJoin(rows: Seq[(Long, String)]): Set[(Long, Long)] = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = rows.toDF("doc_id", "text")
    val sets = docs.withColumn("toks", TF.tokens(lower(col("text"))))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), TF.shingles3("toks").as("sh"))
    val exploded = sets.select(col("doc_id"), size(col("sh")).as("len"),
      explode(col("sh")).as("tok"))
    val freq = exploded.groupBy(col("tok")).agg(count(lit(1)).as("f"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("f"), col("tok"))
    val prefix = exploded.join(freq, "tok")
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= col("len") - expr("(2 * len + 4) div 5") + 1)
      .select(col("doc_id"), col("len"), col("r"), col("tok"))
    val cand = prefix.select(col("doc_id").as("a_id"), col("len").as("alen"),
        col("r").as("ra"), col("tok"))
      .join(prefix.select(col("doc_id").as("b_id"), col("len").as("blen"),
          col("r").as("rb"), col("tok").as("tokb")),
        col("tok") === col("tokb") && col("a_id") < col("b_id") &&
          col("blen") * 5 >= col("alen") * 2 && col("alen") * 5 >= col("blen") * 2 &&
          least(col("alen") - col("ra"), col("blen") - col("rb")) + 1 >=
            expr("(2 * (alen + blen) + 6) div 7"))
      .select(col("a_id"), col("b_id")).distinct()
    cand.join(sets.select(col("doc_id").as("a_id"), col("sh").as("sha")), "a_id")
      .join(sets.select(col("doc_id").as("b_id"), col("sh").as("shb")), "b_id")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))).cast("double"))
      .withColumn("jac",
        col("inter") / (size(col("sha")) + size(col("shb")) - col("inter")))
      .filter(col("jac") >= 0.4)
      .select(col("a_id"), col("b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  private def check(rows: Seq[(Long, String)]): Unit =
    assert(prefixJoin(rows) === bruteForce(rows))

  test("near-duplicates with one hot shared token are all found") {
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    check(Seq(
      1L -> base,
      2L -> s"$base iota",                  // high-Jaccard near-dup
      3L -> s"$base iota kappa",
      4L -> "the the the the the the",      // hot-token doc, unrelated
      5L -> "the lambda mu nu xi omicron")) // shares only the hot token
  }

  test("boundary Jaccard exactly at the 0.4 threshold is kept") {
    // a: shingles {s1..s5}; b shares exactly 2 of 5, |union| = 8 → 0.25 (out);
    // craft a pair landing exactly on 2/5: |∩|=2, |∪|=5
    val a = "w1 w2 w3 w4 w5"              // 3 shingles
    val b = "w1 w2 w3 w4 x9"              // shares 2 of its 3
    // jac({3 shingles},{3 shingles} sharing 2) = 2/4 = 0.5 ≥ 0.4 — kept
    check(Seq(1L -> a, 2L -> b))
  }

  test("length-skewed pairs: the length filter prunes only non-qualifying pairs") {
    val shortDoc = "a b c d"                                  // 2 shingles
    val longDoc = ("a b c d " * 10).trim                      // 38 shingles, contains both
    // jac = 2/38 — far below threshold; must be pruned and NOT returned,
    // while the identical twin of the long doc must be found
    check(Seq(1L -> shortDoc, 2L -> longDoc, 3L -> longDoc))
  }

  test("empty-intersection corpus returns nothing") {
    check(Seq(1L -> "a b c d", 2L -> "e f g h", 3L -> "i j k l"))
  }

  test("declared g53 (dict-encoded kernel since r22) equals brute force on the fixture") {
    // r22 routed g53 through the dictionary-encoded kernel it used to share
    // only with g53b; the dictionary is a bijection on the shingle alphabet,
    // so every intersection size, union size, and rounded Jaccard must equal
    // the brute-force all-pairs answer over the same corpus (the crafted
    // corners above prove the pruning math; this proves the declared query
    // end-to-end, encode included, against an engine-independent baseline).
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val expected = bruteForce(docs)
    val got = SparkEntry.queries("g53_setsim_prefix")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected)
    // and the twin must stay bit-identical (same kernel by construction)
    val twin = SparkEntry.queries("g53b_setsim_dict")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val full = SparkEntry.queries("g53_setsim_prefix")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(twin == full)
  }

  /** A directory fixture: `<tmp>/documents.parquet/` with one part file per
    * row group of `rows`. */
  private def dirFixture(rows: Seq[(Long, String)], parts: Int): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_dirfix").toString
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text").repartition(parts)
      .write.parquet(s"$d/documents.parquet")
    d
  }

  private val fixtureDocs = Seq(
    1L -> "the quick brown fox jumps over the lazy dog",
    2L -> "the quick brown fox jumps over a lazy cat",
    3L -> "a slow green turtle walks under the busy bridge",
    4L -> "a slow green turtle walks under a quiet bridge")

  test("an in-place part-file rewrite in a directory fixture invalidates readCached and dictIndex") {
    val d = dirFixture(fixtureDocs, 2)
    try {
      val path = s"$d/documents.parquet"
      val scan = Tables.readCached(spark, path)
      val idx = operators.TextQueries.dictIndex(spark, d)
      assert(Tables.readCached(spark, path) eq scan)
      assert(operators.TextQueries.dictIndex(spark, d) eq idx)
      // overwrite one part file with different rows under the same name,
      // then put the directory's own mtime back
      val dirF = new java.io.File(path)
      val dirMtime = dirF.lastModified()
      val part = dirF.listFiles().filter(_.getName.endsWith(".parquet")).minBy(_.getName)
      val repl = dirFixture(Seq(9L -> "an entirely new document about other things",
        10L -> "an entirely new document about other stuff"), 1)
      val src = new java.io.File(s"$repl/documents.parquet").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(src.toPath, part.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      new java.io.File(dirF, s".${part.getName}.crc").delete()
      Tables.rmrf(repl)
      assert(dirF.setLastModified(dirMtime) && dirF.lastModified() == dirMtime)
      val scan2 = Tables.readCached(spark, path)
      assert(!(scan2 eq scan), "a stale analyzed scan was served")
      assert(scan2.filter(col("doc_id") >= 9).count() == 2)
      val idx2 = operators.TextQueries.dictIndex(spark, d)
      assert(!(idx2 eq idx), "a stale dictionary index was served")
      assert(idx2._1.filter(col("doc_id") >= 9).count() == 2)
    } finally Tables.rmrf(d)
  }

  test("Tables.pinned never serves one session's value to another") {
    val s2 = spark.newSession()
    val path = s"$sfDir/region.parquet"
    val a = Tables.readCached(spark, path)
    val b = Tables.readCached(s2, path)
    assert((a.sparkSession eq spark) && (b.sparkSession eq s2))
    assert(Tables.readCached(spark, path) eq a)
    val cache = Tables.pinCache[String](4)
    assert(Tables.pinned(cache, spark, "k", "1")("first") == "first")
    assert(Tables.pinned(cache, s2, "k", "1")("second") == "second")
    assert(Tables.pinned(cache, spark, "k", "1")("unused") == "first")
    // a new stamp drops every stale entry of that scope at once
    assert(Tables.pinned(cache, spark, "k", "2")("third") == "third")
    assert(cache.size() == 1)
  }

  test("dictIndex holds at most its cap of 8 entries in one live session") {
    val dirs = (1 to 10).map(_ => dirFixture(fixtureDocs, 1))
    try {
      dirs.foreach(d => operators.TextQueries.dictIndex(spark, d))
      assert(operators.TextQueries.dictIndexCache.size() <= 8)
    } finally dirs.foreach(Tables.rmrf)
  }

  test("Tables.boundedLru caps the scan caches for a single long-lived session") {
    // r21 verdict #10: the old sweep only removed stopped-session entries, so
    // one session reading >cap distinct paths grew the map forever
    val m = Tables.boundedLru[String](4)
    (1 to 10).foreach(i => m.put(s"k$i", s"v$i"))
    assert(m.size() == 4)
    // access-order LRU: touching an entry protects it from the next eviction
    assert(m.get("k7") == "v7")
    m.put("k11", "v11")
    assert(m.containsKey("k7") && !m.containsKey("k8"))
  }
}
