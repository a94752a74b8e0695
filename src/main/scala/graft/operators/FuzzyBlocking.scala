package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** De-skewed blocking for fuzzy (edit-distance ≤ k) self-join pairs — the
  * g30 family's join shape, hardened for web-scale prefix mass.
  *
  * A raw prefix block key skews catastrophically on real text: "the ",
  * "http", boilerplate headers concentrate a constant fraction of the corpus
  * into one block, which then goes quadratic on one reducer. Two fixes
  * compose here, and neither changes the pair set:
  *
  *  1. **Composite block key** (prefix, length band of width k+1). Length is
  *     free selectivity — |len(a) − len(b)| ≤ dist ≤ k — so same-prefix docs
  *     in far-apart bands never needed comparing. Pairs can straddle one
  *     band boundary, so the LEFT side replicates to the ±1 neighbor bands;
  *     band width (k+1) > k guarantees the partner's band is within ±1, and
  *     the RIGHT side sits in exactly one bucket, so every qualifying pair
  *     is generated exactly once — no dedup pass.
  *  2. **Per-block cap + 2-D tiling.** Block row counts are aggregated
  *     first (metadata-sized: one row per block); a block over `cap` rows
  *     splits into nsalt = ceil(cnt/cap) slices ON BOTH SIDES — the left
  *     row takes tile = hash(id) and replicates across the salt axis, the
  *     right row takes salt = hash(id) and replicates across the tile
  *     axis, so pair (a, b) meets in EXACTLY one (tile(a), salt(b)) bucket
  *     and every task compares at most ~cap × cap keys. One-sided salting
  *     (the c14 idiom) is not enough here: it bounds the build side but a
  *     task still sweeps the WHOLE hot block on the probe side, so
  *     per-task work keeps growing linearly with prefix mass; the 2-D
  *     split is how a quadratic-in-block kernel actually levels across a
  *     cluster (measured at sf1: the hottest blocks hold ~2k keys = ~2M
  *     candidate pairs each, and one-task-per-block left a 32-core box at
  *     load 1).
  *
  * Result: identical to the un-tiled, un-banded blocked join (the oracle
  * replays plain prefix blocking), with per-task work bounded by cap²
  * instead of (hottest prefix mass)².
  */
object FuzzyBlocking {

  /** Fuzzy pairs (doc_a < doc_b, dist ≤ k) over `docs(idCol, keyCol)`.
    *
    * @param dist edit-distance column builder, e.g.
    *             `(a, b) => levenshtein(a, b)` or the banded `lev_bounded`
    * @param cap  max keys a single tile holds per side — per-task candidate
    *             pairs are bounded by cap² (~1M lev kernels at the default)
    */
  def pairs(docs: DataFrame, idCol: String, keyCol: String, k: Int,
      dist: (Column, Column) => Column, cap: Int = 1000): DataFrame = {
    val base = docs.select(col(idCol).as("id"), col(keyCol).as("p"))
      .withColumn("pfx", substring(col("p"), 1, 4))
      .withColumn("band", floor(length(col("p")) / (k + 1)))
    // one row per block — metadata scale; nsalt = ceil(cnt / cap)
    val counts = base.groupBy("pfx", "band")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("nsalt", greatest(lit(1L), ceil(col("cnt") / lit(cap))).cast("int"))
      .select("pfx", "band", "nsalt")
    // right side: its own band; fixed salt = hash(id), replicated across
    // the tile axis (xxhash64 is total, so the assignment is too)
    val rhs = base.join(counts, Seq("pfx", "band"))
      .withColumn("salt", pmod(xxhash64(col("id")), col("nsalt").cast("long")).cast("int"))
      .withColumn("tile", explode(expr("sequence(0, nsalt - 1)")))
      .select(col("id").as("doc_b"), col("p").as("pb"), col("pfx"), col("band"),
        col("tile"), col("salt"))
    // left side: replicate to bands ±1 (inner join drops bands with no
    // rows); fixed tile = hash(id) IN THE TARGET BAND's split, replicated
    // across that band's salt axis
    val lhs = base
      .withColumn("band", explode(array(col("band") - 1, col("band"), col("band") + 1)))
      .join(counts, Seq("pfx", "band"))
      .withColumn("tile", pmod(xxhash64(col("id")), col("nsalt").cast("long")).cast("int"))
      .withColumn("salt", explode(expr("sequence(0, nsalt - 1)")))
      .select(col("id").as("doc_a"), col("p").as("pa"), col("pfx"), col("band"),
        col("tile"), col("salt"))
    // both sides pinned (Tables.coPartition); the tile axis guarantees no
    // single key exceeds ~cap² pairs, so the fixed-count hash spread is even
    val keys = Seq("pfx", "band", "tile", "salt")
    graft.Tables.coPartition(lhs, keys.map(col): _*)
      .join(graft.Tables.coPartition(rhs, keys.map(col): _*), keys)
      .filter(col("doc_a") < col("doc_b"))
      // cheap length prefilter: skips the DP kernel for sure-misses
      .filter(abs(length(col("pa")) - length(col("pb"))) <= k)
      .withColumn("dist", dist(col("pa"), col("pb")))
      .filter(col("dist") <= k)
      .select(col("doc_a"), col("doc_b"), col("dist"))
  }
}
