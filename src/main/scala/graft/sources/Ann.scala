package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** The similarity-search kernel: how every vector query is served and cut
  * — exact top-k, the IVF serve over a persisted index's postings, the
  * IVF-PQ ADC shortlist with its exact re-rank, and the batch probe (many
  * queries at once, as windows). Callers build only the candidate frame
  * (a label predicate, base ∪ segments, a tombstone anti-join); the cut
  * is made here.
  *
  * Ordering contract, the one every DuckDB oracle replays:
  *  - all math is in double, each dot product a left fold in ascending
  *    index order (the fused `cosine_sim` codegen keeps the same order);
  *  - a cosine is rounded HALF_UP to 6 dp before anything orders on it;
  *  - a top-k orders on the rounded cosine descending (a rounded distance
  *    ascending), ties to the lower vector id;
  *  - probed cells rank the same way on the rounded centroid cosine, ties
  *    to the lower cell id.
  *
  * A top-level object, so executor closures that call [[dotd]] or
  * [[round6]] capture nothing.
  */
object Ann {

  /** embedding float[] → double[] (all math in double; float formatting
    * diverges between engines). */
  def vd: Column = expr("transform(embedding, x -> CAST(x AS DOUBLE))")

  /** Sequential left-fold dot product in ascending index order. */
  def dotd(x: Array[Double], y: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < x.length) { acc += x(i) * y(i); i += 1 }
    acc
  }

  /** HALF_UP 6dp — what Spark's round() does, so kernel output matches the
    * declarative form (and the DuckDB oracle) bit-for-bit. */
  def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** The query every served vector query answers: vec 0's embedding as
    * driver doubles (one row — metadata scale). */
  def queryVec(t: Tables): Array[Double] =
    t.embeddings.filter(col("vec_id") === 0).select(col("embedding"))
      .head().getSeq[Float](0).map(_.toDouble).toArray

  /** Driver-side probe selection: the `p` cells nearest `query`. */
  def topCells(cents: Seq[(Int, Array[Double])],
      query: Array[Double], p: Int): Seq[Int] = {
    val qn = math.sqrt(dotd(query, query))
    cents.map { case (cell, c) =>
      (cell, round6(dotd(query, c) / (qn * math.sqrt(dotd(c, c)))))
    }.sortBy { case (cell, sim) => (-sim, cell) }.take(p).map(_._1)
  }

  /** Exact top-k of `frame` (vec_id, label, embedding) by cosine to
    * `query` → (vec_id, label, cos). */
  def exactTopK(frame: DataFrame, query: Array[Double], k: Int): DataFrame =
    frame.withColumn("qv", typedLit(query.toSeq))
      .select(col("vec_id"), col("label"),
        round(expr("cosine_sim(transform(embedding, x -> CAST(x AS DOUBLE)), qv)"), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)

  /** The probed cells of `postings` (query vector excluded). The `cell`
    * filter becomes a partition filter on every postings scan under it —
    * IVF's "read p of k inverted lists". */
  private def probed(postings: DataFrame, probes: Seq[Int]): DataFrame =
    postings.filter(col("cell").isin(probes.map(Integer.valueOf): _*) &&
      col("vec_id") =!= 0)

  /** IVF serve: exact top-k within the probed cells of `postings`. */
  def ivfServe(postings: DataFrame, query: Array[Double], probes: Seq[Int],
      k: Int): DataFrame =
    exactTopK(probed(postings, probes), query, k)

  /** ADC lookup table: exact subspace squared L2 from each query slice to
    * each sub-centroid, a driver-side fold of the 16 terms in ascending
    * order (the oracle's list_reduce order). */
  def adcLut(codebooks: Seq[Array[Array[Double]]],
      query: Array[Double]): IndexedSeq[IndexedSeq[Double]] =
    codebooks.zipWithIndex.map { case (cb, m) =>
      val q = query.slice(m * 16, m * 16 + 16)
      cb.toIndexedSeq.map { c =>
        var acc = 0.0; var i = 0
        while (i < 16) { val d = q(i) - c(i); acc += d * d; i += 1 }
        acc
      }
    }.toIndexedSeq

  /** Two-stage PQ serve over `coded` (vec_id, label, the raw vector column
    * `raw`): the ADC distance from the `codes` cuts a top-50 shortlist, and
    * only those 50 raw vectors are cast to double for the exact distance
    * that cuts the top 10 → (vec_id, label, adist, dist). */
  def adcRerank(coded: DataFrame, raw: String, codes: Seq[Column],
      codebooks: Seq[Array[Array[Double]]], query: Array[Double]): DataFrame = {
    val lut = typedLit(adcLut(codebooks, query))
    val adist = codes.zipWithIndex.map { case (code, m) =>
      element_at(element_at(lut, m + 1), code + 1)
    }.reduce(_ + _)
    coded.select(col("vec_id"), col("label"), col(raw), round(adist, 6).as("adist"))
      .orderBy(col("adist").asc, col("vec_id").asc)
      .limit(50)
      .withColumn("qv", typedLit(query.toIndexedSeq))
      .withColumn("dist", round(expr(
        s"aggregate(zip_with(transform($raw, e -> CAST(e AS DOUBLE)), qv, " +
          "(a, b) -> (a - b) * (a - b)), 0D, (s, v) -> s + v)"), 6))
      .select(col("vec_id"), col("label"), col("adist"), col("dist"))
      .orderBy(col("dist").asc, col("vec_id").asc)
      .limit(10)
  }

  /** IVF-PQ serve: [[adcRerank]] within the probed cells of `postings`. */
  def pqServe(postings: DataFrame, query: Array[Double], probes: Seq[Int],
      codebooks: Seq[Array[Array[Double]]]): DataFrame =
    adcRerank(probed(postings, probes), "embedding",
      codebooks.indices.map(m => col(s"c$m")), codebooks, query)

  /** The persisted coarse codebook as a frame (clabel, cv) to broadcast
    * under a batch probe. */
  def centroidFrame(spark: SparkSession, idx: String): DataFrame = {
    import spark.implicits._
    IvfIndex.centroids(spark, idx)
      .map { case (cell, c) => (cell, c.toSeq) }.toDF("clabel", "cv")
  }

  /** Batch probe: each query of `queries` (q_id, qv) with its `nprobe`
    * nearest cells of `cents` → (q_id, qv, clabel). */
  def probeCells(queries: DataFrame, cents: DataFrame, nprobe: Int): DataFrame =
    topKPerQuery(queries.crossJoin(broadcast(cents))
        .select(col("q_id"), col("qv"), col("clabel"),
          round(expr("cosine_sim(qv, cv)"), 6).as("sim")),
      "sim", "clabel", nprobe)
      .select(col("q_id"), col("qv"), col("clabel"))

  /** The per-query cut of a batch probe: rank `df`'s rows within each q_id
    * on (`score` desc, `id` asc) and keep ranks 1..k (column `rn`). */
  def topKPerQuery(df: DataFrame, score: String, id: String, k: Int): DataFrame =
    df.withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(col(score).desc, col(id))))
      .filter(col("rn") <= k)
}

/** Blocked candidate pairs — banded LSH, the text near-duplicate join —
  * and the graded recall of banded LSH. */
object Lsh {

  /** Candidate pairs (u < v) of `keyed` (`id`, band, bkey) rows sharing a
    * bucket in any band. Like [[textPairs]], the self-join adds no exchange
    * of its own: a caller whose buckets can grow co-partitions `keyed` on
    * (band, bkey) ([[Tables.coPartition]]), and both sides read that one
    * shuffle. */
  def bandedPairs(keyed: DataFrame, id: String): DataFrame =
    keyed.join(keyed.select(col(id).as("v"), col("band").as("band_b"),
          col("bkey").as("bkey_b")),
        col("band") === col("band_b") && col("bkey") === col("bkey_b") &&
          col(id) < col("v"))
      .select(col(id).as("u"), col("v")).distinct()

  /** The text near-duplicate join: rows of `a` and `b`, both (id, blk, sh),
    * in one block whose ids satisfy `pair` and whose shingle sets have
    * Jaccard ≥ 0.4 → (a_id, b_id, jac). The join adds no exchange of its
    * own: callers co-partition their sides on `blk` (or leave the planner
    * to), so a persisted, pre-partitioned side is never re-shuffled. */
  def textPairs(a: DataFrame, b: DataFrame,
      pair: (Column, Column) => Column): DataFrame = {
    def side(df: DataFrame, p: String) = df.select(col("id").as(s"${p}_id"),
      col("blk").as(s"${p}_blk"), col("sh").as(s"${p}_sh"))
    side(a, "a").join(side(b, "b"),
        col("a_blk") === col("b_blk") && pair(col("a_id"), col("b_id")))
      .withColumn("jac", graft.functions.TextFunctions.jaccard(col("a_sh"), col("b_sh")))
      .filter(col("jac") >= 0.4)
      .select(col("a_id"), col("b_id"), col("jac"))
  }

  /** Per-anchor recall of the candidates `cand` (u, v) against the exact
    * `truth` (a_id, u, v) → (a_id, n_true, n_found, recall_pct). */
  def recall(truth: DataFrame, cand: DataFrame): DataFrame = {
    val found = truth.join(cand, Seq("u", "v"), "left_semi")
    truth.groupBy(col("a_id")).agg(count(lit(1)).as("n_true"))
      .join(found.groupBy(col("a_id")).agg(count(lit(1)).as("n_found")),
        Seq("a_id"), "left")
      .select(col("a_id"), col("n_true"),
        coalesce(col("n_found"), lit(0L)).as("n_found"))
      .withColumn("recall_pct", expr("CAST(n_found * 100 div n_true AS INT)"))
      .orderBy("a_id")
  }
}
