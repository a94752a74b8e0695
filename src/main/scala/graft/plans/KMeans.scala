package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Tables

/** Distributed Lloyd's k-means over an array<double> column — the corpus
  * clustering primitive (IVF coarse quantizers, data-mixture domains,
  * coreset construction) expressed Spark-first and fully deterministic:
  *
  *  - init: the k rows with the SMALLEST id (one distributed top-k, no RNG);
  *  - assignment: distances to all k centroids computed per row inside one
  *    codegen'd projection (sequential-fold sq-L2 per centroid), nearest by
  *    `array_position(min)` so ties break toward the LOWEST centroid id;
  *  - update: per-(cluster, component) DECIMAL(38,12) means — merge-order
  *    independent, so any executor count yields bit-identical centroids;
  *  - empty clusters keep their previous centroid.
  *
  * Each iteration is one distributed pass; the driver holds k×d doubles
  * (metadata scale — the shape that survives 100 TB: n grows, k·d doesn't).
  */
object KMeans {

  /** AQE OFF for the Lloyd loop's actions (r22 — the ConnectedComponents
    * finding): with AQE on, every per-iteration aggregate runs its shuffle
    * stage as a SEPARATE job, roughly doubling the per-iteration scheduling
    * overhead on metadata-scale aggregates whose partitioning the loop's
    * inputs already pin (callers cache / repartition the base). Decimal
    * sums are merge-order independent, so AQE on/off cannot move a digit.
    * Scoped through [[Tables.withConf]]: the caller's conf is untouched. */
  private val aqeOff = "spark.sql.adaptive.enabled" -> "false"

  /** Squared-L2 distances to ALL centroids, as one sequential fold per
    * centroid (bit-stable). The centroid matrix rides in as a SINGLE
    * array<array<double>> literal (a codegen reference object), not k×d
    * inlined doubles: the generated source is then identical across Lloyd
    * iterations, so the codegen cache hits and per-iteration latency is the
    * data pass, not a janino recompile (measured 3-4x on fit). */
  private def distsCol(xCol: String, cents: Array[Array[Double]]): Column = {
    val cs = typedLit(cents.toIndexedSeq.map(_.toIndexedSeq))
    transform(cs, c =>
      aggregate(zip_with(col(xCol), c, (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, e) => acc + e))
  }

  /** Nearest-centroid id (0-based) and its squared distance. */
  def assignCols(xCol: String, cents: Array[Array[Double]]): (Column, Column) = {
    val dists = distsCol(xCol, cents)
    val best = array_min(dists)
    (array_position(dists, best).cast("int") - 1, best)
  }

  /** The `p` nearest centroid ids (multi-probe assignment, ties toward the
    * lowest id): sort (dist, id) structs lexicographically, take the first
    * p — all inside one projection. */
  def probeCols(xCol: String, cents: Array[Array[Double]], p: Int): Column = {
    val pairs = zip_with(distsCol(xCol, cents),
      typedLit((0 until cents.length).toIndexedSeq),
      (d, i) => struct(d.as("d"), i.as("i")))
    transform(slice(array_sort(pairs), 1, p), s => s.getField("i"))
  }

  /** @param df     input with an id column and an array<double> column
    * @param idCol  deterministic-init ordering key (smallest k ids seed)
    * @param xCol   vector column
    * @param d      dimensionality
    * @param k      cluster count
    * @param iters  fixed Lloyd iterations
    * @return (final centroids, per-iteration inertia — decimal-exact sums,
    *         non-increasing by Lloyd's monotonicity) */
  def fit(input: DataFrame, idCol: String, xCol: String, d: Int, k: Int,
      iters: Int): (Array[Array[Double]], Seq[Double]) =
    Tables.withConf(input.sparkSession, aqeOff) { c =>
      val df = Tables.rehome(c, input)
      var cents: Array[Array[Double]] = df.orderBy(col(idCol)).limit(k)
        .select(col(xCol)).collect()
        .map(_.getSeq[Double](0).toArray)
      require(cents.length == k, s"need >= $k rows to seed $k clusters")
      val inertias = Seq.newBuilder[Double]
      val vecsum = udaf(graft.functions.DecVecSumAgg)
      for (_ <- 1 to iters) {
        val (cid, dist) = assignCols(xCol, cents)
        // one pass, k output rows: per-cluster decimal vector sum (one
        // d-element buffer per cluster crosses the shuffle — not n×d exploded
        // rows), row count, and the decimal inertia contribution
        val stats = df.select(col(xCol), cid.as("cid"), dist.as("d2"))
          .groupBy(col("cid"))
          .agg(vecsum(col(xCol)).as("sx"), count(lit(1)).as("n"),
            sum(col("d2").cast(Tables.decHi)).cast("double").as("d2sum"))
          .collect()
        val next = cents.map(_.clone())
        stats.foreach { r =>
          val c = r.getInt(0)
          val sx = r.getSeq[java.math.BigDecimal](1)
          val n = r.getLong(2)
          var i = 0
          // decimal→double then the double divide: bit-identical to
          // sum(CAST(v AS DECIMAL(38,12))).cast(double) / count
          while (i < sx.length) { next(c)(i) = sx(i).doubleValue() / n; i += 1 }
        }
        cents = next
        inertias += stats.sortBy(_.getInt(0)).map(_.getDouble(3)).sum
      }
      (cents, inertias.result())
    }

  /** Fit INDEPENDENT k-means models over several vector columns of the same
    * rows in ONE distributed pass per iteration — the product-quantization
    * training shape (M subspace codebooks over one cached base). Fitting the
    * M subspaces with separate [[fit]] calls prices M seed collects plus
    * M×iters full passes; the models never interact, so one pass can carry
    * all M assignments (each the identical [[assignCols]] expression) and
    * one aggregation keyed (subspace, cluster) can carry all M update sums.
    * Bit-identical to the sequential fits by construction: same smallest-id
    * seeds (one collect, all columns), same per-subspace assignment
    * expression, and the per-(subspace, cluster) groups hold exactly the
    * rows the per-subspace groupBy held — DECIMAL sums are merge-order
    * independent, so the extra grouping key cannot move a digit. (r21: cut
    * g55's PQ training from 12 jobs to 3 over the same cached base.)
    * Returns the final centroids per column, in `xCols` order. */
  def fitMany(input: DataFrame, idCol: String, xCols: Seq[String], k: Int,
      iters: Int): Seq[Array[Array[Double]]] =
    Tables.withConf(input.sparkSession, aqeOff) { c =>
      val df = Tables.rehome(c, input)
      val seedRows = df.orderBy(col(idCol)).limit(k)
        .select(xCols.map(col): _*).collect()
      require(seedRows.length == k, s"need >= $k rows to seed $k clusters")
      var cents: Array[Array[Array[Double]]] = xCols.indices.map { j =>
        seedRows.map(_.getSeq[Double](j).toArray)
      }.toArray
      val vecsum = udaf(graft.functions.DecVecSumAgg)
      for (_ <- 1 to iters) {
        val pairs = xCols.zipWithIndex.map { case (xc, j) =>
          val (cid, _) = assignCols(xc, cents(j))
          struct(lit(j).as("j"), cid.as("cid"), col(xc).as("x"))
        }
        val stats = df
          .select(explode(array(pairs: _*)).as("p"))
          .select(col("p.j").as("j"), col("p.cid").as("cid"), col("p.x").as("x"))
          .groupBy(col("j"), col("cid"))
          .agg(vecsum(col("x")).as("sx"), count(lit(1)).as("n"))
          .collect()
        val next = cents.map(_.map(_.clone()))
        stats.foreach { r =>
          val j = r.getInt(0)
          val c = r.getInt(1)
          val sx = r.getSeq[java.math.BigDecimal](2)
          val n = r.getLong(3)
          var i = 0
          while (i < sx.length) { next(j)(c)(i) = sx(i).doubleValue() / n; i += 1 }
        }
        cents = next
      }
      cents.toSeq
    }
}
