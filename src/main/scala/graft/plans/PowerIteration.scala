package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables

/** Matrix-free distributed power iteration: the top principal component of
  * a centered vector column, without ever materializing the d×d covariance
  * matrix or collecting a single data row.
  *
  * Each iteration is ONE distributed pass computing w = Σ_rows (x·v) x —
  * the covariance-vector product expressed as: per-row sequential-fold dot
  * product t = x·v (deterministic evaluation order), then a per-component
  * DECIMAL(38,12) sum of x*t (merge-order independent, so 1000 executors
  * and 32 local threads produce bit-identical iterates). The driver holds
  * only the d-vector between passes — metadata scale, identical shape at
  * 100 TB (d stays small while n grows).
  *
  * The eigenvector sign is canonicalized (largest-|component| positive) so
  * downstream projections are reproducible regardless of iteration count.
  */
object PowerIteration {

  /** @param xc   DataFrame with a centered array<double> column `xcCol`
    * @param d    vector dimensionality
    * @param iters fixed iteration count (deterministic — no tolerance test)
    * @return (unit top eigenvector, eigenvalue estimate λ = mean (x·v)²
    *         — the variance captured by the component)
    */
  def topComponent(xc: DataFrame, xcCol: String, d: Int, iters: Int): (Array[Double], Double) = {
    var v = Array.fill(d)(1.0 / math.sqrt(d))
    // the iterate rides in as ONE array literal (codegen reference object),
    // not d inlined doubles — identical generated source across iterations
    // means the codegen cache hits instead of recompiling every pass
    for (_ <- 1 to iters) {
      val t = aggregate(zip_with(col(xcCol), typedLit(v.toIndexedSeq), (a, b) => a * b),
        lit(0.0), (acc, e) => acc + e)
      val w = xc.withColumn("__t", t)
        .select(posexplode(transform(col(xcCol), x => x * col("__t")))
          .as(Seq("pos", "wv")))
        .groupBy(col("pos"))
        .agg(sum(col("wv").cast(Tables.decHi)).cast("double").as("w"))
        .orderBy("pos").collect().map(_.getDouble(1))
      val nrm = math.sqrt(w.map(x => x * x).sum)
      require(nrm > 0, "power iteration collapsed: zero covariance-vector product")
      v = w.map(_ / nrm)
    }
    val imax = v.indices.maxBy(i => math.abs(v(i)))
    if (v(imax) < 0) v = v.map(x => -x)
    val t = aggregate(zip_with(col(xcCol), typedLit(v.toIndexedSeq), (a, b) => a * b),
      lit(0.0), (acc, e) => acc + e)
    val lambda = xc.select(
        (sum((t * t).cast(Tables.decHi)).cast("double") / count(lit(1))).as("l"))
      .collect()(0).getDouble(0)
    (v, lambda)
  }

  /** Driver-side power iteration on an explicit flat d×d Gram matrix:
    * the shared recurrence of the Gram paths. All reductions are LEFT
    * FOLDS (j then i ascending), which is what makes the whole loop
    * bit-replayable by any engine with ordered fold semantics (DuckDB's
    * `list_reduce` — the g39 oracle); 0.0+e == e, so a fold seeded with
    * the first element is identical. Returns (unit sign-canonicalized
    * eigenvector, vᵀCv — the UN-normalized eigenvalue numerator). */
  private def powerLoop(c: Array[Double], d: Int, iters: Int): (Array[Double], Double) = {
    var v = Array.fill(d)(1.0 / math.sqrt(d))
    for (_ <- 1 to iters) {
      val w = new Array[Double](d)
      var i = 0
      while (i < d) {
        var acc = 0.0; var j = 0
        while (j < d) { acc += c(i * d + j) * v(j); j += 1 }
        w(i) = acc; i += 1
      }
      val nrm = math.sqrt(w.map(x => x * x).sum)
      require(nrm > 0, "power iteration collapsed: zero covariance-vector product")
      v = w.map(_ / nrm)
    }
    val imax = v.indices.maxBy(i => math.abs(v(i)))
    if (v(imax) < 0) v = v.map(x => -x)
    var vcv = 0.0
    var i = 0
    while (i < d) {
      var acc = 0.0; var j = 0
      while (j < d) { acc += c(i * d + j) * v(j); j += 1 }
      vcv += v(i) * acc; i += 1
    }
    (v, vcv)
  }

  /** One addend of the exact Gram: round_half_up(shortest_decimal(p)·1e12)
    * as a LONG — bit-identical to
    * `BigDecimal.valueOf(p).setScale(12, HALF_UP).unscaledValue()` (exactly
    * Spark's and DuckDB's double→DECIMAL(38,12) cast, which both round the
    * double's SHORTEST decimal representation) for every |p| small enough
    * that the 1e12-scaled value fits (|p| ≲ 9e6 — centered embedding
    * products are O(1)). The double fast path decides every product whose
    * scaled fractional part is provably farther from the .5 rounding
    * boundary than the combined error bound (the ×1e12 multiply's rounding
    * + the shortest-repr's distance from the exact binary value); only the
    * near-boundary stragglers (~1e-4 of products) pay the BigDecimal
    * string walk. Measured ~6× on the g39 Gram fold at sf10. */
  private[graft] def scaled12(p: Double): Long = {
    val y = p * 1e12
    val ay = math.abs(y)
    val fl = math.floor(ay)
    val frac = ay - fl
    val bound = Math.ulp(ay) + Math.ulp(p) * 1e12
    if (math.abs(frac - 0.5) > bound) {
      val r = (if (frac > 0.5) fl + 1.0 else fl).toLong
      if (y < 0) -r else r
    } else
      java.math.BigDecimal.valueOf(p)
        .setScale(12, java.math.RoundingMode.HALF_UP)
        .unscaledValue().longValueExact()
  }

  /** 128-bit two's-complement accumulate: (hi(k), lo(k)) += addend, where
    * addend sign-extends into the high word. Exact decimal sums of
    * 12dp-scaled longs can exceed one long (n·|p|·1e12 passes 2^63 well
    * below 100 TB row counts), never two. */
  @inline private def add128(hi: Array[Long], lo: Array[Long], k: Int,
      addHi: Long, addLo: Long): Unit = {
    val l0 = lo(k)
    val nl = l0 + addLo
    val carry = ((l0 & addLo) | ((l0 | addLo) & ~nl)) >>> 63
    lo(k) = nl
    hi(k) += addHi + carry
  }

  /** DECIMAL-EXACT Gram matrix: C(i)(j) = Σ_rows x_i·x_j with each product
    * rounded to DECIMAL(38,12) and summed exactly — merge-order independent
    * like the rest of the dsum discipline, AND replayable by any engine
    * with exact decimal sums (the property [[topComponentGram]]'s raw
    * double fold trades away; its ~1e-13 partition-order noise is harmless
    * numerically but unfalsifiable by an external oracle).
    *
    * Shape: ONE distributed pass, zero shuffle — a partition-local typed
    * fold accumulates the d² Gram per partition as 1e12-SCALED 128-BIT
    * INTEGERS ([[scaled12]] carries the exact digits of the double→
    * DECIMAL(38,12) cast; integer addition is exact and commutative), and
    * only d² (hi, lo) long pairs per partition reach the driver, where the
    * same 128-bit addition merges them in any order to the same digits.
    * Returns (C, row count). */
  def gramExact(xc: DataFrame, xcCol: String, d: Int): (Array[Double], Long) = {
    val spark = xc.sparkSession
    import spark.implicits._
    // spread the d²-per-row kernel across every core (Tables.coPartition,
    // round-robin); the scaled-integer sums are merge-order independent,
    // so the reshuffle is free of determinism risk and moves only n rows
    // SYMMETRIC fold (r22, §1.2 don't compute what you throw away): C is
    // symmetric and scaled12(xi·xj) is literally the same call for (i,j)
    // and (j,i), so only the upper triangle (d(d+1)/2 products instead of
    // d²) is accumulated and shipped; the mirror below copies the identical
    // digits — bit-for-bit the same matrix at ~half the per-row kernel and
    // half the partial-transfer bytes.
    val tri = d * (d + 1) / 2
    val partials = graft.Tables.coPartition(xc.select(col(xcCol))).as[Seq[Double]]
      .mapPartitions { it =>
        val hi = new Array[Long](tri)
        val lo = new Array[Long](tri)
        var m = 0L
        it.foreach { x =>
          val a = x.toArray
          var i = 0
          var k = 0
          while (i < d) {
            val xi = a(i); var j = i
            while (j < d) {
              val add = scaled12(xi * a(j))
              add128(hi, lo, k, add >> 63, add)
              j += 1; k += 1
            }
            i += 1
          }
          m += 1
        }
        if (m == 0) Iterator.empty
        else Iterator((m, hi.toSeq, lo.toSeq))
      }.collect()
    require(partials.nonEmpty, "empty input")
    val hi = new Array[Long](tri)
    val lo = new Array[Long](tri)
    var n = 0L
    partials.foreach { case (m, ph, pl) =>
      var k = 0
      while (k < tri) { add128(hi, lo, k, ph(k), pl(k)); k += 1 }
      n += m
    }
    val mask64 = java.math.BigInteger.ONE.shiftLeft(64)
      .subtract(java.math.BigInteger.ONE)
    val c = new Array[Double](d * d)
    var i = 0
    var k = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val v = new java.math.BigDecimal(
          java.math.BigInteger.valueOf(hi(k)).shiftLeft(64)
            .add(java.math.BigInteger.valueOf(lo(k)).and(mask64)), 12)
          .doubleValue()
        c(i * d + j) = v
        c(j * d + i) = v
        j += 1; k += 1
      }
      i += 1
    }
    (c, n)
  }

  /** [[topComponentGram]] on the decimal-exact Gram — every number in the
    * result is a deterministic function of the input through exact decimal
    * sums and ordered double folds, so a DuckDB oracle replays it bit-for-
    * bit (g39). */
  def topComponentGramExact(xc: DataFrame, xcCol: String, d: Int, iters: Int): (Array[Double], Double) = {
    val (c, n) = gramExact(xc, xcCol, d)
    val (v, vcv) = powerLoop(c, d, iters)
    (v, vcv / n)
  }

  /** The d² path: for small d (d² doubles are metadata-scale), ONE
    * distributed pass accumulates the Gram matrix C = Σ x xᵀ as a typed
    * per-partition fold — only d² doubles per partition cross to the driver
    * — and the power iteration itself then runs driver-side on C: identical
    * normalized recurrence to [[topComponent]], but every extra iteration is
    * free (no data pass), so convergence is no longer paid per-iteration.
    * C's double accumulation carries ~1e-13 merge-order noise (same contract
    * as VecSumAgg; consumers round ≤6dp); given C, the fold order is fixed,
    * so the result is deterministic. [[topComponent]] remains the path for d
    * large enough that d² stops being metadata. */
  def topComponentGram(xc: DataFrame, xcCol: String, d: Int, iters: Int): (Array[Double], Double) = {
    val spark = xc.sparkSession
    import spark.implicits._
    val partials = xc.select(col(xcCol)).as[Seq[Double]]
      .mapPartitions { it =>
        val acc = new Array[Double](d * d)
        var m = 0L
        it.foreach { x =>
          val a = x.toArray
          var i = 0
          while (i < d) {
            val xi = a(i); var j = 0
            while (j < d) { acc(i * d + j) += xi * a(j); j += 1 }
            i += 1
          }
          m += 1
        }
        if (m == 0) Iterator.empty else Iterator((m, acc.toSeq))
      }.collect()
    val c = new Array[Double](d * d)
    var n = 0L
    partials.foreach { case (m, arr) =>
      var i = 0
      while (i < d * d) { c(i) += arr(i); i += 1 }
      n += m
    }
    require(n > 0, "empty input")
    // λ = vᵀ C v / n = mean (x·v)², matching topComponent's estimate
    val (v, vcv) = powerLoop(c, d, iters)
    (v, vcv / n)
  }

  /** Center an array<double> column: per-component DECIMAL mean (one
    * distributed pass, d rows collected) subtracted row-wise. */
  def center(df: DataFrame, xCol: String): (DataFrame, Array[Double]) = {
    val mean = df.select(posexplode(col(xCol)).as(Seq("pos", "v")))
      .groupBy(col("pos"))
      .agg((sum(col("v").cast(Tables.decHi)).cast("double") / count(lit(1))).as("m"))
      .orderBy("pos").collect().map(_.getDouble(1))
    (df.withColumn(xCol,
      zip_with(col(xCol), typedLit(mean.toIndexedSeq), (a, b) => a - b)), mean)
  }
}
