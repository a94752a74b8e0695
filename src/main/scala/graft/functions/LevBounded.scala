package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Banded (bounded) Levenshtein — the edit-distance kernel a fuzzy-dedup
  * pipeline actually runs. `lev_bounded(a, b, k)` returns the exact
  * distance when it is ≤ k and k+1 otherwise, evaluating only the
  * 2k+1-wide diagonal band of the DP matrix with an early exit as soon as
  * the band's minimum exceeds k: O(k·min(|a|,|b|)) instead of the full
  * O(|a|·|b|) — at the thresholds dedup uses (k ≤ ~4) that is a 5–10×
  * kernel saving on 20+-char keys, and mismatched-length pairs
  * short-circuit to k+1 without touching the matrix at all.
  *
  * Semantics match `levenshtein(a, b) <= k` filters exactly:
  * `lev_bounded(a, b, k) <= k  ⟺  levenshtein(a, b) <= k`, and the
  * returned distance equals the unbounded one whenever it is within the
  * bound (property-tested against a reference full DP in
  * `LevBoundedSpec`). Distances count Unicode code points, like Spark's
  * and DuckDB's `levenshtein`.
  */
object LevKernel {

  /** Exact codepoint Levenshtein if ≤ k, else k+1. Static so whole-stage
    * codegen calls it directly (see LevBounded.doGenCode). */
  def bounded(a: UTF8String, b: UTF8String, k: Int): Int = {
    require(k >= 0, s"lev_bounded: k must be >= 0 (got $k)")
    val s = a.toString.codePoints().toArray
    val t = b.toString.codePoints().toArray
    if (math.abs(s.length - t.length) > k) return k + 1
    // classic banded DP over rows of t, band half-width k around the diagonal
    val n = s.length; val m = t.length
    if (n == 0) return math.min(m, k + 1)
    if (m == 0) return math.min(n, k + 1)
    val inf = k + 1
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    var j = 0
    while (j <= m) { prev(j) = if (j <= k) j else inf; j += 1 }
    var i = 1
    while (i <= n) {
      val lo = math.max(1, i - k)
      val hi = math.min(m, i + k)
      cur(lo - 1) = inf
      if (lo == 1) cur(0) = if (i <= k) i else inf
      var rowMin = cur(math.max(0, lo - 1))
      j = lo
      while (j <= hi) {
        val sub = prev(j - 1) + (if (s(i - 1) == t(j - 1)) 0 else 1)
        val del = if (prev(j) < inf) prev(j) + 1 else inf
        val ins = if (cur(j - 1) < inf) cur(j - 1) + 1 else inf
        val v = math.min(sub, math.min(del, ins))
        cur(j) = math.min(v, inf)
        if (cur(j) < rowMin) rowMin = cur(j)
        j += 1
      }
      if (hi < m) cur(hi + 1) = inf
      if (rowMin >= inf) return inf // early exit: whole band over budget
      val tmp = prev; prev = cur; cur = tmp
      i += 1
    }
    math.min(prev(m), inf)
  }
}

/** `lev_bounded(a, b, k)` — codegen'd (static kernel call), stays inside
  * whole-stage codegen on the blocked self-join hot path. */
case class LevBounded(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def prettyName: String = "lev_bounded"
  override def dataType: DataType = IntegerType

  /** Fail at analysis, not mid-scan (AbstractDataType/ExpectsInputTypes are
    * private[sql], so the check is spelled out). */
  override def checkInputDataTypes(): TypeCheckResult = {
    import TypeCheckResult._
    if (first.dataType != StringType || second.dataType != StringType)
      TypeCheckFailure(s"lev_bounded: a and b must be STRING (got ${first.dataType}, ${second.dataType})")
    else if (third.dataType != IntegerType || !third.foldable)
      TypeCheckFailure("lev_bounded: k must be an INT literal")
    else TypeCheckSuccess
  }

  override def nullSafeEval(a: Any, b: Any, k: Any): Any =
    LevKernel.bounded(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String],
      k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, k) =>
      s"${ev.value} = graft.functions.LevKernel.bounded($a, $b, $k);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): LevBounded =
    copy(first = newFirst, second = newSecond, third = newThird)
}
