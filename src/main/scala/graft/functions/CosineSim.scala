package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression: cosine similarity of two double arrays in a
  * single fused pass (dot + both norms), with `doGenCode` so it runs inside
  * whole-stage codegen — no interpreted higher-order-function lambdas, no UDF
  * serialization. This is the extension tier the engine reaches for when a
  * scalar function is hot at 100 TB: same semantics as the
  * `aggregate(zip_with(...))` formulation (identical ascending-index fold →
  * bit-identical doubles), ~an order of magnitude less per-row overhead.
  *
  * Registered per-session by [[CosineSim.register]] (temp function
  * `cosine_sim`), so any SparkSession the driver hands us works.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  // callers pass array<double> columns (see g3b); no ExpectsInputTypes — the
  // trait's input-type class is private[sql]
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  // every local gets ctx.freshName: two cosine_sim calls routinely land in
  // the SAME whole-stage-codegen function (e.g. one in a filter and one in a
  // projection), and fixed names would collide — janino rejects the stage and
  // Spark silently falls back to the interpreted path, losing exactly the
  // speedup this expression exists for
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n"); val dot = ctx.freshName("dot")
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val xi = ctx.freshName("xi"); val yi = ctx.freshName("yi")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = $x.getDouble($i);
         |  double $yi = $y.getDouble($i);
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}
