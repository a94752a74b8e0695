package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** Shared HyperLogLog core (see [[HllSketchAgg]] for the algorithm notes):
  * 2^p byte registers, XxHash64, register-wise-max merge. Factored out so
  * the MERGEABLE-SKETCH-COLUMN functions below share one implementation
  * with the direct `hll_approx` aggregate.
  */
private[functions] object Hll {
  val DefaultP = 14

  def update(buffer: Array[Byte], v: Any, dt: DataType, p: Int): Unit = {
    val h = XxHash64Function.hash(v, dt, 42L)
    val idx = (h >>> (64 - p)).toInt
    val rank = (java.lang.Long.numberOfLeadingZeros((h << p) | (1L << (p - 1))) + 1).toByte
    if (rank > buffer(idx)) buffer(idx) = rank
  }

  def merge(buffer: Array[Byte], other: Array[Byte]): Unit = {
    require(buffer.length == other.length,
      s"hll merge: register widths differ (${buffer.length} vs ${other.length})")
    var i = 0
    while (i < buffer.length) {
      if (other(i) > buffer(i)) buffer(i) = other(i)
      i += 1
    }
  }

  def estimate(buffer: Array[Byte]): Long = {
    val m = buffer.length
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < m) {
      sum += java.lang.Math.pow(2.0, -buffer(i).toDouble)
      if (buffer(i) == 0) zeros += 1
      i += 1
    }
    val raw = alpha * m.toDouble * m.toDouble / sum
    val est =
      if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros)
      else raw
    math.round(est)
  }
}

/** `hll_sketch(x)` — like `hll_approx` but emits the REGISTER ARRAY itself
  * (binary, 2^p bytes) instead of the estimate. This is the 100 TB
  * pre-aggregation primitive: daily/partition-level jobs persist sketch
  * columns, and any later rollup (`hll_union` + `hll_estimate`) answers
  * distinct-count questions over arbitrary unions of those partitions
  * WITHOUT re-touching the raw data — re-aggregation an exact
  * COUNT(DISTINCT) fundamentally cannot do.
  */
case class HllSketchBinAgg(
    child: Expression,
    p: Int = Hll.DefaultP,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression] {

  override def prettyName: String = "hll_sketch"
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](1 << p)

  override def update(buffer: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) Hll.update(buffer, v, child.dataType, p)
    buffer
  }

  override def merge(buffer: Array[Byte], other: Array[Byte]): Array[Byte] = {
    Hll.merge(buffer, other); buffer
  }

  override def eval(buffer: Array[Byte]): Any = buffer.clone()

  override def serialize(buffer: Array[Byte]): Array[Byte] = buffer
  override def deserialize(storage: Array[Byte]): Array[Byte] = storage

  override def withNewMutableAggBufferOffset(newOffset: Int): HllSketchBinAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllSketchBinAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HllSketchBinAgg =
    copy(child = newChild)
}

/** `hll_union(sketch)` — aggregates BINARY sketch columns by register-wise
  * max, emitting the merged sketch (associative + commutative, so partial
  * aggregation and AQE re-planning cannot change the result). Null inputs
  * are skipped; width mismatches (different p) fail fast. */
case class HllUnionAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression] {

  override def prettyName: String = "hll_union"
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  // width adopted from the first sketch seen
  override def createAggregationBuffer(): Array[Byte] = Array.emptyByteArray

  private def mergeInto(buffer: Array[Byte], sk: Array[Byte]): Array[Byte] =
    if (sk.isEmpty) buffer
    else if (buffer.isEmpty) sk.clone()
    else { Hll.merge(buffer, sk); buffer }

  override def update(buffer: Array[Byte], input: InternalRow): Array[Byte] = {
    child.eval(input) match {
      case null => buffer
      case sk: Array[Byte] => mergeInto(buffer, sk)
    }
  }

  override def merge(buffer: Array[Byte], other: Array[Byte]): Array[Byte] =
    mergeInto(buffer, other)

  override def eval(buffer: Array[Byte]): Any =
    if (buffer.isEmpty) new Array[Byte](1 << Hll.DefaultP) else buffer.clone()

  override def serialize(buffer: Array[Byte]): Array[Byte] = buffer
  override def deserialize(storage: Array[Byte]): Array[Byte] = storage

  override def withNewMutableAggBufferOffset(newOffset: Int): HllUnionAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllUnionAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HllUnionAgg =
    copy(child = newChild)
}

/** `hll_estimate(sketch)` — scalar cardinality estimate of a binary sketch.
  * Not on any per-row hot path (it runs once per GROUP), so CodegenFallback
  * is the right cost/complexity trade. */
case class HllEstimate(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def prettyName: String = "hll_estimate"
  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any =
    Hll.estimate(input.asInstanceOf[Array[Byte]])

  override protected def withNewChildInternal(newChild: Expression): HllEstimate =
    copy(child = newChild)
}

/** `hll_union_pair(a, b)` — SCALAR register-wise union of two sketch blobs
  * (vs the aggregate `hll_union`, which folds a sketch COLUMN). This is the
  * set-algebra primitive: est(A)+est(B)−est(A∪B) derives an intersection
  * estimate from sketches alone (h6). Once per group — CodegenFallback. */
case class HllUnionPair(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {

  override def prettyName: String = "hll_union_pair"
  override def dataType: DataType = BinaryType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val out = a.asInstanceOf[Array[Byte]].clone()
    Hll.merge(out, b.asInstanceOf[Array[Byte]])
    out
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HllUnionPair =
    copy(left = newLeft, right = newRight)
}
