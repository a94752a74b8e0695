package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.GraftSqlBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** EXACT mergeable distinct-count sketch over a bounded non-negative id
  * space — the deterministic sibling of the HLL family ([[HllSketch]]):
  * where HLL trades exactness for a fixed 16 KiB blob, the bitmap is exact
  * and costs one BIT per id in the space. For dimension-keyed ids (users,
  * customers, devices — the things warehouses count) the space is bounded
  * and dense, and a persisted bitmap column supports the same
  * pre-aggregate → union → count rollups as HLL (h5) but with EXACT
  * answers, plus true set algebra: intersection is a bitwise AND, not an
  * inclusion-exclusion estimate (h6's caveat disappears).
  *
  * Buffer: a plain little-endian byte bitset, grown geometrically to the
  * highest id seen, serialized as-is; merges tolerate differing lengths
  * (trailing zero bytes are implicit). Ids must be in [0, 2^26) — 8 MiB
  * worst-case blob, far past every fixture id space. At a 100 TB id space
  * beyond that bound the move is roaring-style container compression or
  * HLL; the interface stays the same. Merge is bitwise OR: associative,
  * commutative, partial-aggregation/AQE re-plan independent — and unlike
  * HLL the ESTIMATE is also exact, so bitmap queries are oracle-checkable.
  */
private[functions] object Bitmap {
  val MaxBit = 1 << 26

  def set(buffer: Array[Byte], v: Long): Array[Byte] = {
    require(v >= 0 && v < MaxBit, s"bitmap_sketch id out of [0, $MaxBit): $v")
    val byteIdx = (v >> 3).toInt
    val out =
      if (byteIdx < buffer.length) buffer
      else {
        val grown = new Array[Byte](math.max(byteIdx + 1, buffer.length * 2))
        System.arraycopy(buffer, 0, grown, 0, buffer.length)
        grown
      }
    out(byteIdx) = (out(byteIdx) | (1 << (v & 7)).toByte).toByte
    out
  }

  /** Bitwise OR of `other` into a buffer at least as long as both. */
  def or(buffer: Array[Byte], other: Array[Byte]): Array[Byte] = {
    if (other.isEmpty) return buffer
    if (buffer.isEmpty) return other.clone()
    val (big, small) =
      if (buffer.length >= other.length) (buffer, other) else (other.clone(), buffer)
    var i = 0
    while (i < small.length) { big(i) = (big(i) | small(i)).toByte; i += 1 }
    big
  }

  def and(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val n = math.min(a.length, b.length)
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) { out(i) = (a(i) & b(i)).toByte; i += 1 }
    out
  }

  def count(buffer: Array[Byte]): Long = {
    var n = 0L
    var i = 0
    while (i < buffer.length) { n += java.lang.Integer.bitCount(buffer(i) & 0xff); i += 1 }
    n
  }
}

/** `bitmap_sketch(x)` — aggregates a LONG id column into its exact bitmap. */
case class BitmapSketchAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression] {

  override def prettyName: String = "bitmap_sketch"
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Array[Byte] = Array.emptyByteArray

  override def update(buffer: Array[Byte], input: InternalRow): Array[Byte] =
    child.eval(input) match {
      case null => buffer
      case v: Long => Bitmap.set(buffer, v)
      case v: Int => Bitmap.set(buffer, v.toLong)
    }

  override def merge(buffer: Array[Byte], other: Array[Byte]): Array[Byte] =
    Bitmap.or(buffer, other)

  override def eval(buffer: Array[Byte]): Any = buffer.clone()
  override def serialize(buffer: Array[Byte]): Array[Byte] = buffer
  override def deserialize(storage: Array[Byte]): Array[Byte] = storage

  override def withNewMutableAggBufferOffset(newOffset: Int): BitmapSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BitmapSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BitmapSketchAgg =
    copy(child = newChild)
}

/** `bitmap_union(bm)` — aggregates BINARY bitmap columns by bitwise OR. */
case class BitmapUnionAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression] {

  override def prettyName: String = "bitmap_union"
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Array[Byte] = Array.emptyByteArray

  override def update(buffer: Array[Byte], input: InternalRow): Array[Byte] =
    child.eval(input) match {
      case null => buffer
      case bm: Array[Byte] => Bitmap.or(buffer, bm)
    }

  override def merge(buffer: Array[Byte], other: Array[Byte]): Array[Byte] =
    Bitmap.or(buffer, other)

  override def eval(buffer: Array[Byte]): Any = buffer.clone()
  override def serialize(buffer: Array[Byte]): Array[Byte] = buffer
  override def deserialize(storage: Array[Byte]): Array[Byte] = storage

  override def withNewMutableAggBufferOffset(newOffset: Int): BitmapUnionAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BitmapUnionAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BitmapUnionAgg =
    copy(child = newChild)
}

/** `bitmap_count(bm)` — exact cardinality (popcount). Once per group. */
case class BitmapCount(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def prettyName: String = "bitmap_count"
  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any =
    Bitmap.count(input.asInstanceOf[Array[Byte]])

  override protected def withNewChildInternal(newChild: Expression): BitmapCount =
    copy(child = newChild)
}

/** `bitmap_and_pair(a, b)` — scalar bitwise AND: EXACT set intersection,
  * the operation HLL can only approximate by inclusion-exclusion. */
case class BitmapAndPair(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {

  override def prettyName: String = "bitmap_and_pair"
  override def dataType: DataType = BinaryType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Bitmap.and(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BitmapAndPair =
    copy(left = newLeft, right = newRight)
}

/** `bitmap_contains(bm, v)` → is bit `v` set. Codegen'd (doGenCode → static
  * [[BitmapSketch.contains]] call) because — unlike the once-per-group
  * sketch readers above — this sits on the merge-on-read DELETE path (m16):
  * every surviving data row evaluates one probe against its file's deletion
  * vector, so it must stay inside whole-stage codegen like `bloom_contains`
  * does on the scan-prefilter path. */
case class BitmapContains(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def prettyName: String = "bitmap_contains"
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType

  override protected def nullSafeEval(bm: Any, v: Any): Any =
    BitmapSketch.contains(bm.asInstanceOf[Array[Byte]], v.asInstanceOf[Long])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (bm, v) =>
      s"${ev.value} = graft.functions.BitmapSketch.contains($bm, $v);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BitmapContains =
    copy(left = newLeft, right = newRight)
}

object BitmapSketch {

  /** Public static probe for codegen ([[BitmapContains]]): bit `v` of the
    * little-endian bitset blob; positions past the blob are unset (blobs are
    * only as long as the highest bit written, trailing zeros implicit). */
  def contains(bm: Array[Byte], v: Long): Boolean = {
    if (v < 0) return false
    val byteIdx = v >> 3
    byteIdx < bm.length && (bm(byteIdx.toInt) & (1 << (v & 7)).toByte) != 0
  }

  /** `bitmap_sketch` / `bitmap_union` / `bitmap_count` / `bitmap_contains`
    * as Columns built from the expression classes: library code needs no
    * registered function, so it works in a session built without
    * [[graft.GraftExtensions]]. */
  def sketchColumn(c: Column): Column =
    GraftSqlBridge.column(BitmapSketchAgg(GraftSqlBridge.expression(c)).toAggregateExpression())
  def unionColumn(bm: Column): Column =
    GraftSqlBridge.column(BitmapUnionAgg(GraftSqlBridge.expression(bm)).toAggregateExpression())
  def countColumn(bm: Column): Column =
    GraftSqlBridge.column(BitmapCount(GraftSqlBridge.expression(bm)))
  def containsColumn(bm: Column, v: Column): Column =
    GraftSqlBridge.column(BitmapContains(GraftSqlBridge.expression(bm), GraftSqlBridge.expression(v)))
}
