package graft.functions

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType}

/** Mergeable FIXED-BIN HISTOGRAM sketch — the deterministic sibling of the
  * HLL trio (HllSketch.scala). Unlike HLL/GK, its semantics are exactly
  * SQL-expressible (floor-binning + cumulative counts), so the query built
  * on this custom TypedImperativeAggregate is ORACLE-BACKED: DuckDB
  * replays the binning in plain SQL and the quantile edges hash-match.
  *
  * Layout (little-endian, self-describing): lo double, width double,
  * bins int, then bins × long counts. Values clamp into [0, bins-1] —
  * out-of-range mass lands in the edge bins, the same clamp the oracle
  * applies. Union = header check + vector add (associative, commutative,
  * merge-order independent); 8·bins + 20 bytes cross the shuffle per group
  * regardless of input size — persist the blobs per partition/day and any
  * later rollup answers quantile questions without re-reading raw data.
  */
object HistSketch {
  val HeaderBytes = 8 + 8 + 4

  def create(lo: Double, width: Double, bins: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(HeaderBytes + 8 * bins).order(ByteOrder.LITTLE_ENDIAN)
    b.putDouble(lo); b.putDouble(width); b.putInt(bins)
    b.array()
  }

  def bins(sk: Array[Byte]): Int =
    ByteBuffer.wrap(sk).order(ByteOrder.LITTLE_ENDIAN).getInt(16)

  def add(sk: Array[Byte], v: Double): Unit = {
    val bb = ByteBuffer.wrap(sk).order(ByteOrder.LITTLE_ENDIAN)
    val lo = bb.getDouble(0); val w = bb.getDouble(8); val n = bb.getInt(16)
    val raw = math.floor((v - lo) / w).toInt
    val bin = math.min(math.max(raw, 0), n - 1)
    val pos = HeaderBytes + 8 * bin
    bb.putLong(pos, bb.getLong(pos) + 1L)
  }

  def union(a: Array[Byte], b: Array[Byte]): Unit = {
    require(java.util.Arrays.equals(a, 0, HeaderBytes, b, 0, HeaderBytes),
      "hist_union: sketches have different (lo, width, bins) headers")
    val ba = ByteBuffer.wrap(a).order(ByteOrder.LITTLE_ENDIAN)
    val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    val n = ba.getInt(16)
    var i = 0
    while (i < n) {
      val pos = HeaderBytes + 8 * i
      ba.putLong(pos, ba.getLong(pos) + bb.getLong(pos))
      i += 1
    }
  }

  /** Upper edge of the first bin where the cumulative count reaches q·total
    * (NULL on an empty sketch) — deterministic, hence oracle-replayable. */
  def quantileEdge(sk: Array[Byte], q: Double): Any = {
    val bb = ByteBuffer.wrap(sk).order(ByteOrder.LITTLE_ENDIAN)
    val lo = bb.getDouble(0); val w = bb.getDouble(8); val n = bb.getInt(16)
    var total = 0L
    var i = 0
    while (i < n) { total += bb.getLong(HeaderBytes + 8 * i); i += 1 }
    if (total == 0L) return null
    val target = q * total
    var cum = 0L
    i = 0
    while (i < n) {
      cum += bb.getLong(HeaderBytes + 8 * i)
      if (cum >= target) return lo + (i + 1) * w
      i += 1
    }
    lo + n * w
  }
}

/** `hist_sketch(x, lo, hi, bins)` → binary histogram blob (lo/hi/bins must
  * be foldable literals; width = (hi − lo)/bins). */
case class HistSketchAgg(
    child: Expression,
    loExpr: Expression,
    hiExpr: Expression,
    binsExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] {

  private lazy val lo = loExpr.eval().toString.toDouble
  private lazy val hi = hiExpr.eval().toString.toDouble
  private lazy val nBins = binsExpr.eval().toString.toInt
  private lazy val width = (hi - lo) / nBins

  /** Fail at analysis, not mid-aggregation: bins=0 would make width
    * Infinity (negative buffer positions at add time), hi<=lo a negative
    * width, and non-foldable lo/hi/bins an NPE in eval(null) — all with
    * opaque runtime errors. Mirrors hist_union's fail-fast header check. */
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (!Seq(loExpr, hiExpr, binsExpr).forall(_.foldable))
      TypeCheckFailure("hist_sketch: lo, hi, bins must be foldable literals")
    else
      try {
        if (nBins <= 0) TypeCheckFailure(s"hist_sketch: bins must be > 0 (got $nBins)")
        else if (!(hi > lo)) TypeCheckFailure(s"hist_sketch: hi must be > lo (got lo=$lo, hi=$hi)")
        else TypeCheckSuccess
      } catch {
        case _: NullPointerException | _: NumberFormatException =>
          TypeCheckFailure("hist_sketch: lo, hi, bins must be non-null numeric literals")
      }
  }

  override def prettyName: String = "hist_sketch"
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child, loExpr, hiExpr, binsExpr)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HistSketchAgg =
    copy(child = newChildren(0), loExpr = newChildren(1),
      hiExpr = newChildren(2), binsExpr = newChildren(3))

  override def createAggregationBuffer(): Array[Byte] =
    HistSketch.create(lo, width, nBins)

  override def update(buffer: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) HistSketch.add(buffer, v.toString.toDouble)
    buffer
  }

  override def merge(buffer: Array[Byte], other: Array[Byte]): Array[Byte] = {
    HistSketch.union(buffer, other); buffer
  }

  override def eval(buffer: Array[Byte]): Any = buffer.clone()
  override def serialize(buffer: Array[Byte]): Array[Byte] = buffer
  override def deserialize(storage: Array[Byte]): Array[Byte] = storage

  override def withNewMutableAggBufferOffset(newOffset: Int): HistSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HistSketchAgg =
    copy(inputAggBufferOffset = newOffset)
}

/** `hist_union(sketch)` → merged binary blob (vector add; header mismatch
  * fails fast; null inputs skipped). */
case class HistUnionAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression] {

  override def prettyName: String = "hist_union"
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Array[Byte] = Array.emptyByteArray

  private def mergeInto(buffer: Array[Byte], sk: Array[Byte]): Array[Byte] =
    if (sk.isEmpty) buffer
    else if (buffer.isEmpty) sk.clone()
    else { HistSketch.union(buffer, sk); buffer }

  override def update(buffer: Array[Byte], input: InternalRow): Array[Byte] =
    child.eval(input) match {
      case null => buffer
      case sk: Array[Byte] => mergeInto(buffer, sk)
    }

  override def merge(buffer: Array[Byte], other: Array[Byte]): Array[Byte] =
    mergeInto(buffer, other)

  override def eval(buffer: Array[Byte]): Any = buffer.clone()
  override def serialize(buffer: Array[Byte]): Array[Byte] = buffer
  override def deserialize(storage: Array[Byte]): Array[Byte] = storage

  override def withNewMutableAggBufferOffset(newOffset: Int): HistUnionAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HistUnionAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HistUnionAgg =
    copy(child = newChild)
}

/** `hist_quantile(sketch, q)` → upper edge of the bin holding the q-quantile
  * (runs once per group — CodegenFallback is the right trade). */
case class HistQuantile(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def prettyName: String = "hist_quantile"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override protected def nullSafeEval(sk: Any, q: Any): Any =
    HistSketch.quantileEdge(sk.asInstanceOf[Array[Byte]], q.toString.toDouble)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HistQuantile =
    copy(left = newLeft, right = newRight)
}
