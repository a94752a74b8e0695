package graft.functions

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String

/** Mergeable BLOOM FILTER sketch — the fourth member of the sketch library
  * (cardinality = HllSketch, quantiles = HistSketch, frequent items =
  * FreqSketch, set MEMBERSHIP = this). `bloom_sketch(x, m_bits, k_hashes)`
  * aggregates values into an m-bit filter; `bloom_union(sk)` ORs partials
  * (associative, commutative, merge-order independent — per-shard filters
  * roll up freely); `bloom_contains(sk, x)` is a codegen'd scalar probe with
  * NO FALSE NEGATIVES and a tunable false-positive rate
  * (≈ (1 − e^(−k·n/m))^k — Bloom, CACM 1970).
  *
  * The 100 TB role: a membership prefilter whose cost is one broadcast blob.
  * Build the filter over the small set (benchmark n-grams, a blocklist, a
  * join key domain), broadcast the single row, and probe it scan-side so the
  * huge table drops non-members BEFORE the shuffle/join; an exact join over
  * the survivors then removes the false positives, so the end-to-end result
  * stays exact (g27). Same idea as Spark's own runtime bloom-filter join
  * pruning, exposed as a first-class re-aggregatable column.
  *
  * Layout (little-endian, self-describing): m_bits int, k_hashes int, then
  * ceil(m/64) × long words. Indexes use Kirsch–Mitzenmacher double hashing
  * (h1 + i·h2) over FNV-1a 64 + a splitmix64-finalized second hash.
  */
object BloomSketch {
  val HeaderBytes = 4 + 4

  def create(mBits: Int, kHashes: Int): Array[Byte] = {
    val words = (mBits + 63) / 64
    val b = ByteBuffer.allocate(HeaderBytes + 8 * words).order(ByteOrder.LITTLE_ENDIAN)
    b.putInt(mBits); b.putInt(kHashes)
    b.array()
  }

  private def fnv1a64(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { h ^= bytes(i) & 0xffL; h *= 0x100000001b3L; i += 1 }
    h
  }

  /** splitmix64 finalizer — decorrelates h2 from h1 (odd, never zero). */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    (z ^ (z >>> 31)) | 1L
  }

  def add(sk: Array[Byte], value: UTF8String): Unit = {
    val bb = ByteBuffer.wrap(sk).order(ByteOrder.LITTLE_ENDIAN)
    val m = bb.getInt(0); val k = bb.getInt(4)
    val bytes = value.getBytes
    val h1 = fnv1a64(bytes); val h2 = mix(h1)
    var i = 0
    while (i < k) {
      val bit = java.lang.Long.remainderUnsigned(h1 + i * h2, m)
      val pos = HeaderBytes + 8 * (bit >>> 6).toInt
      bb.putLong(pos, bb.getLong(pos) | (1L << (bit & 63)))
      i += 1
    }
  }

  /** The scalar probe — public + a static forwarder so whole-stage codegen
    * calls it directly (BloomContains.doGenCode). */
  def mightContain(sk: Array[Byte], value: UTF8String): Boolean = {
    val bb = ByteBuffer.wrap(sk).order(ByteOrder.LITTLE_ENDIAN)
    val m = bb.getInt(0); val k = bb.getInt(4)
    val bytes = value.getBytes
    val h1 = fnv1a64(bytes); val h2 = mix(h1)
    var i = 0
    while (i < k) {
      val bit = java.lang.Long.remainderUnsigned(h1 + i * h2, m)
      if ((bb.getLong(HeaderBytes + 8 * (bit >>> 6).toInt) & (1L << (bit & 63))) == 0L)
        return false
      i += 1
    }
    true
  }

  def union(a: Array[Byte], b: Array[Byte]): Unit = {
    require(java.util.Arrays.equals(a, 0, HeaderBytes, b, 0, HeaderBytes),
      "bloom_union: sketches have different (m_bits, k_hashes) headers")
    val ba = ByteBuffer.wrap(a).order(ByteOrder.LITTLE_ENDIAN)
    val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    var pos = HeaderBytes
    while (pos < a.length) { ba.putLong(pos, ba.getLong(pos) | bb.getLong(pos)); pos += 8 }
  }

  /** Probe column against a driver-materialized blob, embedded as a binary
    * LITERAL — the shape Spark's own runtime bloom-filter injection uses
    * (scalar subquery → literal). Joining the blob in as a broadcast row
    * instead is 10× slower: every joined row materializes the m/8-byte
    * binary, so a 2^20-bit filter over 260k probe rows copies ~33 GB
    * (measured sf0.1; literal probe 0.45 s vs broadcast-row probe 5.0 s).
    * The collect is ONE row of m/8 bytes — metadata scale.
    */
  def containsColumn(blob: Array[Byte], c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    probeColumn(org.apache.spark.sql.functions.lit(blob), c)

  /** `bloom_sketch` / `bloom_contains` as Columns built from the expression
    * classes: library code needs no registered function, so it works in a
    * session built without [[graft.GraftExtensions]]. */
  def sketchColumn(c: org.apache.spark.sql.Column, mBits: Int,
      kHashes: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.classic.GraftSqlBridge
    import org.apache.spark.sql.catalyst.expressions.Literal
    GraftSqlBridge.column(BloomSketchAgg(GraftSqlBridge.expression(c),
      Literal(mBits), Literal(kHashes)).toAggregateExpression())
  }
  def probeColumn(sketch: org.apache.spark.sql.Column,
      c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.classic.GraftSqlBridge
    GraftSqlBridge.column(BloomContains(GraftSqlBridge.expression(sketch),
      GraftSqlBridge.expression(c)))
  }
}

/** `bloom_sketch(x, m_bits, k_hashes)` → binary filter blob (m/k must be
  * foldable positive literals; x probed by its string form, like the other
  * sketch aggregates). */
case class BloomSketchAgg(
    child: Expression,
    mExpr: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] {

  private lazy val mBits = mExpr.eval().toString.toInt
  private lazy val kHashes = kExpr.eval().toString.toInt

  /** Fail at analysis, not mid-aggregation (mirrors hist_sketch). */
  override def checkInputDataTypes(): TypeCheckResult = {
    import TypeCheckResult._
    if (!Seq(mExpr, kExpr).forall(_.foldable))
      TypeCheckFailure("bloom_sketch: m_bits and k_hashes must be foldable literals")
    else
      try {
        if (mBits <= 0) TypeCheckFailure(s"bloom_sketch: m_bits must be > 0 (got $mBits)")
        else if (kHashes <= 0) TypeCheckFailure(s"bloom_sketch: k_hashes must be > 0 (got $kHashes)")
        else TypeCheckSuccess
      } catch {
        case _: NullPointerException | _: NumberFormatException =>
          TypeCheckFailure("bloom_sketch: m_bits and k_hashes must be non-null integer literals")
      }
  }

  override def prettyName: String = "bloom_sketch"
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child, mExpr, kExpr)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BloomSketchAgg =
    copy(child = newChildren(0), mExpr = newChildren(1), kExpr = newChildren(2))

  override def createAggregationBuffer(): Array[Byte] =
    BloomSketch.create(mBits, kHashes)

  override def update(buffer: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) BloomSketch.add(buffer, v match {
      case u: UTF8String => u
      case other => UTF8String.fromString(other.toString)
    })
    buffer
  }

  override def merge(buffer: Array[Byte], other: Array[Byte]): Array[Byte] = {
    BloomSketch.union(buffer, other); buffer
  }

  override def eval(buffer: Array[Byte]): Any = buffer.clone()
  override def serialize(buffer: Array[Byte]): Array[Byte] = buffer
  override def deserialize(storage: Array[Byte]): Array[Byte] = storage

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomSketchAgg =
    copy(inputAggBufferOffset = newOffset)
}

/** `bloom_union(sketch)` → merged binary blob (bitwise OR; header mismatch
  * fails fast; null inputs skipped). */
case class BloomUnionAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression] {

  override def prettyName: String = "bloom_union"
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Array[Byte] = Array.emptyByteArray

  private def mergeInto(buf: Array[Byte], sk: Array[Byte]): Array[Byte] =
    if (sk.isEmpty) buf
    else if (buf.isEmpty) sk.clone()
    else { BloomSketch.union(buf, sk); buf }

  override def update(buffer: Array[Byte], input: InternalRow): Array[Byte] =
    child.eval(input) match {
      case null => buffer
      case bytes: Array[Byte] => mergeInto(buffer, bytes)
    }

  override def merge(buffer: Array[Byte], other: Array[Byte]): Array[Byte] =
    mergeInto(buffer, other)

  override def eval(buffer: Array[Byte]): Any = buffer.clone()
  override def serialize(buffer: Array[Byte]): Array[Byte] = buffer
  override def deserialize(storage: Array[Byte]): Array[Byte] = storage

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomUnionAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomUnionAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BloomUnionAgg =
    copy(child = newChild)
}

/** `bloom_contains(sketch, x)` → boolean might-contain probe. Codegen'd
  * (doGenCode → static BloomSketch.mightContain call) so a scan-side
  * prefilter stays inside whole-stage codegen — this sits in the hottest
  * path the sketch family has. */
case class BloomContains(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_contains"

  override def nullSafeEval(sk: Any, v: Any): Any =
    BloomSketch.mightContain(sk.asInstanceOf[Array[Byte]], v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (sk, v) =>
      s"${ev.value} = graft.functions.BloomSketch.mightContain($sk, $v);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomContains =
    copy(left = newLeft, right = newRight)
}
