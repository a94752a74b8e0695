package graft.functions

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Mergeable MISRA-GRIES heavy-hitters sketch — the third member of the
  * sketch library (cardinality = HllSketch, quantiles = HistSketch,
  * frequent items = this). A k-counter MG summary guarantees every item's
  * estimate undercounts its true frequency by at most n/k (n = stream
  * length), so every true heavy hitter with frequency > n/k survives; the
  * summaries MERGE (sum counters, then subtract the (k+1)-th largest and
  * drop ≤0 — Agarwal et al., "Mergeable Summaries", PODS'12) with the same
  * bound, which is what lets per-shard vocabulary partials roll up into a
  * corpus-wide top-terms view at 100 TB without a global groupBy over every
  * distinct term. Survivor sets can depend on merge order (the bound
  * cannot), so queries over this sketch are rows-only + spec-verified, like
  * the HLL band.
  *
  * Serialized layout (little-endian): k int, entries int, then per entry
  * (utf8 len int, bytes, count long).
  */
object FreqSketch {
  type Summary = mutable.HashMap[String, Long]

  def update(state: Summary, k: Int, term: String): Unit = {
    state.get(term) match {
      case Some(c) => state.update(term, c + 1)
      case None if state.size < k => state.update(term, 1L)
      case None =>
        // classic MG decrement step: all counters down 1, drop zeros
        val dead = mutable.ArrayBuffer.empty[String]
        state.mapValuesInPlace { (key, c) => if (c == 1) { dead += key; 0 } else c - 1 }
        dead.foreach(state.remove)
    }
  }

  def merge(a: Summary, b: Summary, k: Int): Summary = {
    b.foreach { case (t, c) => a.update(t, a.getOrElse(t, 0L) + c) }
    if (a.size > k) {
      val cut = a.values.toArray.sorted(Ordering[Long].reverse).apply(k)
      val dead = mutable.ArrayBuffer.empty[String]
      a.mapValuesInPlace { (key, c) => if (c <= cut) { dead += key; 0 } else c - cut }
      dead.foreach(a.remove)
    }
    a
  }

  def serialize(state: Summary, k: Int): Array[Byte] = {
    val entries = state.toArray
    val byteArrays = entries.map { case (t, _) => t.getBytes(StandardCharsets.UTF_8) }
    val size = 8 + byteArrays.map(_.length + 12).sum
    val b = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
    b.putInt(k); b.putInt(entries.length)
    entries.indices.foreach { i =>
      b.putInt(byteArrays(i).length); b.put(byteArrays(i)); b.putLong(entries(i)._2)
    }
    b.array()
  }

  def deserialize(bytes: Array[Byte]): (Summary, Int) = {
    val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val k = b.getInt(); val n = b.getInt()
    val m = new Summary
    (0 until n).foreach { _ =>
      val len = b.getInt()
      val arr = new Array[Byte](len); b.get(arr)
      m.update(new String(arr, StandardCharsets.UTF_8), b.getLong())
    }
    (m, k)
  }
}

/** `freq_sketch(term, k)` → binary MG summary of at most k counters. */
case class FreqSketchAgg(
    child: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[FreqSketch.Summary] {

  private lazy val k = kExpr.eval().toString.toInt

  override def prettyName: String = "freq_sketch"
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child, kExpr)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): FreqSketchAgg =
    copy(child = newChildren(0), kExpr = newChildren(1))

  override def createAggregationBuffer(): FreqSketch.Summary = new FreqSketch.Summary

  override def update(buffer: FreqSketch.Summary, input: InternalRow): FreqSketch.Summary = {
    val v = child.eval(input)
    if (v != null) FreqSketch.update(buffer, k, v.toString)
    buffer
  }

  override def merge(buffer: FreqSketch.Summary, other: FreqSketch.Summary): FreqSketch.Summary =
    FreqSketch.merge(buffer, other, k)

  override def eval(buffer: FreqSketch.Summary): Any =
    FreqSketch.serialize(buffer, k)

  override def serialize(buffer: FreqSketch.Summary): Array[Byte] =
    FreqSketch.serialize(buffer, k)
  override def deserialize(storage: Array[Byte]): FreqSketch.Summary =
    FreqSketch.deserialize(storage)._1

  override def withNewMutableAggBufferOffset(newOffset: Int): FreqSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FreqSketchAgg =
    copy(inputAggBufferOffset = newOffset)
}

/** `freq_union(sketch)` → merged binary MG summary (null inputs skipped).
  * Sketches built with different k fail fast — silently adopting min(k)
  * would weaken the advertised n/k error bound with no signal, and
  * hist_union already fails fast on header mismatch; consistency wins. */
case class FreqUnionAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[(FreqSketch.Summary, Int)]
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  override def prettyName: String = "freq_union"
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): (FreqSketch.Summary, Int) =
    (new FreqSketch.Summary, 0)

  private def mergeInto(
      buf: (FreqSketch.Summary, Int), sk: (FreqSketch.Summary, Int)): (FreqSketch.Summary, Int) =
    if (sk._2 == 0) buf
    else if (buf._2 == 0) sk
    else {
      require(buf._2 == sk._2,
        s"freq_union: sketches built with different k (${buf._2} vs ${sk._2}) — " +
          "rebuild with a common k; merging would silently weaken the n/k error bound")
      (FreqSketch.merge(buf._1, sk._1, buf._2), buf._2)
    }

  override def update(
      buffer: (FreqSketch.Summary, Int), input: InternalRow): (FreqSketch.Summary, Int) =
    child.eval(input) match {
      case null => buffer
      case bytes: Array[Byte] => mergeInto(buffer, FreqSketch.deserialize(bytes))
    }

  override def merge(
      buffer: (FreqSketch.Summary, Int),
      other: (FreqSketch.Summary, Int)): (FreqSketch.Summary, Int) =
    mergeInto(buffer, other)

  override def eval(buffer: (FreqSketch.Summary, Int)): Any =
    FreqSketch.serialize(buffer._1, buffer._2)

  override def serialize(buffer: (FreqSketch.Summary, Int)): Array[Byte] =
    FreqSketch.serialize(buffer._1, buffer._2)
  override def deserialize(storage: Array[Byte]): (FreqSketch.Summary, Int) =
    FreqSketch.deserialize(storage)

  override def withNewMutableAggBufferOffset(newOffset: Int): FreqUnionAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FreqUnionAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): FreqUnionAgg =
    copy(child = newChild)
}

/** `freq_items(sketch)` → map<string, long> of surviving counters (explode +
  * order downstream; runs once per group, CodegenFallback). */
case class FreqItems(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def prettyName: String = "freq_items"
  override def dataType: DataType = MapType(StringType, LongType, valueContainsNull = false)

  override protected def nullSafeEval(input: Any): Any = {
    val (m, _) = FreqSketch.deserialize(input.asInstanceOf[Array[Byte]])
    // deterministic layout: sort by term so downstream explode is stable
    val entries = m.toArray.sortBy(_._1)
    new ArrayBasedMapData(
      new GenericArrayData(entries.map(e => UTF8String.fromString(e._1)): Array[Any]),
      new GenericArrayData(entries.map(e => java.lang.Long.valueOf(e._2)): Array[Any]))
  }

  override protected def withNewChildInternal(newChild: Expression): FreqItems =
    copy(child = newChild)
}
