package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.unsafe.Platform

/** SURVEY §2 C10's scale path as the FULL whole-operator extension chain:
  * custom logical plan → planner strategy → custom physical operator,
  * driven from a public DataFrame-level API ([[GraftOps.asofJoin]]).
  *
  * Semantics: for every left row, append the single latest right row with an
  * equal join key whose order tuple is strictly below the left row's order
  * tuple (lexicographic; right columns null when no such row) — exactly the
  * `last(...) OVER (... ROWS UNBOUNDED PRECEDING AND 1 PRECEDING)` window
  * formulation c10 uses, but as a two-table join.
  *
  * Execution (100 TB design): both sides shuffle ONCE on the equi-key and
  * sort within partitions by (key, order tuple) — the same exchange a
  * sort-merge join pays — then a streaming merge walks the two sorted
  * iterators with O(1) state (the one latest right row seen for the current
  * key). No per-key buffering, no window over a unioned table, no broadcast:
  * a user with a billion right-side rows costs nothing beyond their sort.
  * Spark itself has no as-of join (SPARK-22947 is open); pandas-on-Spark's
  * merge_asof rewrites to a range join + aggregation, which shuffles both
  * sides AND re-aggregates — this operator does the minimal work.
  */
final case class AsOfJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftOrder: Seq[Expression],
    rightOrder: Seq[Expression])
  extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoin]] — the node only ever comes from [[GraftOps.asofJoin]],
  * so no opt-in marker is needed. */
object GraftAsOfStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: AsOfJoin =>
      GraftAsOfJoinExec(j.leftKeys, j.rightKeys, j.leftOrder, j.rightOrder,
        SQLConf.get.numShufflePartitions, planLater(j.left), planLater(j.right)) :: Nil
    case _ => Nil
  }
}

object GraftAsOfJoinExec {

  /** Shuffle key: routed by a murmur3 partition id precomputed on the map
    * side (Catalyst's `HashPartitioning.partitionIdExpression` — both sides'
    * key tuples have identical types, so equal keys get equal pids and the
    * declared outputPartitioning is physically true), ordered by (key bytes,
    * typed order tuple). Key equality ⇔ byte equality because both sides'
    * keys go through an UnsafeProjection to identical canonical layouts.
    */
  final class AsOfKey(val pid: Int, val key: UnsafeRow, val ord: UnsafeRow)
      extends Serializable {
    override def hashCode(): Int = pid
    override def equals(o: Any): Boolean = o match {
      case other: AsOfKey => key.equals(other.key) && ord.equals(other.ord)
      case _              => false
    }
  }

  /** Unsigned lexicographic byte compare — an arbitrary but total and
    * consistent order, used ONLY to cluster equal keys contiguously (the
    * as-of comparison itself is the typed ordering over the order tuple). */
  def compareKeyBytes(a: UnsafeRow, b: UnsafeRow): Int = {
    val an = a.getSizeInBytes; val bn = b.getSizeInBytes
    val n = math.min(an, bn)
    var i = 0
    while (i < n) {
      val x = Platform.getByte(a.getBaseObject, a.getBaseOffset + i) & 0xff
      val y = Platform.getByte(b.getBaseObject, b.getBaseOffset + i) & 0xff
      if (x != y) return x - y
      i += 1
    }
    an - bn
  }

  /** Serializable shuffle ordering (the typed part is a LazilyGeneratedOrdering,
    * which code-generates its comparator on first use per JVM). */
  final class ShuffleOrdering(ordTypes: Seq[SortOrder])
      extends Ordering[AsOfKey] with Serializable {
    private val typed = new LazilyGeneratedOrdering(ordTypes)
    override def compare(a: AsOfKey, b: AsOfKey): Int = {
      val c = compareKeyBytes(a.key, b.key)
      if (c != 0) c else typed.compare(a.ord, b.ord)
    }
  }
}

final case class GraftAsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftOrder: Seq[Expression],
    rightOrder: Seq[Expression],
    numPartitions: Int,
    left: SparkPlan,
    right: SparkPlan)
  extends BinaryExecNode {

  import GraftAsOfJoinExec._

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  /** Physically true — rows land on the murmur3 partition of the left key
    * (see `keyed`) — so a downstream aggregation/join clustered on the left
    * key skips its exchange. */
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    org.apache.spark.sql.catalyst.plans.physical.HashPartitioning(leftKeys, numPartitions)

  // numOutputRows always equals the left row count (as-of is left-total);
  // matchedRows is the observability signal — how many left rows actually
  // found a preceding right row.
  override lazy val metrics: Map[String, org.apache.spark.sql.execution.metric.SQLMetric] =
    Map(
      "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
        .createMetric(sparkContext, "number of output rows"),
      "matchedRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
        .createMetric(sparkContext, "left rows with a preceding match"))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): GraftAsOfJoinExec =
    copy(left = newLeft, right = newRight)

  /** SortOrder over the order tuple by position (both sides project to the
    * same types — enforced in GraftOps). */
  private def boundOrd: Seq[SortOrder] =
    leftOrder.zipWithIndex.map { case (e, i) =>
      SortOrder(BoundReference(i, e.dataType, e.nullable), Ascending)
    }

  private def keyed(
      plan: SparkPlan, keys: Seq[Expression], ord: Seq[Expression]): RDD[(AsOfKey, UnsafeRow)] = {
    val out = plan.output
    val nParts = numPartitions
    // bind by position against the projected key row; equal key values on
    // the two sides have identical types, hence identical murmur3 pids
    val keyRefs: Seq[Expression] = keys.zipWithIndex.map { case (e, i) =>
      BoundReference(i, e.dataType, e.nullable)
    }
    plan.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(keys, out)
      val ordProj = UnsafeProjection.create(ord, out)
      val rowProj = UnsafeProjection.create(out.map(a => a: Expression), out)
      val pidProj = UnsafeProjection.create(Seq(
        org.apache.spark.sql.catalyst.plans.physical
          .HashPartitioning(keyRefs, nParts).partitionIdExpression))
      iter.map { r =>
        // copies: the sort-based shuffle writer buffers live objects
        val key = keyProj(r).copy()
        (new AsOfKey(pidProj(key).getInt(0), key, ordProj(r).copy()), rowProj(r).copy())
      }
    }
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val ordTypes = boundOrd
    val rightWidth = right.output.size
    val resultSchema = output
    val numOutputRows = longMetric("numOutputRows")
    val matchedRows = longMetric("matchedRows")
    implicit val shuffleOrd: Ordering[AsOfKey] = new ShuffleOrdering(ordTypes)
    val part = new GraftPidPartitioner(numPartitions)

    val l2 = keyed(left, leftKeys, leftOrder).repartitionAndSortWithinPartitions(part)
    val r2 = keyed(right, rightKeys, rightOrder).repartitionAndSortWithinPartitions(part)

    l2.zipPartitions(r2) { (lIter, rIter) =>
      val typed = new LazilyGeneratedOrdering(ordTypes)
      val nullRight = new GenericInternalRow(rightWidth)
      val joined = new JoinedRow
      val proj = UnsafeProjection.create(resultSchema.map(a => a: Expression), resultSchema)
      var rCur: (AsOfKey, UnsafeRow) = if (rIter.hasNext) rIter.next() else null
      // O(1) merge state: the latest right row already consumed, and its key
      var lastKey: UnsafeRow = null
      var lastRow: UnsafeRow = null
      lIter.map { case (lk, lrow) =>
        var advance = rCur != null
        while (advance) {
          val ck = compareKeyBytes(rCur._1.key, lk.key)
          if (ck < 0 || (ck == 0 && typed.compare(rCur._1.ord, lk.ord) < 0)) {
            lastKey = rCur._1.key; lastRow = rCur._2
            rCur = if (rIter.hasNext) rIter.next() else null
            advance = rCur != null
          } else advance = false
        }
        val matched = lastKey != null && compareKeyBytes(lastKey, lk.key) == 0
        numOutputRows += 1
        if (matched) matchedRows += 1
        proj(joined(lrow, if (matched) lastRow else nullRight))
      }
    }
  }
}

/** Public DataFrame-level entry points for the graft-native operators. */
object GraftOps {

  /** Grouped top-k through [[GraftTopKPerKeyExec]]: the k first rows of each
    * key group under `order` (which should be a total order — add a unique
    * tiebreak column), with their 1-based rank appended as `rankName`.
    * Equivalent to `row_number().over(Window...)` + filter, but executed as
    * bounded selection — no partition is ever sorted (see
    * [[GraftTopKStrategy]]).
    */
  def topKPerKey(
      df: DataFrame,
      keys: Seq[Column],
      order: Seq[Column],
      k: Int,
      rankName: String = "rank"): DataFrame = {
    val d = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val spark = d.sparkSession
    if (!spark.experimental.extraStrategies.contains(GraftTopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ GraftTopKStrategy
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    val w = Window.partitionBy(keys: _*).orderBy(order: _*)
    d.withColumn("rn_native", row_number().over(w))
      .filter(col("rn_native") <= k)
      .withColumnRenamed("rn_native", rankName)
  }

  /** As-of join: `left` gains `right`'s columns from the latest right row
    * with equal `keys` and order tuple strictly below the left row's
    * (null-extended when none exists). `leftOrder`/`rightOrder` must project
    * to the same types — typically (timestamp, unique id).
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      leftKeys: Seq[Column],
      rightKeys: Seq[Column],
      leftOrder: Seq[Column],
      rightOrder: Seq[Column]): DataFrame = {
    val l = left.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val r = right.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val spark = l.sparkSession
    if (!spark.experimental.extraStrategies.contains(GraftAsOfStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ GraftAsOfStrategy
    val toExpr = org.apache.spark.sql.classic.GraftSqlBridge.expression _
    val node = AsOfJoin(
      l.queryExecution.analyzed, r.queryExecution.analyzed,
      leftKeys.map(toExpr), rightKeys.map(toExpr),
      leftOrder.map(toExpr), rightOrder.map(toExpr))
    require(node.leftOrder.map(_.dataType) == node.rightOrder.map(_.dataType),
      "asofJoin: leftOrder and rightOrder must project to identical types")
    require(node.leftKeys.map(_.dataType) == node.rightKeys.map(_.dataType),
      "asofJoin: leftKeys and rightKeys must project to identical types")
    require(l.queryExecution.analyzed.outputSet.intersect(
        r.queryExecution.analyzed.outputSet).isEmpty,
      "asofJoin: left and right must not share attribute ids (re-read or alias one side)")
    org.apache.spark.sql.classic.GraftSqlBridge.ofRows(spark, node)
  }

  /** Exact left-semi join accelerated by a bloom prefilter — the g27
    * pattern as a library operator. Builds a bloom filter over
    * `small(smallKey)`, materializes the ONE m/8-byte blob on the driver
    * (the scalar-subquery shape Spark's own runtime bloom-filter injection
    * uses — metadata scale, never data), probes it scan-side on
    * `large(largeKey)` as a codegen'd LITERAL filter so non-members drop
    * BEFORE any shuffle, then exact-confirms the survivors with a real
    * left-semi join (removing the false positives). Result rows are exactly
    * `large` semi-joined to `small` — the bloom only changes HOW MUCH of
    * `large` reaches the join. (A broadcast 1-row join would re-materialize
    * the blob per probe row — measured 10× slower at sf0.1; see
    * BloomSketch.containsColumn.) Defaults (2^20 bits, 5 hashes) give
    * ≈0.6% fpp at 50k members; size m ≈ 14 bits/member for ~0.1%. Keys are
    * probed by their string form.
    */
  def bloomSemiJoin(
      large: DataFrame,
      small: DataFrame,
      largeKey: String,
      smallKey: String,
      mBits: Int = 1 << 20,
      kHashes: Int = 5): DataFrame = {
    import org.apache.spark.sql.functions.col
    val blob = small
      .select(col(smallKey).cast("string").as("__graft_bk"))
      .agg(graft.functions.BloomSketch.sketchColumn(col("__graft_bk"), mBits, kHashes)
        .as("__graft_bsk"))
      .head().getAs[Array[Byte]](0)
    large
      .filter(graft.functions.BloomSketch.containsColumn(blob,
        col(largeKey).cast("string")))
      // exact confirm; broadcast vs shuffle left to Catalyst/AQE — a small
      // side that fits its bloom in 128 KB usually broadcasts, but the
      // operator stays correct when only the BLOOM fits in memory
      .join(small.select(col(smallKey).as(largeKey)).distinct(),
        Seq(largeKey), "left_semi")
      // using-column joins move the join key first; give back large's order
      .select(large.columns.map(col).toIndexedSeq: _*)
  }
}
