package graft.plans

import scala.collection.mutable

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{Filter => LogicalFilter, LogicalPlan, Window => LogicalWindow, WindowGroupLimit}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.internal.SQLConf

/** SURVEY §2 E1 scale path as a whole-operator Catalyst extension: a custom
  * physical operator (plus planner strategy) that executes the canonical
  * grouped top-k pattern
  *
  * {{{
  *   df.withColumn("rn_native", row_number().over(Window.partitionBy(p).orderBy(o)))
  *     .filter($"rn_native" <= k)
  * }}}
  *
  * WITHOUT ever sorting a full partition in executor memory. Spark's own plan
  * for this shape is Exchange → Sort(full partition) → Window(row_number) →
  * Filter; since 3.5 the InferWindowGroupLimit rule pre-trims each map
  * partition to k rows per key (WindowGroupLimitExec) but still needs a full
  * local sort before each trim pass and a final per-partition sort before the
  * Window. At 100 TB the sort of a hot key's entire partition is the
  * bottleneck. This operator instead:
  *
  *  1. MAP SIDE: keeps a bounded selection buffer (≤ 2k rows) per key —
  *     rows that cannot beat the current k-th best are dropped without even
  *     being copied. State is row-counted across keys; past
  *     `spark.graft.topk.maxBufferedRows` (default 1M rows per task — the
  *     adversarial case is near-unique keys, where map-side combining cannot
  *     win anyway) it stops fencing and streams the remaining input straight
  *     to the shuffle, so map memory is bounded by the conf, never by key
  *     cardinality.
  *  2. SHUFFLE: survivors go through a sort-based shuffle ordered by
  *     (key bytes, order tuple) — `repartitionAndSortWithinPartitions`, whose
  *     ExternalSorter spills to disk under memory pressure. Placement is
  *     computed with Catalyst's own `HashPartitioning.partitionIdExpression`
  *     (murmur3), NOT `Object.hashCode`, so the declared
  *     [[outputPartitioning]] below is physically true and downstream
  *     same-key aggregations/joins legally skip their exchange.
  *  3. REDUCE SIDE: rows arrive clustered by key and sorted by the order
  *     tuple, so emitting the top k per key is a streaming walk with O(1)
  *     state (current key + emitted count) — no per-key hash map, nothing
  *     buffered, nothing to OOM. An every-row-its-own-key input degrades to
  *     a plain sort-shuffle of the data (exactly what the stock plan does),
  *     instead of building an unbounded heap HashMap.
  *
  * The strategy only fires when the row_number alias is literally
  * `rn_native` — an explicit opt-in marker, so the library never hijacks a
  * user's ordinary window query (and the declared e1 window query keeps its
  * canonical Window plan for comparison). Registered session-wide by
  * [[graft.GraftExtensions]]; a one-off session can opt in with
  * `spark.experimental.extraStrategies`.
  *
  * Semantics note: output equals the window formulation whenever the window
  * ORDER BY is a total order (the same precondition e1/e1b already document;
  * under ties row_number itself is nondeterministic).
  */
object GraftTopKStrategy extends SparkStrategy {

  /** Conf: max rows of map-side bounded-selection state per task before the
    * operator stops fencing and passes rows through to the (spillable)
    * sort-based shuffle. */
  val MaxBufferedRowsKey = "spark.graft.topk.maxBufferedRows"

  /** cond forms that mean "row_number ≤ k". */
  private[plans] object RnAtMost {
    def unapply(e: Expression): Option[(Attribute, Int)] = e match {
      case LessThanOrEqual(a: Attribute, IntegerLiteral(k))    => Some((a, k))
      case LessThan(a: Attribute, IntegerLiteral(k))           => Some((a, k - 1))
      case GreaterThanOrEqual(IntegerLiteral(k), a: Attribute) => Some((a, k))
      case GreaterThan(IntegerLiteral(k), a: Attribute)        => Some((a, k - 1))
      case EqualTo(a: Attribute, IntegerLiteral(1))            => Some((a, 1))
      case _                                                   => None
    }
  }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case LogicalFilter(RnAtMost(attr, k),
        w @ LogicalWindow(
          Seq(alias @ Alias(
            WindowExpression(RowNumber(), WindowSpecDefinition(part, order, _)), "rn_native")),
          _, _, _, _))
        if k >= 1 && attr.exprId == alias.exprId =>
      // InferWindowGroupLimit may already have slipped its pre-trim between
      // the Window and the real input; our operator subsumes it.
      val input = w.child match {
        case wgl: WindowGroupLimit => wgl.child
        case c                     => c
      }
      GraftTopKPerKeyExec(k, part, order, alias.toAttribute,
        graft.Tables.partitionCount(SQLConf.get),
        SQLConf.get.getConfString(MaxBufferedRowsKey, "1000000").toLong,
        planLater(input)) :: Nil
    case _ => Nil
  }
}

/** The third extension surface (alongside injected functions and planner
  * strategies): an optimizer `Rule[LogicalPlan]` that auto-rewrites the
  * canonical grouped top-k pattern — `Filter(rn ≤ k)` directly over a
  * single-expression `Window(row_number() AS rn)` with ANY alias — into the
  * opt-in shape [[GraftTopKStrategy]] plans natively, by renaming the window
  * alias to `rn_native` (exprId preserved, so every downstream reference and
  * the final output schema are untouched).
  *
  * Conf-gated, default OFF (`spark.graft.topk.autoRewrite=true` to enable):
  * under ties in the window ORDER BY, row_number is nondeterministic and the
  * bounded-selection operator may legitimately pick a different (equally
  * valid) top-k than the sort-based Window plan, so silently hijacking every
  * user window query is not acceptable library behavior — the user asserts
  * total order by flipping the flag. Registered session-wide by
  * [[graft.GraftExtensions]] via `injectOptimizerRule`; that lands it in the
  * operator-optimization batch, which runs BEFORE InferWindowGroupLimit, so
  * the renamed plan is exactly what the strategy expects (it strips any
  * later-inserted WindowGroupLimit anyway).
  */
object GraftTopKMarkRule extends Rule[LogicalPlan] {

  val Flag = "spark.graft.topk.autoRewrite"

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString(Flag, "false").toBoolean) plan
    else plan.transformUp {
      case f @ LogicalFilter(cond,
          w @ LogicalWindow(Seq(alias @ Alias(
            we @ WindowExpression(RowNumber(), WindowSpecDefinition(_, _, _)), name)),
            _, _, _, _)) if name != "rn_native" =>
        cond match {
          case GraftTopKStrategy.RnAtMost(attr, k)
              if k >= 1 && attr.exprId == alias.exprId =>
            f.copy(child = w.copy(windowExpressions = Seq(
              Alias(we, "rn_native")(alias.exprId, alias.qualifier,
                alias.explicitMetadata))))
          case _ => f
        }
    }
}

/** Routes a shuffle record to the partition id precomputed on the map side
  * (with Catalyst's murmur3 `partitionIdExpression`, so placement matches
  * what a declared `HashPartitioning` promises). Shared by the graft native
  * operators. */
final class GraftPidPartitioner(n: Int) extends Partitioner {
  override def numPartitions: Int = n
  override def getPartition(key: Any): Int = key match {
    case k: GraftTopKPerKeyExec.TopKShufKey    => k.pid
    case k: GraftAsOfJoinExec.AsOfKey          => k.pid
    case other => throw new IllegalArgumentException(s"unexpected shuffle key $other")
  }
}

object GraftTopKPerKeyExec {

  /** Shuffle key: routed by precomputed murmur3 pid, ordered by (key bytes,
    * typed order tuple). Key-byte equality ⇔ key equality because all keys go
    * through one UnsafeProjection to an identical canonical layout. */
  final class TopKShufKey(val pid: Int, val key: UnsafeRow, val ord: UnsafeRow)
      extends Serializable {
    override def hashCode(): Int = pid
    override def equals(o: Any): Boolean = o match {
      case other: TopKShufKey => key.equals(other.key) && ord.equals(other.ord)
      case _                  => false
    }
  }

  /** Clusters equal keys contiguously (arbitrary but total byte order), then
    * the typed — possibly descending / nulls-first — order tuple within a
    * key. Serializable; the generated comparator materializes lazily per JVM. */
  final class TopKShuffleOrdering(ordTypes: Seq[SortOrder])
      extends Ordering[TopKShufKey] with Serializable {
    private val typed = new LazilyGeneratedOrdering(ordTypes)
    override def compare(a: TopKShufKey, b: TopKShufKey): Int = {
      val c = GraftAsOfJoinExec.compareKeyBytes(a.key, b.key)
      if (c != 0) c else typed.compare(a.ord, b.ord)
    }
  }

  /** Per-key bounded selection state: survivors plus the k-th-best fence
    * (valid once the buffer has been trimmed at least once). */
  private final class Entry {
    val buf = mutable.ArrayBuffer.empty[UnsafeRow]
    var fence: UnsafeRow = null
  }

  /** Map-side combining pass over (key, row) pairs: per key, keep an
    * ArrayBuffer trimmed back to the best k whenever it reaches 2k
    * (amortized O(log k) per kept row), and skip rows that cannot beat the
    * current k-th best without copying them at all. Same discipline as
    * [[graft.functions.TopKAgg]] but over raw InternalRows, so it works for
    * any row shape / ordering, not one hardcoded (Double, Long) pair.
    *
    * Total buffered rows across keys are counted; the pass STOPS FENCING —
    * accumulated survivors flush to the shuffle and the rest of the input
    * streams through uncombined (the shuffle sorter spills it to disk as
    * needed) — on either trigger:
    *  1. `maxBufferedRows` reached (hard memory bound), or
    *  2. adaptively, once ≥128k rows are seen, ≥90% of them are still
    *     buffered, AND the mean rows-per-key is under 4 — combining is
    *     demonstrably not reducing the data (the near-unique-key regime),
    *     so building more per-key state is pure allocation churn. Same
    *     reasoning as Spark's own map-side combine bail-out. The
    *     rows-per-key guard keeps the trigger from misfiring while many
    *     moderate-cardinality buffers are still warming up (e.g. 10k keys ×
    *     k=10 holds ~100k rows at seen=128k — ratio ≥0.9 — yet combining
    *     will cut shuffle volume ~10× once the pass runs long enough).
    *     Measured at 10M all-unique rows this cuts the map pass from ~2×
    *     the stock Window plan's cost to near shuffle-bound.
    * Combining is a bandwidth optimization, never a correctness
    * requirement, so both fallbacks only trade shuffle volume for bounded
    * memory — the adversarial case (near-unique keys) is exactly the one
    * where combining couldn't have removed anything anyway.
    *
    * Input pairs may reuse projection buffers; emitted pairs are always
    * defensive copies (the shuffle writer buffers live objects).
    */
  private[plans] def mapSideSelect(
      iter: Iterator[(UnsafeRow, UnsafeRow)],
      ord: Ordering[InternalRow],
      k: Int,
      maxBufferedRows: Long,
      shuffledRows: SQLMetric = null): Iterator[(UnsafeRow, UnsafeRow)] = {
    val state = mutable.HashMap.empty[UnsafeRow, Entry]
    val rowOrd = ord.asInstanceOf[Ordering[UnsafeRow]]
    var buffered = 0L
    var seen = 0L
    var passThrough: Iterator[(UnsafeRow, UnsafeRow)] = Iterator.empty
    var combining = true
    while (combining && iter.hasNext) {
      val (key, row) = iter.next()
      seen += 1
      // copy the (projection-reused) key only on first sight, not per lookup
      val e = state.get(key) match {
        case Some(x) => x
        case None    => val x = new Entry; state.put(key.copy(), x); x
      }
      if (e.fence == null || ord.compare(row, e.fence) < 0) {
        e.buf += row.copy()
        buffered += 1
        if (e.buf.length >= 2 * k) {
          val kept = e.buf.sorted(rowOrd).take(k)
          buffered -= (e.buf.length - kept.length)
          e.buf.clear(); e.buf ++= kept
          e.fence = kept.last
        }
      }
      if (buffered >= maxBufferedRows ||
          (seen >= (1L << 17) && buffered * 10 >= seen * 9 &&
            state.size.toLong * 4 >= seen)) {
        combining = false
        passThrough = iter.map { case (pk, pr) => (pk.copy(), pr.copy()) }
      }
    }
    val flushed = state.iterator.flatMap { case (key, e) =>
      val rows = if (e.buf.length > k) e.buf.sorted(rowOrd).take(k) else e.buf
      rows.iterator.map(r => (key, r))
    }
    val out = flushed ++ passThrough
    if (shuffledRows == null) out
    else out.map { p => shuffledRows += 1; p }
  }
}

/** Physical grouped top-k: map-side bounded selection (row-count capped) →
  * murmur3-placed sort-based shuffle of survivors → reduce-side O(1)-state
  * streaming walk emitting each key's first k rows with their 1-based rank
  * appended (the `rn_native` column the logical plan promised).
  *
  * Known interaction: a downstream GLOBAL sort's range exchange samples its
  * child RDD, which executes this operator (and its input) twice — the same
  * pre-AQE behavior any non-Exchange RDD boundary has; AQE cannot
  * materialize a stage inside an opaque RDD shuffle. Cache between the two
  * if the input scan is expensive; the SQLMetrics double-count faithfully
  * when it happens.
  */
final case class GraftTopKPerKeyExec(
    k: Int,
    partitionExprs: Seq[Expression],
    orderSpec: Seq[SortOrder],
    rnAttr: Attribute,
    numPartitions: Int,
    maxBufferedRows: Long,
    child: SparkPlan)
  extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ rnAttr

  /** Physically true (see pid computation in doExecute): downstream
    * aggregations/joins clustered on the same keys skip their exchange. */
  override def outputPartitioning: Partitioning =
    HashPartitioning(partitionExprs, numPartitions)

  // shuffledRows / numOutputRows quantify what bounded selection saved: at
  // a healthy k×keys ≪ input, shuffledRows ≈ numOutputRows and both are
  // tiny next to the input; shuffledRows ≫ numOutputRows means the map
  // threshold tripped and the operator ran in pass-through (sort-shuffle)
  // mode.
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "shuffledRows" -> SQLMetrics.createMetric(sparkContext, "map-side survivors shuffled"))

  override protected def withNewChildInternal(newChild: SparkPlan): GraftTopKPerKeyExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    import GraftTopKPerKeyExec._
    val childOutput = child.output
    val partExprs = partitionExprs
    val order = orderSpec
    val limit = k
    val resultSchema = output
    val maxBuffered = maxBufferedRows
    val nParts = numPartitions
    // order tuple re-bound by position against its own projected row
    val ordTypes = order.zipWithIndex.map { case (so, i) =>
      SortOrder(BoundReference(i, so.child.dataType, so.child.nullable),
        so.direction, so.nullOrdering, Seq.empty)
    }
    // murmur3 pid over the projected key row — value-identical to
    // HashPartitioning(partitionExprs, n) evaluated on the child row, which
    // is what makes the declared outputPartitioning honest.
    val keyRefs: Seq[Expression] = partExprs.zipWithIndex.map { case (e, i) =>
      BoundReference(i, e.dataType, e.nullable)
    }

    val numOutputRows = longMetric("numOutputRows")
    val shuffledRows = longMetric("shuffledRows")

    val keyed: RDD[(TopKShufKey, UnsafeRow)] = child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(partExprs, childOutput)
      val rowProj = UnsafeProjection.create(childOutput.map(a => a: Expression), childOutput)
      val ordProj = UnsafeProjection.create(order.map(_.child), childOutput)
      val pidProj = UnsafeProjection.create(
        Seq(HashPartitioning(keyRefs, nParts).partitionIdExpression))
      val rowOrd = RowOrdering.create(order, childOutput)
      mapSideSelect(iter.map { r => (keyProj(r), rowProj(r)) }, rowOrd, limit, maxBuffered,
          shuffledRows)
        .map { case (key, row) =>
          (new TopKShufKey(pidProj(key).getInt(0), key, ordProj(row).copy()), row)
        }
    }

    implicit val shufOrd: Ordering[TopKShufKey] = new TopKShuffleOrdering(ordTypes)
    keyed
      .repartitionAndSortWithinPartitions(new GraftPidPartitioner(nParts))
      .mapPartitions { iter =>
        val joined = new JoinedRow
        val resultProj =
          UnsafeProjection.create(resultSchema.map(a => a: Expression), resultSchema)
        // O(1) merge state: the current key and how many of its rows we kept
        var curKey: UnsafeRow = null
        var emitted = 0
        iter.flatMap { case (sk, row) =>
          if (curKey == null || !curKey.equals(sk.key)) { curKey = sk.key; emitted = 0 }
          if (emitted < limit) {
            emitted += 1
            numOutputRows += 1
            Iterator.single(resultProj(joined(row, InternalRow(emitted))))
          } else Iterator.empty
        }
      }
  }
}
