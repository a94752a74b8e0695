package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables

/** Connected components over an edge DataFrame — the step a real dedup
  * pipeline needs AFTER pair detection: near-dup pairs form a graph, and
  * each document must resolve to one canonical group id (the component's
  * minimum doc id) before survivor selection.
  *
  * Algorithm: min-label propagation WITH pointer doubling. Every node starts
  * labeled with itself; each round every node takes the min of its own label
  * and its neighbors' labels (one shuffle: join on the edge endpoint + a
  * min-aggregate), then SHORTCUTS through the label table itself —
  * `comp ← comp(comp)` — which squares the propagation distance per round.
  * Plain hash-min needs O(diameter) rounds (a 100-node path graph = 99
  * rounds); with the shortcut a path collapses in O(log diameter) rounds, so
  * the default `maxIter = 50` covers any graph a 100 TB corpus could
  * produce (2^49 nodes) with orders of magnitude to spare. Labels
  * monotonically decrease, so convergence is detected exactly by the
  * (sum, count) signature going stationary — no row-by-row diff join.
  *
  * Scale hygiene: the label table is `localCheckpoint`ed every round —
  * each round references the previous label table THREE times (union,
  * neighbor join, shortcut self-join), so without truncation the logical
  * plan grows exponentially with rounds; the checkpoint keeps it
  * constant-size, and the round is materialized by the convergence check
  * anyway, so the eager checkpoint adds no extra pass. All per-round work is
  * DataFrame-native (inherits AQE, codegen, spill handling). If the
  * iteration cap is ever hit the current labels are returned with a warning:
  * they are still self-consistent upper approximations (components may be
  * split, never merged), the right degraded mode for a dedup library —
  * duplicates can be missed, distinct documents are never conflated.
  */
object ConnectedComponents {

  /** @param edges two integral columns `u`, `v` (one row per undirected edge)
    * @param eagerCheckpoint true restores the old two-actions-per-round
    *        shape (eager checkpoint job + separate signature job) — kept as
    *        an A/B knob; the default lazy checkpoint folds both into the
    *        signature's single action (ConnectedComponentsSpec measures the
    *        job-count drop)
    * @return one row per node appearing in `edges`: (id, comp) where comp is
    *         the smallest node id in the component — deterministic.
    */
  def labels(edges: DataFrame, maxIter: Int = 50,
      eagerCheckpoint: Boolean = false): DataFrame = {
    // AQE OFF for the loop's actions, on a clone of the caller's session
    // (Tables.withConf — the caller's conf is untouched, and the returned
    // labels plan under it again): with AQE on, every shuffle stage of
    // every round materializes as its own Spark job — measured (r22): 23
    // jobs vs 8 for one labels() call on a metadata-scale graph, ~0.4 s of
    // pure per-job overhead. The loop does not benefit from AQE's two
    // levers here: its join sides are label tables whose partitioning the
    // loop pins itself, and skew inside a round is bounded by the doubling
    // shortcut.
    Tables.withConf(edges.sparkSession, "spark.sql.adaptive.enabled" -> "false") { c =>
      labelsLoop(Tables.rehome(c, edges), maxIter, eagerCheckpoint)
    }
  }

  private def labelsLoop(edges: DataFrame, maxIter: Int,
      eagerCheckpoint: Boolean): DataFrame = {
    val sym = edges.select(col("u"), col("v"))
      .union(edges.select(col("v").as("u"), col("u").as("v")))
      .distinct()
      .cache()
    var current = sym.select(col("u").as("id")).distinct()
      .withColumn("comp", col("id"))
      .cache()
    def signature(df: DataFrame): (Long, Long) = {
      val r = df.agg(sum(col("comp")), count(lit(1))).head()
      (r.getLong(0), r.getLong(1))
    }
    // No initial-signature job (r22): round 1 always lowers some label when
    // any edge exists (the larger endpoint of an edge takes a smaller
    // label), so comparing round 1 against the identity labeling can never
    // detect convergence — the sentinel below can never equal a real
    // signature (count ≥ 0 > -1), so the loop behaves identically, one
    // action cheaper per call. (Degenerate empty-edge input hits the same
    // null-sum path in `signature` it did before — unchanged.)
    var sig = (-1L, -1L)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val neighborLabels = sym
        .join(current.withColumnRenamed("id", "nbr"), col("v") === col("nbr"))
        .select(col("u").as("id"), col("comp"))
      val propagated = current.union(neighborLabels)
        .groupBy(col("id")).agg(min(col("comp")).as("comp"))
        .cache()
      // pointer doubling: comp ← comp(comp). comp values are node ids within
      // the same component, so the lookup stays inside the component; labels
      // only decrease (comp(x) ≤ x), so coalesce keeps monotonicity when the
      // label row is already final (comp(comp) = comp hits the same row).
      val shortcut = propagated
        .join(propagated.select(col("id").as("cid"), col("comp").as("ccomp")),
          col("comp") === col("cid"), "left")
        .select(col("id"), coalesce(col("ccomp"), col("comp")).as("comp"))
      // lazy checkpoint + the signature aggregate = ONE action per round:
      // the signature's head() is the action that materializes the
      // checkpoint, so lineage truncation and the convergence check share a
      // single pass (the eager variant schedules an extra job + an extra
      // pass over the cached labels every round — at deep diameters that
      // is pure scheduling overhead)
      val next = shortcut.localCheckpoint(eager = eagerCheckpoint)
      val nextSig = signature(next)
      propagated.unpersist()
      current.unpersist()
      current = next
      converged = nextSig == sig
      sig = nextSig
      iter += 1
    }
    if (!converged) {
      // degraded mode documented above; with doubling this needs a graph
      // deeper than 2^(maxIter) to trigger
      System.err.println(
        s"WARN ConnectedComponents: not converged after $maxIter rounds; " +
          "returning current (split-only) labels")
    }
    sym.unpersist()
    current
  }
}
