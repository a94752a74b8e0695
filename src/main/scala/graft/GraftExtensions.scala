package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Library entry point for Spark's extension mechanism: a user who sets
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * (or `SparkSession.builder().withExtensions(new GraftExtensions)`) gets
  * every graft-native function registered in the session catalog at build
  * time — no per-query `register(...)` calls. This is the supported way to
  * ship Catalyst extensions as a library: the injection happens before any
  * analysis, so the functions resolve in plain SQL, views, and thrift-server
  * sessions alike.
  *
  * Injected functions (21) — the only registration path; library code that
  * must also run without the extension builds its Columns from the
  * expression classes instead (e.g. [[graft.functions.BloomSketch]]):
  *  - `cosine_sim(array<double>, array<double>)` — codegen'd cosine
  *    similarity ([[graft.functions.CosineSim]])
  *  - `hll_approx(col)` — HyperLogLog distinct-count sketch aggregate
  *    ([[graft.functions.HllSketchAgg]])
  *  - `hll_sketch`, `hll_union`, `hll_estimate`, `hll_union_pair` —
  *    mergeable HLL sketch columns
  *  - `hist_sketch`, `hist_union`, `hist_quantile` — mergeable histograms
  *  - `freq_sketch`, `freq_union`, `freq_items` — Misra-Gries heavy hitters
  *  - `bloom_sketch`, `bloom_union`, `bloom_contains` — Bloom filters
  *  - `bitmap_sketch`, `bitmap_union`, `bitmap_count`, `bitmap_and_pair`,
  *    `bitmap_contains` — exact bitmap sets
  *  - `lev_bounded(a, b, k)` — banded edit distance
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def requireArity(fn: String, exprs: Seq[Expression], n: Int): Unit =
    if (exprs.length != n)
      throw new IllegalArgumentException(
        s"$fn expects $n argument${if (n == 1) "" else "s"}, got ${exprs.length}")

  override def apply(ext: SparkSessionExtensions): Unit = {
    // Whole-operator extension: heap-based grouped top-k replacing the
    // sort-based Window plan for the opt-in `rn_native` pattern (see
    // graft.plans.GraftTopKStrategy — fires only on that alias name).
    ext.injectPlannerStrategy(_ => graft.plans.GraftTopKStrategy)
    // Optimizer rule (conf-gated, default off): auto-rewrites the canonical
    // Filter(row_number ≤ k)-over-Window pattern into the rn_native shape the
    // strategy above plans — see graft.plans.GraftTopKMarkRule.
    ext.injectOptimizerRule(_ => graft.plans.GraftTopKMarkRule)
    // Plans the AsOfJoin logical node built by graft.plans.GraftOps.asofJoin
    // (sorted-merge as-of join with O(1) merge state).
    ext.injectPlannerStrategy(_ => graft.plans.GraftAsOfStrategy)
    // Optimizer rule (conf-gated, default off): rewrites
    // `levenshtein(a, b) <= k` comparisons to the banded O(k·n) kernel —
    // see graft.plans.GraftLevBoundedRule.
    ext.injectOptimizerRule(_ => graft.plans.GraftLevBoundedRule)
    // Optimizer rule (conf-gated, default off): exact-match materialized-
    // view rewrite — an aggregate that re-states a registered view
    // definition reads the precomputed MV instead of the facts. See
    // graft.plans.{MvRegistry, GraftMvRewriteRule}.
    ext.injectOptimizerRule(_ => graft.plans.GraftMvRewriteRule)
    // SQL DML statement surface: MERGE INTO / UPDATE / DELETE / VERSION AS
    // OF over registered SnapshotTable roots — statements whose target is
    // not registered delegate to Spark's parser untouched. See
    // graft.plans.{GraftDmlRegistry, GraftSqlParser}.
    ext.injectParser((session, delegate) =>
      new graft.plans.GraftSqlParser(session, delegate))
    // Post-hoc resolution rule (conf-gated, default off): swaps the built-in
    // streaming session_window count aggregate for the timer sessionizer —
    // analysis-time because streaming state placement happens at query
    // start. See graft.plans.GraftSessionRewriteRule.
    ext.injectPostHocResolutionRule(session =>
      new graft.plans.GraftSessionRewriteRule(session))
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[graft.functions.CosineSim].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => {
        requireArity("cosine_sim(array<double>, array<double>)", exprs, 2)
        graft.functions.CosineSim(exprs.head, exprs(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("hll_approx"),
      new ExpressionInfo(classOf[graft.functions.HllSketchAgg].getName, "hll_approx"),
      (exprs: Seq[Expression]) => {
        requireArity("hll_approx(col)", exprs, 1)
        graft.functions.HllSketchAgg(exprs.head)
      }))
    // mergeable sketch columns: sketch → binary, union(binary) → binary,
    // estimate(binary) → long — the persistable re-aggregation trio
    ext.injectFunction((
      FunctionIdentifier("hll_sketch"),
      new ExpressionInfo(classOf[graft.functions.HllSketchBinAgg].getName, "hll_sketch"),
      (exprs: Seq[Expression]) => {
        requireArity("hll_sketch(col)", exprs, 1)
        graft.functions.HllSketchBinAgg(exprs.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("hll_union"),
      new ExpressionInfo(classOf[graft.functions.HllUnionAgg].getName, "hll_union"),
      (exprs: Seq[Expression]) => {
        requireArity("hll_union(sketch)", exprs, 1)
        graft.functions.HllUnionAgg(exprs.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("hll_estimate"),
      new ExpressionInfo(classOf[graft.functions.HllEstimate].getName, "hll_estimate"),
      (exprs: Seq[Expression]) => {
        requireArity("hll_estimate(sketch)", exprs, 1)
        graft.functions.HllEstimate(exprs.head)
      }))
    // deterministic mergeable histogram: sketch(x, lo, hi, bins) → binary,
    // union(binary) → binary, quantile(binary, q) → bin upper edge
    ext.injectFunction((
      FunctionIdentifier("hist_sketch"),
      new ExpressionInfo(classOf[graft.functions.HistSketchAgg].getName, "hist_sketch"),
      (exprs: Seq[Expression]) => {
        requireArity("hist_sketch(col, lo, hi, bins)", exprs, 4)
        graft.functions.HistSketchAgg(exprs.head, exprs(1), exprs(2), exprs(3))
      }))
    ext.injectFunction((
      FunctionIdentifier("hist_union"),
      new ExpressionInfo(classOf[graft.functions.HistUnionAgg].getName, "hist_union"),
      (exprs: Seq[Expression]) => {
        requireArity("hist_union(sketch)", exprs, 1)
        graft.functions.HistUnionAgg(exprs.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("hist_quantile"),
      new ExpressionInfo(classOf[graft.functions.HistQuantile].getName, "hist_quantile"),
      (exprs: Seq[Expression]) => {
        requireArity("hist_quantile(sketch, q)", exprs, 2)
        graft.functions.HistQuantile(exprs.head, exprs(1))
      }))
    // mergeable Misra-Gries heavy hitters: sketch(term, k) → binary,
    // union(binary) → binary, items(binary) → map<term, est_count>
    ext.injectFunction((
      FunctionIdentifier("freq_sketch"),
      new ExpressionInfo(classOf[graft.functions.FreqSketchAgg].getName, "freq_sketch"),
      (exprs: Seq[Expression]) => {
        requireArity("freq_sketch(term, k)", exprs, 2)
        graft.functions.FreqSketchAgg(exprs.head, exprs(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("freq_union"),
      new ExpressionInfo(classOf[graft.functions.FreqUnionAgg].getName, "freq_union"),
      (exprs: Seq[Expression]) => {
        requireArity("freq_union(sketch)", exprs, 1)
        graft.functions.FreqUnionAgg(exprs.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("freq_items"),
      new ExpressionInfo(classOf[graft.functions.FreqItems].getName, "freq_items"),
      (exprs: Seq[Expression]) => {
        requireArity("freq_items(sketch)", exprs, 1)
        graft.functions.FreqItems(exprs.head)
      }))
    // mergeable bloom membership filter: sketch(x, m_bits, k_hashes) →
    // binary, union(binary) → binary, contains(binary, x) → boolean
    ext.injectFunction((
      FunctionIdentifier("bloom_sketch"),
      new ExpressionInfo(classOf[graft.functions.BloomSketchAgg].getName, "bloom_sketch"),
      (exprs: Seq[Expression]) => {
        requireArity("bloom_sketch(col, m_bits, k_hashes)", exprs, 3)
        graft.functions.BloomSketchAgg(exprs.head, exprs(1), exprs(2))
      }))
    ext.injectFunction((
      FunctionIdentifier("bloom_union"),
      new ExpressionInfo(classOf[graft.functions.BloomUnionAgg].getName, "bloom_union"),
      (exprs: Seq[Expression]) => {
        requireArity("bloom_union(sketch)", exprs, 1)
        graft.functions.BloomUnionAgg(exprs.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("bloom_contains"),
      new ExpressionInfo(classOf[graft.functions.BloomContains].getName, "bloom_contains"),
      (exprs: Seq[Expression]) => {
        requireArity("bloom_contains(sketch, col)", exprs, 2)
        graft.functions.BloomContains(exprs.head, exprs(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("hll_union_pair"),
      new ExpressionInfo(classOf[graft.functions.HllUnionPair].getName, "hll_union_pair"),
      (exprs: Seq[Expression]) => {
        requireArity("hll_union_pair(a, b)", exprs, 2)
        graft.functions.HllUnionPair(exprs.head, exprs(1))
      }))
    // exact mergeable bitmap distinct sketch: sketch(id) → binary,
    // union(binary) → binary, count → long, and(a,b) → binary (true set
    // intersection), contains(bm, v) → boolean (codegen'd: the
    // deletion-vector read-path probe, m16)
    ext.injectFunction((
      FunctionIdentifier("bitmap_sketch"),
      new ExpressionInfo(classOf[graft.functions.BitmapSketchAgg].getName, "bitmap_sketch"),
      (exprs: Seq[Expression]) => {
        requireArity("bitmap_sketch(col)", exprs, 1)
        graft.functions.BitmapSketchAgg(exprs.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("bitmap_union"),
      new ExpressionInfo(classOf[graft.functions.BitmapUnionAgg].getName, "bitmap_union"),
      (exprs: Seq[Expression]) => {
        requireArity("bitmap_union(bm)", exprs, 1)
        graft.functions.BitmapUnionAgg(exprs.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("bitmap_count"),
      new ExpressionInfo(classOf[graft.functions.BitmapCount].getName, "bitmap_count"),
      (exprs: Seq[Expression]) => {
        requireArity("bitmap_count(bm)", exprs, 1)
        graft.functions.BitmapCount(exprs.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("bitmap_and_pair"),
      new ExpressionInfo(classOf[graft.functions.BitmapAndPair].getName, "bitmap_and_pair"),
      (exprs: Seq[Expression]) => {
        requireArity("bitmap_and_pair(a, b)", exprs, 2)
        graft.functions.BitmapAndPair(exprs.head, exprs(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("bitmap_contains"),
      new ExpressionInfo(classOf[graft.functions.BitmapContains].getName, "bitmap_contains"),
      (exprs: Seq[Expression]) => {
        requireArity("bitmap_contains(bm, v)", exprs, 2)
        graft.functions.BitmapContains(exprs.head, exprs(1))
      }))
    // banded edit distance: exact when <= k, k+1 otherwise (fuzzy-dedup kernel)
    ext.injectFunction((
      FunctionIdentifier("lev_bounded"),
      new ExpressionInfo(classOf[graft.functions.LevBounded].getName, "lev_bounded"),
      (exprs: Seq[Expression]) => {
        requireArity("lev_bounded(a, b, k)", exprs, 3)
        graft.functions.LevBounded(exprs.head, exprs(1), exprs(2))
      }))
  }
}
