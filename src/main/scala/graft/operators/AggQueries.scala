package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** SURVEY §2 D (aggregations D1–D8).
  *
  * Scale notes (100 TB): every groupBy here is a HashAggregate with automatic
  * map-side partial aggregation, so the shuffle carries one row per
  * (partition × group), not per input row. Double sums/avgs go through
  * DECIMAL(27,6) (Tables.dsum/davg) so the result is independent of partial-
  * merge order — the property that actually matters at 1000 executors.
  * COUNT(DISTINCT) expands to a two-phase plan; the HLL variant (D3) is the
  * sketch to reach for first at 100 TB.
  */
object AggQueries extends QueryModule {

  /** Shared-dialect GROUPING SETS statement (runs verbatim in Spark SQL and
    * DuckDB). Year is CAST to BIGINT on both sides — Spark's year() is INT,
    * DuckDB's BIGINT, and the driver's compare is dtype-strict. */
  private[operators] val groupingSetsSql: String =
    "SELECT COALESCE(o_orderpriority, '(all)') AS priority, " +
      "CAST(COALESCE(year(o_orderdate), 0) AS BIGINT) AS yr, " +
      // no round(): the decimal sum is exact and its double cast deterministic;
      // round() on a >2^31 double is what diverges between engines (§7.4 rule 7)
      s"count(*) AS n, ${Tables.dsumSql("o_totalprice")} AS total " +
      "FROM orders GROUP BY GROUPING SETS " +
      "((o_orderpriority, year(o_orderdate)), (o_orderpriority), (year(o_orderdate)), ()) " +
      "ORDER BY priority, yr"

  val queries: Seq[(String, QFn)] = Seq(
    // D1: TPC-H Q1 shape — wide multi-aggregate over lineitem.
    "d1_agg_hash" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.lineitem.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          Tables.dsum(col("l_quantity")).as("sum_qty"),
          Tables.dsum(col("l_extendedprice")).as("sum_base_price"),
          Tables.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          Tables.davg(col("l_quantity")).as("avg_qty"),
          Tables.davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // D2: exact COUNT(DISTINCT) per group.
    "d2_agg_distinct" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.orders.groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("n_cust"), count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    }),

    // D3: HLL approximate distinct — the 100 TB path for D2. Approximate →
    // no hash oracle; unit test asserts 1%-rsd tolerance vs exact instead.
    "d3_agg_approx_distinct" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.events.groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_users"))
        .orderBy("event_type")
    }),

    // H3: the same sketch as D3 but through our own TypedImperativeAggregate
    // HLL (internal-API extension tier) — 16 KiB register blob per group
    // crosses the shuffle, register-max merge. Approximate → rows-only;
    // PropertySpec asserts error vs exact within tolerance.
    "h3_udaf_hll" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.events.groupBy(col("event_type"))
        .agg(expr("hll_approx(user_id)").as("approx_users"))
        .orderBy("event_type")
    }),

    // H5: MERGEABLE SKETCH COLUMNS — the 100 TB pre-aggregation pattern the
    // direct hll_approx can't express: per-(event_type, day) jobs persist
    // 16 KiB binary sketches of user_id; the rollup unions sketches per
    // event_type and estimates — distinct users over any partition union
    // without re-touching raw data. Estimates are IDENTICAL to running
    // hll_approx over the raw rows (register-max is associative), which
    // SketchSpec asserts; approximate → rows-only.
    "h5_sketch_reagg" -> ((s, dir) => {
      val t = Tables(s, dir)
      val daily = t.events
        .withColumn("day", to_date(col("ts")))
        .groupBy(col("event_type"), col("day"))
        .agg(expr("hll_sketch(user_id)").as("sk"))
      daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_daily_sketches"),
          expr("hll_estimate(hll_union(sk))").as("approx_users"))
        .orderBy("event_type")
    }),

    // H6: SET ALGEBRA on sketches — |clickers ∩ purchasers| per day by
    // inclusion-exclusion over three HLL estimates (est(A)+est(B)−est(A∪B);
    // union is exact on HLL registers, intersection is derived). One pass
    // builds both per-day sketches (conditional aggregation), the A∪B blob
    // is a register-wise union of the two — no second scan, no join. The
    // derived intersection inherits BOTH estimates' error, so like every
    // hll query it is rows-only; SketchSpec bounds it against the exact
    // intersection (≤5% relative on the fixture).
    "h6_sketch_intersect" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.events
        .withColumn("day", to_date(col("ts")))
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(col("day"))
        .agg(
          expr("hll_sketch(CASE WHEN event_type = 'click' THEN user_id END)").as("ska"),
          expr("hll_sketch(CASE WHEN event_type = 'purchase' THEN user_id END)").as("skb"))
        .select(col("day"),
          expr("CAST(hll_estimate(ska) AS BIGINT)").as("approx_clickers"),
          expr("CAST(hll_estimate(skb) AS BIGINT)").as("approx_purchasers"),
          expr("CAST(greatest(0L, hll_estimate(ska) + hll_estimate(skb) - " +
            "hll_estimate(hll_union_pair(ska, skb))) AS BIGINT)").as("approx_both"))
        .orderBy("day")
    }),

    // H7: EXACT mergeable distinct sketch — the deterministic sibling of
    // h5's HLL rollup: daily per-type BITMAP blobs (functions/BitmapSketch:
    // one bit per id, bitwise-OR merge — associative/commutative, so
    // partial aggregation and AQE re-planning cannot change it) union to
    // month level WITHOUT re-touching raw data, and unlike HLL the count is
    // exact — so this sketch query carries a FULL value oracle
    // (count(DISTINCT) replays it). The 100 TB trade: exact bitmaps cost a
    // bit per id in a bounded dense id space (dimension keys); unbounded or
    // hashed spaces stay on HLL.
    "h7_sketch_bitmap_exact" -> ((s, dir) => {
      val t = Tables(s, dir)
      val daily = t.events
        .withColumn("day", to_date(col("ts")))
        .groupBy(col("event_type"), col("day"))
        .agg(expr("bitmap_sketch(user_id)").as("bm"))
      daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_daily_sketches"),
          expr("bitmap_count(bitmap_union(bm))").as("exact_users"))
        .orderBy("event_type")
    }),

    // H8: exact SET ALGEBRA on bitmap sketches — |clickers ∩ purchasers|
    // per day as a bitwise AND of the two blobs, the operation h6 can only
    // approximate by inclusion-exclusion (and which therefore had no
    // oracle; this one hash-matches the exact SQL intersection).
    "h8_sketch_bitmap_intersect" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.events
        .withColumn("day", to_date(col("ts")))
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(col("day"))
        .agg(
          expr("bitmap_sketch(CASE WHEN event_type = 'click' THEN user_id END)").as("c"),
          expr("bitmap_sketch(CASE WHEN event_type = 'purchase' THEN user_id END)").as("p"))
        .select(col("day"),
          expr("bitmap_count(c)").as("clickers"),
          expr("bitmap_count(p)").as("purchasers"),
          expr("bitmap_count(bitmap_and_pair(c, p))").as("both_exact"))
        .orderBy("day")
    }),

    // D14: mergeable FIXED-BIN HISTOGRAM quantiles — like h5's HLL trio but
    // DETERMINISTIC, so this custom TypedImperativeAggregate is fully
    // oracle-backed: DuckDB replays the floor-binning + cumulative counts in
    // plain SQL and the p50/p95 bin edges hash-match. Per-(event_type, day)
    // 820-byte blobs union per event_type — the persistable quantile-rollup
    // a 100 TB pipeline stores instead of raw values.
    "d14_hist_quantile" -> ((s, dir) => {
      val t = Tables(s, dir)
      val daily = t.events
        .withColumn("day", to_date(col("ts")))
        .groupBy(col("event_type"), col("day"))
        .agg(expr("hist_sketch(value, 0.0D, 500.0D, 100)").as("sk"))
      daily.groupBy(col("event_type"))
        .agg(expr("hist_union(sk)").as("usk"))
        .select(col("event_type"),
          expr("round(hist_quantile(usk, 0.5D), 6)").as("p50_edge"),
          expr("round(hist_quantile(usk, 0.95D), 6)").as("p95_edge"))
        .orderBy("event_type")
    }),

    // D4: ROLLUP subtotals. Grouping nulls are mapped to a sentinel on both
    // sides so null-ordering dialect differences can't bite.
    "d4_agg_rollup" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.lineitem.rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), Tables.dsum(col("l_quantity")).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("(all)")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("(all)")).as("linestatus"),
          col("n"), col("sum_qty"))
        .orderBy("returnflag", "linestatus")
    }),

    // D5: CUBE — all margin combinations.
    "d5_agg_cube" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.orders.cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), Tables.dsum(col("o_totalprice")).as("total"))
        .select(coalesce(col("o_orderstatus"), lit("(all)")).as("orderstatus"),
          coalesce(col("o_orderpriority"), lit("(all)")).as("orderpriority"),
          col("n"), col("total"))
        .orderBy("orderstatus", "orderpriority")
    }),

    // D6: per-group sorted value list (sorted for determinism). Serialized to
    // a string because the driver's comparator hashes scalar columns only.
    "d6_agg_collect" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.orders.groupBy(col("o_orderpriority"))
        .agg(concat_ws(",", sort_array(collect_set(col("o_orderstatus")))).as("statuses"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }),

    // D7: exact interpolated percentiles (median / p95).
    "d7_agg_percentile" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.orders.groupBy(col("o_orderpriority"))
        .agg(round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(o_totalprice, 0.95)"), 4).as("p95"))
        .orderBy("o_orderpriority")
    }),

    // D9: salted two-phase aggregation — the skew pattern at 100 TB: a hot
    // grouping key (5 event types over millions of rows) is sharded across
    // 16 salts so no single reducer owns a hot key; the final regroup merges
    // 16 partials per key. Decimal partials make the two-phase result
    // EXACTLY equal to the direct group-by, so the plain SQL is the oracle.
    "d9_agg_salted" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.events
        .withColumn("salt", pmod(xxhash64(col("event_id")), lit(16)))
        .groupBy(col("event_type"), col("salt"))
        .agg(sum(col("value").cast(Tables.dec)).as("psum"), count(lit(1)).as("pn"))
        .groupBy(col("event_type"))
        .agg(sum(col("psum")).cast("double").as("val_sum"), sum(col("pn")).as("n"))
        .orderBy("event_type")
    }),

    // D11: approximate percentile (Greenwald-Khanna sketch) — the 100 TB
    // path for D7: mergeable, bounded-memory, one pass. Approximate → no
    // hash oracle; PropertySpec asserts tolerance vs the exact quantile.
    "d11_agg_approx_percentile" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.orders.groupBy(col("o_orderpriority"))
        .agg(round(expr("percentile_approx(o_totalprice, 0.5, 1000)"), 4).as("p50_approx"),
          round(expr("percentile_approx(o_totalprice, 0.95, 1000)"), 4).as("p95_approx"))
        .orderBy("o_orderpriority")
    }),

    // D10: pivot — daily event counts spread to one column per event type
    // (explicit value list so the plan needs no extra distinct-scan pass).
    "d10_pivot" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.events
        .withColumn("day", date_trunc("day", col("ts")).cast("timestamp_ntz"))
        .groupBy(col("day"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .na.fill(0L)
        .orderBy("day")
    }),

    // D12: explicit GROUPING SETS — the general form behind rollup (D4) and
    // cube (D5): four hand-picked grouping combinations in ONE pass over
    // orders (Catalyst expands to a single Expand + hash aggregate, so the
    // fact table is scanned once, not four times). Shared-dialect SQL; keys
    // COALESCE to sentinels so NULL ordering can't diverge between engines.
    "d12_agg_grouping_sets" -> ((s, dir) => {
      Tables(s, dir).orders.createOrReplaceTempView("orders")
      s.sql(AggQueries.groupingSetsSql)
    }),

    // D8: statistical aggregates. Rounding absorbs the last-ulp differences
    // of the two engines' streaming variance implementations.
    "d8_agg_stats" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.lineitem.groupBy(col("l_returnflag"))
        .agg(round(stddev_samp(col("l_extendedprice")), 4).as("sd_price"),
          round(stddev_pop(col("l_extendedprice")), 4).as("sdp_price"),
          round(corr(col("l_extendedprice"), col("l_discount")), 6).as("corr_pd"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }),

    // D15: winsorized (outlier-robust) mean — values clamped to each group's
    // [p05, p95] before averaging, the robust-statistics cousin of D7. Two
    // passes: a per-group percentile aggregate broadcast back onto the fact
    // rows, then a decimal-exact clamped mean. Clamp and compare both run
    // on the UNROUNDED percentiles in both engines.
    "d15_winsorized_mean" -> ((s, dir) => {
      val t = Tables(s, dir)
      val bounds = t.orders.groupBy(col("o_orderpriority"))
        .agg(expr("percentile(o_totalprice, 0.05)").as("p05"),
          expr("percentile(o_totalprice, 0.95)").as("p95"))
      t.orders.join(broadcast(bounds), "o_orderpriority")
        .withColumn("cl", least(greatest(col("o_totalprice"), col("p05")), col("p95")))
        .groupBy(col("o_orderpriority"))
        .agg(round(max(col("p05")), 4).as("p05_r"),
          round(max(col("p95")), 4).as("p95_r"),
          round(sum(col("cl").cast(Tables.dec)).cast("double") / count(lit(1)), 6).as("wavg"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }),

    // D16: exact mode with a DETERMINISTIC tiebreak (highest count, then
    // smallest value) — unlike the built-in `mode()`, whose tie winner is
    // evaluation-order-dependent in both engines and therefore unusable in a
    // reproducible pipeline. Count-then-rank: one hash aggregation plus a
    // window over the tiny per-group distinct set; the fact table shuffles
    // once on (group, value) and the rank input is |groups|×|values| rows.
    "d16_agg_mode" -> ((s, dir) => {
      val t = Tables(s, dir)
      val counts = t.orders.groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("cnt").desc, col("o_orderpriority").asc)
      counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_orderstatus"), col("o_orderpriority").as("mode_priority"),
          col("cnt").as("n"))
        .orderBy("o_orderstatus")
    }),

    // D17: EXACT WEIGHTED MEDIAN — the revenue-weighted center of the
    // quantity distribution per return flag: the smallest v whose cumulative
    // weight reaches half the group's total ("half the money sits at or
    // below this quantity"). Entirely INTEGER: weights are exact price
    // cents, the half-total test is 2·cum ≥ tot (no division, no float
    // anywhere), so the answer replays bit-for-bit. Shape: pre-aggregate to
    // (flag, v) — ~50 distinct quantities per flag regardless of data
    // volume — then ONE tiny window over the aggregate; the facts are never
    // window-scanned. That crush-then-window split is what survives 100 TB;
    // a direct percentile_approx(weighted) would be approximate, and a
    // row-level cumsum window would sort the fact table.
    "d17_weighted_median" -> ((s, dir) => {
      val t = Tables(s, dir)
      val byV = t.lineitem
        .select(col("l_returnflag").as("flag"), col("l_quantity").cast("long").as("v"),
          floor(col("l_extendedprice") * 100).cast("long").as("w"))
        .groupBy(col("flag"), col("v")).agg(sum(col("w")).as("w"))
      val cumW = Window.partitionBy("flag").orderBy("v")
      val totW = Window.partitionBy("flag")
      byV.withColumn("cum", sum(col("w")).over(cumW))
        .withColumn("tot", sum(col("w")).over(totW))
        .filter(col("cum") * 2 >= col("tot"))
        .groupBy(col("flag")).agg(min(col("v")).as("weighted_median"))
        .orderBy("flag")
    }),

    // D18: FILTERED AGGREGATES — SQL's `agg FILTER (WHERE …)` as
    // conditional aggregation: several differently-predicated measures in
    // ONE scan and one shuffle instead of N self-joined subqueries (the
    // shape difference that matters at 100 TB). count skips the CASE's
    // nulls; the conditional sum zero-fills, which is identical for sum.
    "d18_agg_filtered" -> ((s, dir) => {
      val t = Tables(s, dir)
      val urgent = col("o_orderpriority") === "1-URGENT"
      t.orders.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_all"),
          count(when(urgent, 1)).as("n_urgent"),
          Tables.dsum(when(urgent, col("o_totalprice")).otherwise(lit(0d))).as("urgent_rev"),
          count(when(col("o_totalprice") > 100000, 1)).as("n_big"))
        .orderBy("o_orderstatus")
    })
  )

  val oracles: Seq[(String, String)] = Seq(
    "d1_agg_hash" ->
      (s"SELECT l_returnflag, l_linestatus, ${Tables.dsumSql("l_quantity")} AS sum_qty, " +
        s"${Tables.dsumSql("l_extendedprice")} AS sum_base_price, " +
        s"${Tables.dsumSql("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price, " +
        s"${Tables.davgSql("l_quantity")} AS avg_qty, " +
        s"${Tables.davgSql("l_discount")} AS avg_disc, " +
        "count(*) AS count_order FROM lineitem " +
        "WHERE l_shipdate <= TIMESTAMP '1998-09-02' " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),

    // d14: the histogram sketch's exact SQL semantics — floor-binning with
    // edge clamp, cumulative counts, first bin reaching q·total, upper edge.
    "d14_hist_quantile" ->
      ("WITH b AS (SELECT event_type, " +
        "LEAST(GREATEST(CAST(floor(value / 5.0) AS INT), 0), 99) AS bin, count(*) AS n " +
        "FROM events GROUP BY event_type, bin), " +
        "c AS (SELECT event_type, bin, " +
        "sum(n) OVER (PARTITION BY event_type ORDER BY bin) AS cum, " +
        "sum(n) OVER (PARTITION BY event_type) AS tot FROM b) " +
        "SELECT event_type, " +
        "round(min(CASE WHEN cum >= 0.5 * tot THEN CAST((bin + 1) * 5.0 AS DOUBLE) END), 6) AS p50_edge, " +
        "round(min(CASE WHEN cum >= 0.95 * tot THEN CAST((bin + 1) * 5.0 AS DOUBLE) END), 6) AS p95_edge " +
        "FROM c GROUP BY event_type ORDER BY event_type"),

    "d2_agg_distinct" ->
      ("SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust, count(*) AS n_orders " +
        "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"),

    // d3: approximate — oracle intentionally omitted (rows-only check).

    "d4_agg_rollup" ->
      (s"SELECT COALESCE(l_returnflag, '(all)') AS returnflag, " +
        "COALESCE(l_linestatus, '(all)') AS linestatus, " +
        s"count(*) AS n, ${Tables.dsumSql("l_quantity")} AS sum_qty " +
        "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) " +
        "ORDER BY returnflag, linestatus"),

    "d5_agg_cube" ->
      (s"SELECT COALESCE(o_orderstatus, '(all)') AS orderstatus, " +
        "COALESCE(o_orderpriority, '(all)') AS orderpriority, " +
        s"count(*) AS n, ${Tables.dsumSql("o_totalprice")} AS total " +
        "FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority) " +
        "ORDER BY orderstatus, orderpriority"),

    "d6_agg_collect" ->
      ("SELECT o_orderpriority, array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses, " +
        "count(*) AS n FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"),

    "d7_agg_percentile" ->
      ("SELECT o_orderpriority, round(quantile_cont(o_totalprice, 0.5), 4) AS p50, " +
        "round(quantile_cont(o_totalprice, 0.95), 4) AS p95 " +
        "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"),

    "d9_agg_salted" ->
      (s"SELECT event_type, ${Tables.dsumSql("value")} AS val_sum, " +
        "CAST(count(*) AS BIGINT) AS n FROM events " +
        "GROUP BY event_type ORDER BY event_type"),

    "d10_pivot" ->
      ("SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day, " +
        Seq("click", "error", "purchase", "signup", "view").map(t =>
          s"CAST(count(CASE WHEN event_type = '$t' THEN 1 END) AS BIGINT) AS $t").mkString(", ") +
        " FROM events GROUP BY 1 ORDER BY day"),

    "d8_agg_stats" ->
      ("SELECT l_returnflag, round(stddev_samp(l_extendedprice), 4) AS sd_price, " +
        "round(stddev_pop(l_extendedprice), 4) AS sdp_price, " +
        "round(corr(l_extendedprice, l_discount), 6) AS corr_pd, count(*) AS n " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),

    "d12_agg_grouping_sets" -> AggQueries.groupingSetsSql,

    "d15_winsorized_mean" ->
      ("WITH b AS (SELECT o_orderpriority AS pr, " +
        "quantile_cont(o_totalprice, 0.05) AS p05, " +
        "quantile_cont(o_totalprice, 0.95) AS p95 FROM orders GROUP BY 1) " +
        "SELECT o_orderpriority, round(max(p05), 4) AS p05_r, round(max(p95), 4) AS p95_r, " +
        "round(CAST(sum(CAST(least(greatest(o_totalprice, p05), p95) AS DECIMAL(27,6))) " +
        "AS DOUBLE) / count(*), 6) AS wavg, count(*) AS n " +
        "FROM orders JOIN b ON o_orderpriority = pr " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),

    "d16_agg_mode" ->
      ("WITH c AS (SELECT o_orderstatus, o_orderpriority, count(*) AS cnt " +
        "FROM orders GROUP BY 1, 2), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY o_orderstatus " +
        "ORDER BY cnt DESC, o_orderpriority ASC) AS rn FROM c) " +
        "SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt AS n " +
        "FROM r WHERE rn = 1 ORDER BY o_orderstatus"),

    // the bitmap union/count is exact, so unlike the HLL band these two
    // sketch queries replay as plain distinct counts
    "h7_sketch_bitmap_exact" ->
      ("SELECT event_type, count(DISTINCT CAST(ts AS DATE)) AS n_daily_sketches, " +
        "count(DISTINCT user_id) AS exact_users FROM events " +
        "GROUP BY event_type ORDER BY event_type"),

    "h8_sketch_bitmap_intersect" ->
      ("WITH e AS (SELECT CAST(ts AS DATE) AS day, event_type, user_id FROM events " +
        "WHERE event_type IN ('click', 'purchase')), " +
        "m AS (SELECT day, " +
        "count(DISTINCT CASE WHEN event_type = 'click' THEN user_id END) AS clickers, " +
        "count(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS purchasers " +
        "FROM e GROUP BY day), " +
        "b AS (SELECT day, count(*) AS both_exact FROM " +
        "(SELECT day, user_id FROM e GROUP BY day, user_id " +
        "HAVING count(DISTINCT event_type) = 2) GROUP BY day) " +
        "SELECT m.day, m.clickers, m.purchasers, " +
        "CAST(coalesce(b.both_exact, 0) AS BIGINT) AS both_exact " +
        "FROM m LEFT JOIN b USING (day) ORDER BY day"),

    // 2*cum >= tot in exact integers — no division, replays bit-for-bit
    "d17_weighted_median" ->
      ("WITH b AS (SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS v, " +
        "CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS w " +
        "FROM lineitem GROUP BY 1, 2), " +
        "c AS (SELECT flag, v, sum(w) OVER (PARTITION BY flag ORDER BY v " +
        "ROWS UNBOUNDED PRECEDING) AS cum, sum(w) OVER (PARTITION BY flag) AS tot FROM b) " +
        "SELECT flag, min(v) AS weighted_median FROM c WHERE cum * 2 >= tot " +
        "GROUP BY flag ORDER BY flag"),

    "d18_agg_filtered" ->
      ("SELECT o_orderstatus, count(*) AS n_all, " +
        "count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent, " +
        s"${Tables.dsumSql("CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice ELSE 0 END")} AS urgent_rev, " +
        "count(*) FILTER (WHERE o_totalprice > 100000) AS n_big " +
        "FROM orders GROUP BY 1 ORDER BY o_orderstatus")
  )
}
