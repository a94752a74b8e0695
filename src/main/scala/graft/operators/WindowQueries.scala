package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** SURVEY §2 E (window functions E1–E7).
  *
  * Scale notes (100 TB): each query shuffles once on its PARTITION BY key and
  * sorts within partitions — the canonical window plan. Every ORDER BY inside
  * a window spec carries a unique tiebreaker (orderkey / event_id) so rank
  * and frame contents are total-order deterministic. Windowed double sums go
  * through DECIMAL(27,6): DuckDB evaluates sliding frames with a segment tree
  * (different association order than Spark's running accumulation), which
  * diverges in ulps for doubles but is exact — hence identical — in decimal.
  */
object WindowQueries extends QueryModule {

  /** Shared by the e24/e25 recurrences: each event type's ZERO-FILLED
    * daily revenue series in exact integer micros — a quiet day is x=0,
    * not a skipped step, so every fold advances over the same global
    * calendar. One (type, day) crush shuffle at data scale; the bounds
    * read is a one-row driver action. `maxSpanDays` turns an
    * oracle-capacity cap (e24's 64 unrolled CTE steps) into a loud
    * failure instead of a silent divergence. */
  private def zeroFilledDaily(t: Tables,
      maxSpanDays: Option[Int] = None): org.apache.spark.sql.DataFrame = {
    val ev = t.events.select(col("event_type"), to_date(col("ts")).as("d"),
      floor(col("value") * lit(1000000.0)).cast("long").as("vm"))
    val daily = ev.groupBy(col("event_type"), col("d")).agg(sum(col("vm")).as("x"))
    val b = ev.agg(min(col("d")), max(col("d"))).head()
    val (d0, d1) = (b.getDate(0), b.getDate(1))
    maxSpanDays.foreach { cap =>
      val span = 1 + java.time.temporal.ChronoUnit.DAYS.between(
        d0.toLocalDate, d1.toLocalDate)
      require(span <= cap,
        s"fixture spans $span days but the paired oracle unrolls only $cap steps")
    }
    val cal = ev.select(col("event_type")).distinct()
      .select(col("event_type"),
        explode(expr(s"sequence(DATE '$d0', DATE '$d1', interval 1 day)")).as("d"))
    cal.join(daily, Seq("event_type", "d"), "left")
      .withColumn("x", coalesce(col("x"), lit(0L)))
  }

  val queries: Seq[(String, QFn)] = Seq(
    // E1: top-3 orders per customer.
    "e1_win_rownumber_topk" -> ((s, dir) => {
      val t = Tables(s, dir)
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t.orders.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
        .orderBy("o_custkey", "rn")
    }),

    // E1b: the same top-3-per-customer as E1, but via a bounded partial
    // top-k Aggregator instead of a window sort: the shuffle carries at most
    // k rows per (partition × group) and nothing is ever fully sorted —
    // the plan that survives when a customer has a billion orders. Same
    // oracle as E1 (identical output contract).
    "e1b_win_topk_agg" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val t = Tables(s, dir)
      val topk = udaf(graft.functions.TopKAgg(3))
      t.orders
        .groupBy(col("o_custkey"))
        .agg(topk(col("o_totalprice"), col("o_orderkey")).as("top"))
        .select(col("o_custkey"), posexplode(col("top")).as(Seq("i", "pair")))
        .select(col("o_custkey"), col("pair._2").as("o_orderkey"),
          col("pair._1").as("o_totalprice"), (col("i") + 1).as("rn"))
        .orderBy("o_custkey", "rn")
    }),

    // E1c: the same top-3-per-customer once more, but planned by our custom
    // Catalyst physical operator (graft.plans.GraftTopKPerKeyExec): the
    // `rn_native` alias opts the query into GraftTopKStrategy, which replaces
    // Exchange→Sort→Window→Filter with map-side bounded selection → shuffle
    // of ≤k survivors per (partition × key) → reduce-side bounded merge —
    // no partition is ever sorted. Same oracle as E1 (identical contract).
    "e1c_win_topk_native" -> ((s, dir) => {
      if (!s.experimental.extraStrategies.contains(graft.plans.GraftTopKStrategy))
        s.experimental.extraStrategies =
          s.experimental.extraStrategies :+ graft.plans.GraftTopKStrategy
      val t = Tables(s, dir)
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t.orders.withColumn("rn_native", row_number().over(w))
        .filter(col("rn_native") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("rn_native").as("rn"))
        .orderBy("o_custkey", "rn")
    }),

    // E1d: the same top-3-per-customer written the CANONICAL way (plain `rn`
    // alias, no opt-in marker) — rewritten to the native operator by the
    // injected optimizer rule graft.plans.GraftTopKMarkRule. Built on the
    // caller and planned on a clone of its session (Tables.confSession — own
    // conf + experimental slots) so the autoRewrite flag never leaks into
    // any other query in the run. Same oracle as E1.
    "e1d_win_topk_autorewrite" -> ((s, dir) => {
      val t = Tables(s, dir)
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      val q = t.orders.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
        .orderBy("o_custkey", "rn")
      val s2 = Tables.confSession(s, graft.plans.GraftTopKMarkRule.Flag -> "true")
      s2.experimental.extraOptimizations = Seq(graft.plans.GraftTopKMarkRule)
      s2.experimental.extraStrategies = Seq(graft.plans.GraftTopKStrategy)
      Tables.rehome(s2, q)
    }),

    // E2: rank / dense_rank / ntile(4) per priority.
    "e2_win_rank_dense" -> ((s, dir) => {
      val t = Tables(s, dir)
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t.orders
        .select(col("o_orderpriority"), col("o_orderkey"),
          rank().over(w).as("rnk"), dense_rank().over(w).as("drnk"),
          ntile(4).over(w).as("tile"))
        .filter(col("rnk") <= 100)
        .orderBy("o_orderpriority", "rnk")
    }),

    // E2b: distribution window functions — percent_rank / cume_dist.
    "e2b_win_distribution" -> ((s, dir) => {
      val t = Tables(s, dir)
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      t.orders
        .select(col("o_orderpriority"), col("o_orderkey"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"))
        .orderBy("o_orderpriority", "o_orderkey")
    }),

    // E3: per-user lag/lead of event timestamps.
    "e3_win_lag_lead" -> ((s, dir) => {
      val t = Tables(s, dir)
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      t.events
        .select(col("event_id"), col("user_id"), col("ts"),
          lag(col("ts"), 1).over(w).as("prev_ts"),
          lead(col("ts"), 1).over(w).as("next_ts"))
        .orderBy("event_id")
    }),

    // E4: running revenue per customer (rows frame, decimal accumulation).
    "e4_win_running_sum" -> ((s, dir) => {
      val t = Tables(s, dir)
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t.orders
        .select(col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast(Tables.dec)).over(w).cast("double").as("running_total"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // E5: 7-row moving average over the daily revenue series.
    "e5_win_moving_avg" -> ((s, dir) => {
      val t = Tables(s, dir)
      val daily = t.lineitem
        .groupBy(date_trunc("day", col("l_shipdate")).cast("timestamp_ntz").as("day"))
        .agg(Tables.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      val w = Window.orderBy(col("day")).rowsBetween(-6, 0)
      daily
        .select(col("day"), round(col("rev"), 6).as("rev"),
          round(sum(col("rev").cast(Tables.dec)).over(w).cast("double")
            / count(col("rev")).over(w), 6).as("mov7"))
        .orderBy("day")
    }),

    // E6: value-range frame — sum of events within 10.0 trailing value units.
    // Range frames with fractional bounds need the SQL form in Spark.
    "e6_win_range_frame" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.events
        .select(col("event_id"), col("event_type"), col("value"),
          expr("CAST(sum(CAST(value AS DECIMAL(27,6))) OVER (PARTITION BY event_type ORDER BY value " +
            "RANGE BETWEEN 10.0 PRECEDING AND CURRENT ROW) AS DOUBLE)").as("range_sum"))
        .orderBy("event_id")
    }),

    // E7: first/last event_type per user-day (explicit full frame + distinct).
    "e7_win_first_last" -> ((s, dir) => {
      val t = Tables(s, dir)
      val withDay = t.events.withColumn("day", date_trunc("day", col("ts")).cast("timestamp_ntz"))
      val w = Window.partitionBy("user_id", "day").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      withDay
        .select(col("user_id"), col("day"),
          first(col("event_type")).over(w).as("first_et"),
          last(col("event_type")).over(w).as("last_et"))
        .distinct()
        .orderBy("user_id", "day")
    }),

    // E8: batch sessionization — the window-function dual of I3's streaming
    // session_window: a session break is a >30-minute gap, session ids are a
    // running sum of breaks per user. Two window passes over the same
    // (user_id, ts) sort order, so Spark reuses a single shuffle+sort.
    "e8_win_sessionize" -> ((s, dir) => {
      val t = Tables(s, dir)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t.events
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_s",
          when(col("prev_ts").isNull ||
            (unix_timestamp(col("ts").cast("timestamp")) -
              unix_timestamp(col("prev_ts").cast("timestamp"))) > 1800, 1).otherwise(0))
        .withColumn("session_id",
          sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          Tables.ntz(min(col("ts"))).as("s_start"),
          Tables.ntz(max(col("ts"))).as("s_end"))
        .orderBy("user_id", "session_id")
    }),

    // E9: NTILE decile assignment per market segment — the bucketing window
    // for stratified sampling / quantile binning. Partitioned by segment so
    // each sort is per-group (no global single-partition sort at scale).
    "e9_win_ntile" -> ((s, dir) => {
      val t = Tables(s, dir)
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      t.customer.select(col("c_custkey"), col("c_mktsegment"),
          ntile(10).over(w).as("decile"))
        .orderBy("c_custkey")
    }),

    // E12: time-weighted average (TWAP) — the irregular-time-series mean
    // (sensor readings, prices): each observation is weighted by how long
    // it was current (µs until the next observation, same user). Weights
    // are exact integer µs and the weighted sum goes through decimal, so
    // the SQL replay matches exactly. One window shuffle on user_id, then
    // a hash aggregate — the standard time-series shape at scale.
    "e12_twap" -> ((s, dir) => {
      val t = Tables(s, dir)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t.events
        .withColumn("nxt", lead(col("ts"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .withColumn("dur", expr(
          "unix_micros(CAST(nxt AS TIMESTAMP)) - unix_micros(CAST(ts AS TIMESTAMP))"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_obs"),
          round(sum((col("value") * col("dur")).cast(Tables.dec)).cast("double") /
            sum(col("dur")), 6).as("twap"))
        .orderBy("user_id")
    }),

    // E10: conversion funnel — per user, the first click and the first
    // purchase at-or-after it; reported per first-click day with the mean
    // click→purchase delay (integer minutes through decimal — exact, so the
    // SQL replay matches bit-for-bit). Two aggregations + one key join; at
    // scale the funnel join shuffles on user_id once and AQE reuses the
    // exchange for the final regroup.
    "e10_funnel_conversion" -> ((s, dir) => {
      val t = Tables(s, dir)
      val clicks = t.events.filter(col("event_type") === "click")
        .groupBy(col("user_id")).agg(min(col("ts")).as("first_click"))
      val purchases = t.events.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("pts"))
      val conv = clicks.join(purchases,
          col("p_user") === col("user_id") && col("pts") >= col("first_click"), "left")
        .groupBy(col("user_id"), col("first_click"))
        .agg(min(col("pts")).as("conv_ts"))
        .withColumn("delay_min", expr(
          "(unix_micros(CAST(conv_ts AS TIMESTAMP)) - unix_micros(CAST(first_click AS TIMESTAMP))) DIV 60000000"))
      conv.groupBy(to_date(col("first_click")).as("day"))
        .agg(count(lit(1)).as("n_users"),
          count(col("conv_ts")).as("n_converted"),
          round(sum(col("delay_min").cast(Tables.dec)).cast("double") /
            count(col("delay_min")), 6).as("avg_delay_min"))
        .orderBy("day")
    }),

    // E11: cohort retention — users grouped by the week of their first
    // SIGNUP; n_active distinct users with any activity in cohort week + k,
    // k = 0..3. Week arithmetic stays in exact integer µs (both engines
    // truncate to the same Monday midnight), so k is exact.
    "e11_cohort_retention" -> ((s, dir) => {
      val t = Tables(s, dir)
      val ev = t.events.select(col("user_id"),
        date_trunc("week", col("ts")).cast("timestamp_ntz").as("week")).distinct()
      val cohort = t.events.filter(col("event_type") === "signup")
        .groupBy(col("user_id"))
        .agg(min(date_trunc("week", col("ts")).cast("timestamp_ntz")).as("cohort_week"))
      ev.join(cohort, "user_id")
        .withColumn("k", expr(
          "(unix_micros(CAST(week AS TIMESTAMP)) - unix_micros(CAST(cohort_week AS TIMESTAMP))) DIV 604800000000"))
        .filter(col("k").between(0, 3))
        .groupBy(col("cohort_week"), col("k"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .orderBy("cohort_week", "k")
    }),

    // E13: rolling z-score anomaly detection — per user, each value scored
    // against the trailing 20-observation window's mean/stddev; |z| > 2.5
    // flags the anomaly. Mean and variance are derived from exact
    // DECIMAL-accumulated sum and sum-of-squares (value rounded to 6dp once,
    // its square exact at scale 12), converted to double only for the final
    // closed-form arithmetic — so Spark's running window accumulation and
    // DuckDB's segment tree produce bit-identical doubles, and sqrt/divide
    // are IEEE-exact on both. One shuffle on user_id, sort within partition;
    // the canonical window plan at any scale.
    "e13_rolling_zscore" -> ((s, dir) => {
      val t = Tables(s, dir)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(-19, 0)
      val v6 = col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6))
      t.events
        .withColumn("sv", sum(v6).over(w).cast("double"))
        .withColumn("sq", sum(v6 * v6).over(w).cast("double"))
        .withColumn("n", count(lit(1)).over(w).cast("double"))
        .filter(col("n") >= 10)
        .withColumn("vr",
          (col("sq") - col("sv") * col("sv") / col("n")) / (col("n") - lit(1.0)))
        .filter(col("vr") > 0)
        .withColumn("z",
          (col("value") - col("sv") / col("n")) / sqrt(col("vr")))
        .filter(abs(col("z")) > 2.5)
        .select(col("event_id"), col("user_id"), round(col("z"), 6).as("zscore"))
        .orderBy("event_id")
    }),

    // E16: MAD-based robust outlier detection — the median-family dual of
    // e13's z-score: median and median-absolute-deviation are unmoved by
    // the outliers they hunt (a mean/stddev gate shifts toward any heavy
    // tail and under-flags). Two exact-median aggregation passes, each
    // producing one k-row table (k = |event_type|) broadcast back onto the
    // stream — no window, no sort of the full data. Exact medians here keep
    // the query oracle-replayable (f16 proved cross-engine median parity);
    // a 100 TB run swaps them for the mergeable histogram-sketch quantiles
    // (d14) without changing the join shape. All post-median arithmetic is
    // plain IEEE double (subtract/abs/divide — no reassociation anywhere).
    "e16_mad_outliers" -> ((s, dir) => {
      val t = Tables(s, dir)
      val med = t.events.groupBy(col("event_type"))
        .agg(median(col("value")).as("med"))
      val dev = t.events.join(broadcast(med), "event_type")
        .withColumn("dev", abs(col("value") - col("med")))
      val mad = dev.groupBy(col("event_type"))
        .agg(median(col("dev")).as("mad"))
      dev.join(broadcast(mad), "event_type")
        .filter(col("mad") > 0 && col("dev") > col("mad") * 3)
        .select(col("event_id"), col("event_type"),
          round(col("value"), 6).as("value"),
          round(col("dev") / col("mad"), 6).as("mad_ratio"))
        .orderBy("event_id")
    }),

    // E15: exponential moving average — the classic streaming recurrence
    // ewma ← α·x + (1−α)·ewma folded left-to-right over the trailing
    // 20-observation frame (zero-seeded, bias-uncorrected; α = 0.3). The
    // fold runs in FIXED-POINT integer micros — (3x + 7acc) div 10 — the
    // g48 convention: a double fold is NOT cross-engine bit-stable (DuckDB's
    // compiled lambda may contract a·b+c to fma, Java never does — observed
    // as a 1-ulp flip at sf1), while 64-bit integer mul/add/div are exact
    // everywhere. floor(value·1e6) is the one float op, identical on both
    // sides. collect_list over a rows-frame preserves frame order; same
    // single-shuffle window plan as E13.
    "e15_ewma" -> ((s, dir) => {
      val t = Tables(s, dir)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(-19, 0)
      t.events
        .withColumn("v_micro", floor(col("value") * lit(1000000d)).cast("long"))
        .withColumn("vals", collect_list(col("v_micro")).over(w))
        .filter(size(col("vals")) >= 5)
        .withColumn("ewma_micro", expr(
          "aggregate(vals, 0L, (acc, x) -> (3L * x + 7L * acc) DIV 10L)"))
        .select(col("event_id"), col("user_id"), col("ewma_micro"))
        .orderBy("event_id")
    }),

    // E17: HOUR-OF-WEEK SEASONAL BASELINE — the profile that turns raw
    // activity into "is this hour unusual": per event type, the 168-slot
    // weekly fingerprint (count + exact-decimal mean value) with the peak
    // slot flagged. The peak rank compares UNROUNDED averages (each a
    // single IEEE division of a decimal-exact sum — deterministic on both
    // engines), how breaks ties. One shuffle on (type, hour-of-week) —
    // 5×168 groups regardless of data volume, the classic crunch-to-tiny
    // aggregation; the window runs on the 840-row aggregate, not the facts.
    "e17_seasonal_hourofweek" -> ((s, dir) => {
      val t = Tables(s, dir)
      // Sunday-based 0..6 to match DuckDB's dayofweek
      val how = (dayofweek(col("ts")) - 1) * 24 + hour(col("ts"))
      val agg = t.events
        .groupBy(col("event_type"), how.as("how"))
        .agg(count(lit(1)).as("n"), Tables.davg(col("value")).as("avg_raw"))
      val w = Window.partitionBy("event_type").orderBy(col("avg_raw").desc, col("how").asc)
      agg.withColumn("is_peak", when(row_number().over(w) === 1, 1).otherwise(0))
        .select(col("event_type"), col("how"), col("n"),
          round(col("avg_raw"), 6).as("avg_val"), col("is_peak"))
        .orderBy("event_type", "how")
    }),

    // E18: PARETO CONTRIBUTION — revenue share and cumulative share per
    // market segment ranked largest-first, the "which 20% carries 80%"
    // report. The facts crush to one exact-decimal sum per segment FIRST;
    // every window below runs on that 5-row aggregate (single-partition by
    // design — it is already metadata-scale), and each share is ONE double
    // division of exact decimals, so the replay is bit-stable. The same
    // split (decimal partials at data scale, window on the crushed
    // aggregate) is the 100 TB shape.
    "e18_pareto_contribution" -> ((s, dir) => {
      val t = Tables(s, dir)
      val seg = t.orders.join(broadcast(t.customer), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(sum(col("o_totalprice").cast(Tables.dec)).as("rev"))
      val ord = Window.orderBy(col("rev").desc, col("c_mktsegment"))
      val all = Window.partitionBy(lit(0))
      seg.withColumn("rank", row_number().over(ord))
        .withColumn("cum", sum(col("rev")).over(ord.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("tot", sum(col("rev")).over(all))
        .select(col("c_mktsegment"),
          floor(col("rev")).cast("long").as("revenue"),
          round(col("rev").cast("double") / col("tot").cast("double"), 6).as("share"),
          round(col("cum").cast("double") / col("tot").cast("double"), 6).as("cum_share"),
          col("rank"))
        .orderBy("rank")
    }),

    // E19: LAST-TOUCH ATTRIBUTION — every purchase credits the same user's
    // most recent click at-or-before it, within a 7-day lookback. One
    // last(ignoreNulls) carry-forward window over the interleaved
    // click/purchase stream — the single-shuffle as-of-join rewrite that
    // replaces a per-purchase range join (quadratic per heavy user) with a
    // sort + running carry; exactly the plan that survives a billion-event
    // user. Delay arithmetic is integer µs (click_ts ≤ ts by window order,
    // so the DIV never sees a negative).
    "e19_attribution_last_touch" -> ((s, dir) => {
      val t = Tables(s, dir)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val isClick = col("event_type") === "click"
      t.events
        .withColumn("click_id",
          last(when(isClick, col("event_id")), ignoreNulls = true).over(w))
        .withColumn("click_ts",
          last(when(isClick, col("ts")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase" && col("click_id").isNotNull)
        .withColumn("delay_us", expr(
          "unix_micros(CAST(ts AS TIMESTAMP)) - unix_micros(CAST(click_ts AS TIMESTAMP))"))
        .filter(col("delay_us") <= lit(7L * 86400L * 1000000L))
        .select(col("event_id"), col("user_id"), col("click_id"),
          expr("delay_us DIV 60000000").as("delay_min"))
        .orderBy("event_id")
    }),

    // E20: EVENT-TYPE MARKOV TRANSITION MATRIX — per-user consecutive event
    // pairs via one lag window (single shuffle on user_id), crushed to the
    // 5×5 transition-count matrix; each probability is ONE double division
    // of two exact counts (identical IEEE result on both engines). The
    // window runs at data scale, everything after runs on ≤25 rows.
    "e20_markov_transitions" -> ((s, dir) => {
      val t = Tables(s, dir)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val pairs = t.events
        .withColumn("prev_et", lag(col("event_type"), 1).over(w))
        .filter(col("prev_et").isNotNull)
        .groupBy(col("prev_et"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val tot = pairs.groupBy(col("prev_et")).agg(sum(col("n")).as("n_from"))
      pairs.join(broadcast(tot), "prev_et")
        .select(col("prev_et"), col("event_type").as("next_et"), col("n"),
          round(col("n").cast("double") / col("n_from").cast("double"), 6).as("p"))
        .orderBy("prev_et", "next_et")
    }),

    // E23: TIME-TO-CONVERSION CURVE — the cumulative-conversion CDF growth
    // teams track: for each day offset k, how many signup-cohort users made
    // their first post-signup purchase within k days, and the cohort share.
    // The heavy work is two crush-to-tiny aggregations (first signup, first
    // qualifying purchase per user); the curve itself is a 14-row histogram
    // + cumulative window on metadata scale. Day arithmetic is exact
    // integer µs; each rate is one IEEE division of exact counts. Users who
    // never convert stay in the denominator (a conversion curve, not a
    // survivorship bias).
    "e23_conversion_curve" -> ((s, dir) => {
      val t = Tables(s, dir)
      val cohort = t.events.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t0"))
      val purch = t.events.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("pts"))
      val delays = cohort.join(purch,
          col("p_user") === col("user_id") && col("pts") >= col("t0"), "left")
        .groupBy(col("user_id"))
        .agg(min(expr(
          "(unix_micros(CAST(pts AS TIMESTAMP)) - unix_micros(CAST(t0 AS TIMESTAMP))) DIV 86400000000"))
          .as("delay_d"))
      val tot = delays.agg(count(lit(1)).as("n_cohort"))
      val hist = delays.filter(col("delay_d").isNotNull)
        .groupBy(col("delay_d")).agg(count(lit(1)).as("n"))
      val w = Window.orderBy(col("k")).rowsBetween(Window.unboundedPreceding, 0)
      s.range(0, 14).select(col("id").as("k"))
        .join(hist, col("k") === col("delay_d"), "left")
        .withColumn("n_at_k", coalesce(col("n"), lit(0L)))
        .withColumn("n_by_k", sum(col("n_at_k")).over(w))
        .crossJoin(broadcast(tot))
        .select(col("k"), col("n_at_k"), col("n_by_k"),
          round(col("n_by_k").cast("double") / col("n_cohort").cast("double"), 6)
            .as("conv_rate"))
        .orderBy("k")
    }),

    // E22: PERIOD-OVER-PERIOD deltas — daily revenue with day-over-day and
    // 7-periods-back (week-over-week) absolute + percent change, the
    // standard KPI report. The facts crush to one exact-decimal sum per day
    // FIRST (map-side combined at data scale); the unpartitioned lag window
    // then runs on the ~2.5k-row daily aggregate — metadata scale by
    // construction, same e18 discipline. Absolute deltas stay decimal-exact;
    // each pct is one IEEE division of exact decimals.
    "e22_period_over_period" -> ((s, dir) => {
      val t = Tables(s, dir)
      val daily = t.lineitem
        .groupBy(to_date(col("l_shipdate")).as("day"))
        .agg(sum(col("l_extendedprice").cast(Tables.dec)).as("rev"))
      val w = Window.orderBy(col("day"))
      daily
        .withColumn("prev1", lag(col("rev"), 1).over(w))
        .withColumn("prev7", lag(col("rev"), 7).over(w))
        .select(col("day"),
          floor(col("rev")).cast("long").as("revenue"),
          floor(col("rev") - col("prev1")).cast("long").as("dod_abs"),
          round((col("rev") - col("prev1")).cast("double") /
            col("prev1").cast("double"), 6).as("dod_pct"),
          round((col("rev") - col("prev7")).cast("double") /
            col("prev7").cast("double"), 6).as("wow_pct"))
        .orderBy("day")
    }),

    // E21: ROLLING ACTIVE USERS (DAU/WAU) — exact 7-day rolling distinct
    // users per day. Windowed COUNT(DISTINCT) doesn't exist in either
    // engine; the scalable exact rewrite is the CONTRIBUTION EXPLODE: each
    // (user, active-day) pair — already crushed to one row per user-day —
    // fans out to the ≤7 target days it keeps the user "active" for, then
    // one distinct-count per target day. The fanout is 7× a pre-aggregated
    // table (not 7× the raw events), the canonical exact-sliding-distinct
    // shape at any scale; beyond exact, i11's sliding HLL is the sketch
    // path. Target days are restricted to days that actually occur.
    "e21_rolling_active_users" -> ((s, dir) => {
      val t = Tables(s, dir)
      val ud = t.events.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val days = ud.select(col("day")).distinct()
      ud.select(col("user_id"), col("day"), explode(sequence(lit(0), lit(6))).as("k"))
        .select(col("user_id"), expr("date_add(day, k)").as("day"), col("k"))
        .join(days, Seq("day"), "left_semi")
        .groupBy(col("day"))
        .agg(countDistinct(col("user_id")).as("wau"),
          countDistinct(when(col("k") === 0, col("user_id"))).as("dau"))
        .orderBy("day")
    }),

    // E25: CUSUM CHANGEPOINT DETECTION — the sequential drift monitor the
    // rolling z-score (e13) and MAD gate (e16) don't cover: a one-sided
    // upper CUSUM S_t = max(0, S_{t-1} + x_t − μ − kslack) accumulates
    // small sustained upward shifts in each event type's zero-filled daily
    // revenue that no single day would flag, alarming when S crosses
    // h = 8·kslack. Everything is integer micros: μ is the truncated
    // per-type mean of the daily sums, kslack = μ DIV 20 (a 5% allowance),
    // so the recurrence is exact on both engines. Each day's S value comes
    // from folding the PREFIX list (collect_list over an unbounded-
    // preceding window — the e15 shape; ~31²·5 lambda steps, metadata
    // scale after the one (type, day) crush shuffle). The oracle replays
    // the identical fold via zero-prepended list_reduce.
    "e25_cusum_changepoint" -> ((s, dir) => {
      val t = Tables(s, dir)
      val filled = zeroFilledDaily(t)
      val stats = filled.groupBy(col("event_type"))
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("nd"))
        .withColumn("mu", expr("sx DIV nd"))
        .withColumn("kslack", expr("mu DIV 20L"))
        .select("event_type", "mu", "kslack")
      val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, 0)
      filled.join(broadcast(stats), "event_type")
        .withColumn("vals", collect_list(col("x")).over(w))
        .withColumn("cusum", expr(
          "aggregate(vals, 0L, (acc, v) -> greatest(0L, acc + v - mu - kslack))"))
        .select(col("event_type"), col("d").as("day"), col("x").as("x_micro"),
          col("cusum").as("cusum_micro"),
          when(col("cusum") > col("kslack") * 8, 1).otherwise(0).as("alarm"))
        .orderBy("event_type", "day")
    }),

    // E24: HOLT LINEAR TREND (double exponential smoothing) — the
    // forecasting recurrence e15's single EWMA can't express: level AND
    // trend, l' = α·x + (1−α)(l+t), t' = β(l'−l) + (1−β)t with α=0.3,
    // β=0.1, zero-seeded and folded left-to-right over each event type's
    // ZERO-FILLED daily revenue series (a quiet day is x=0, not a skipped
    // step). All arithmetic is fixed-point integer micros with a SIGN-SAFE
    // truncating div-by-10 — the trend goes negative, and floor- vs
    // truncate-division differ between engines on negatives, so both sides
    // only ever divide non-negative magnitudes. The facts crush to
    // (type, day) integer sums first — one shuffle at data scale; the fold
    // itself runs on 5 arrays of ~31 elements. The oracle replays the
    // identical recurrence as an unrolled 64-step MATERIALIZED CTE chain
    // (the kmeans/PCA discipline — list_reduce is scalar-state, Holt is
    // two-state), each step a 5-row join; steps beyond the span carry
    // state unchanged, so any fixture span ≤ 64 days replays exactly.
    "e24_holt_linear" -> ((s, dir) => {
      val t = Tables(s, dir)
      // the oracle unrolls exactly 64 CTE steps with a carry guard; fail
      // LOUDLY (not silently diverge) if a fixture ever spans more
      val filled = zeroFilledDaily(t, maxSpanDays = Some(64))
      def td(a: String) =
        s"(CASE WHEN ($a) < 0L THEN -((-($a)) DIV 10L) ELSE ($a) DIV 10L END)"
      val lNew = td("3L * x + 7L * (acc[0] + acc[1])")
      val tNew = td(s"($lNew - acc[0]) + 9L * acc[1]")
      filled.groupBy(col("event_type"))
        .agg(expr("transform(array_sort(collect_list(struct(d, x))), p -> p.x)").as("xs"),
          count(lit(1)).as("n_days"))
        .withColumn("st",
          expr(s"aggregate(xs, array(0L, 0L), (acc, x) -> array($lNew, $tNew))"))
        .select(col("event_type"), col("n_days"),
          col("st")(0).as("level_micro"), col("st")(1).as("trend_micro"),
          (col("st")(0) + col("st")(1)).as("forecast_micro"))
        .orderBy("event_type")
    })
  )

  val oracles: Seq[(String, String)] = Seq(
    "e1_win_rownumber_topk" ->
      ("SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (" +
        "SELECT o_custkey, o_orderkey, o_totalprice, " +
        "row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn " +
        "FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn"),

    "e1b_win_topk_agg" ->
      ("SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (" +
        "SELECT o_custkey, o_orderkey, o_totalprice, " +
        "row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn " +
        "FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn"),

    "e1c_win_topk_native" ->
      ("SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (" +
        "SELECT o_custkey, o_orderkey, o_totalprice, " +
        "row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn " +
        "FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn"),

    "e1d_win_topk_autorewrite" ->
      ("SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (" +
        "SELECT o_custkey, o_orderkey, o_totalprice, " +
        "row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn " +
        "FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn"),

    "e2_win_rank_dense" ->
      ("SELECT o_orderpriority, o_orderkey, rnk, drnk, tile FROM (" +
        "SELECT o_orderpriority, o_orderkey, " +
        "rank() OVER w AS rnk, dense_rank() OVER w AS drnk, ntile(4) OVER w AS tile " +
        "FROM orders WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)) " +
        "WHERE rnk <= 100 ORDER BY o_orderpriority, rnk"),

    "e2b_win_distribution" ->
      ("SELECT o_orderpriority, o_orderkey, " +
        "round(percent_rank() OVER w, 6) AS pr, round(cume_dist() OVER w, 6) AS cd " +
        "FROM orders WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) " +
        "ORDER BY o_orderpriority, o_orderkey"),

    "e3_win_lag_lead" ->
      ("SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, " +
        "lag(CAST(ts AS TIMESTAMP), 1) OVER w AS prev_ts, " +
        "lead(CAST(ts AS TIMESTAMP), 1) OVER w AS next_ts " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) " +
        "ORDER BY event_id"),

    "e4_win_running_sum" ->
      ("SELECT o_custkey, o_orderkey, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) OVER (PARTITION BY o_custkey " +
        "ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "AS DOUBLE) AS running_total FROM orders ORDER BY o_custkey, o_orderkey"),

    "e5_win_moving_avg" ->
      (s"WITH daily AS (SELECT CAST(date_trunc('day', l_shipdate) AS TIMESTAMP) AS day, " +
        s"${Tables.dsumSql("l_extendedprice * (1.0 - l_discount)")} AS rev " +
        "FROM lineitem GROUP BY 1) " +
        "SELECT day, round(rev, 6) AS rev, " +
        "round(CAST(sum(CAST(rev AS DECIMAL(27,6))) OVER w AS DOUBLE) / count(rev) OVER w, 6) AS mov7 " +
        "FROM daily WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) " +
        "ORDER BY day"),

    "e6_win_range_frame" ->
      ("SELECT event_id, event_type, value, " +
        "CAST(sum(CAST(value AS DECIMAL(27,6))) OVER (PARTITION BY event_type ORDER BY value " +
        "RANGE BETWEEN 10.0 PRECEDING AND CURRENT ROW) AS DOUBLE) AS range_sum " +
        "FROM events ORDER BY event_id"),

    "e7_win_first_last" ->
      ("SELECT DISTINCT user_id, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day, " +
        "first_value(event_type) OVER w AS first_et, last_value(event_type) OVER w AS last_et " +
        "FROM events WINDOW w AS (PARTITION BY user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) " +
        "ORDER BY CAST(ts AS TIMESTAMP), event_id ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) " +
        "ORDER BY user_id, day"),

    "e8_win_sessionize" ->
      ("WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events), " +
        "l AS (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM e), " +
        "n AS (SELECT *, CASE WHEN prev_ts IS NULL OR date_diff('second', prev_ts, ts) > 1800 " +
        "THEN 1 ELSE 0 END AS new_s FROM l), " +
        "s AS (SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM n) " +
        "SELECT user_id, session_id, count(*) AS n_events, min(ts) AS s_start, max(ts) AS s_end " +
        "FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id"),

    "e9_win_ntile" ->
      ("SELECT c_custkey, c_mktsegment, " +
        "ntile(10) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS decile " +
        "FROM customer ORDER BY c_custkey"),

    "e12_twap" ->
      ("WITH o AS (SELECT user_id, value, epoch_us(CAST(ts AS TIMESTAMP)) AS us, " +
        "lead(epoch_us(CAST(ts AS TIMESTAMP))) OVER " +
        "(PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS nxt " +
        "FROM events) " +
        "SELECT user_id, count(*) AS n_obs, " +
        "round(CAST(sum(CAST(value * (nxt - us) AS DECIMAL(27,6))) AS DOUBLE) / " +
        "sum(nxt - us), 6) AS twap " +
        "FROM o WHERE nxt IS NOT NULL GROUP BY user_id ORDER BY user_id"),

    "e10_funnel_conversion" ->
      ("WITH c AS (SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS first_click " +
        "FROM events WHERE event_type = 'click' GROUP BY user_id), " +
        "p AS (SELECT user_id AS p_user, CAST(ts AS TIMESTAMP) AS pts " +
        "FROM events WHERE event_type = 'purchase'), " +
        "conv AS (SELECT user_id, first_click, min(pts) AS conv_ts, " +
        "(epoch_us(min(pts)) - epoch_us(first_click)) // 60000000 AS delay_min " +
        "FROM c LEFT JOIN p ON p_user = user_id AND pts >= first_click " +
        "GROUP BY user_id, first_click) " +
        "SELECT CAST(first_click AS DATE) AS day, count(*) AS n_users, " +
        "count(conv_ts) AS n_converted, " +
        "round(CAST(sum(CAST(delay_min AS DECIMAL(27,6))) AS DOUBLE) / count(delay_min), 6) " +
        "AS avg_delay_min FROM conv GROUP BY 1 ORDER BY day"),

    "e11_cohort_retention" ->
      ("WITH ev AS (SELECT DISTINCT user_id, " +
        // DuckDB date_trunc('week') yields DATE; keep it TIMESTAMP like Spark
        "CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS week FROM events), " +
        "co AS (SELECT user_id, " +
        "CAST(min(date_trunc('week', CAST(ts AS TIMESTAMP))) AS TIMESTAMP) AS cohort_week " +
        "FROM events WHERE event_type = 'signup' GROUP BY user_id) " +
        "SELECT cohort_week, " +
        "(epoch_us(week) - epoch_us(cohort_week)) // 604800000000 AS k, " +
        "count(DISTINCT ev.user_id) AS n_active " +
        "FROM ev JOIN co ON ev.user_id = co.user_id " +
        "WHERE (epoch_us(week) - epoch_us(cohort_week)) // 604800000000 BETWEEN 0 AND 3 " +
        "GROUP BY 1, 2 ORDER BY cohort_week, k"),

    "e13_rolling_zscore" ->
      ("WITH w AS (SELECT event_id, user_id, value, " +
        "CAST(sum(CAST(value AS DECIMAL(18,6))) OVER fr AS DOUBLE) AS sv, " +
        "CAST(sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) OVER fr AS DOUBLE) AS sq, " +
        "CAST(count(*) OVER fr AS DOUBLE) AS n " +
        "FROM events WINDOW fr AS (PARTITION BY user_id " +
        "ORDER BY CAST(ts AS TIMESTAMP), event_id ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)), " +
        "v AS (SELECT *, (sq - sv * sv / n) / (n - 1.0) AS vr FROM w WHERE n >= 10) " +
        "SELECT event_id, user_id, round((value - sv / n) / sqrt(vr), 6) AS zscore " +
        "FROM v WHERE vr > 0 AND abs((value - sv / n) / sqrt(vr)) > 2.5 ORDER BY event_id"),

    // zero-prepended list_reduce = Spark's zero-initialized aggregate fold;
    // integer-micros fixed point, so the fold is exact on both engines
    "e15_ewma" ->
      ("WITH w AS (SELECT event_id, user_id, " +
        "list(CAST(floor(value * 1000000.0) AS BIGINT)) OVER " +
        "(PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id " +
        "ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS vals FROM events) " +
        "SELECT event_id, user_id, " +
        "list_reduce(list_prepend(CAST(0 AS BIGINT), vals), " +
        "(acc, x) -> (3 * x + 7 * acc) // 10) AS ewma_micro " +
        "FROM w WHERE len(vals) >= 5 ORDER BY event_id"),

    "e16_mad_outliers" ->
      ("WITH med AS (SELECT event_type, median(value) AS med FROM events GROUP BY 1), " +
        "d AS (SELECT e.event_id, e.event_type, e.value, abs(e.value - m.med) AS dev " +
        "FROM events e JOIN med m USING (event_type)), " +
        "mad AS (SELECT event_type, median(dev) AS mad FROM d GROUP BY 1) " +
        "SELECT d.event_id, d.event_type, round(d.value, 6) AS value, " +
        "round(d.dev / m.mad, 6) AS mad_ratio " +
        "FROM d JOIN mad m USING (event_type) " +
        "WHERE m.mad > 0 AND d.dev > m.mad * 3 ORDER BY event_id"),

    // peak rank on the UNROUNDED average, ties broken by how — same
    // spelling as the engine
    "e17_seasonal_hourofweek" ->
      ("WITH a AS (SELECT event_type, " +
        "dayofweek(CAST(ts AS TIMESTAMP)) * 24 + hour(CAST(ts AS TIMESTAMP)) AS how, " +
        s"count(*) AS n, ${graft.Tables.davgSql("value")} AS avg_raw " +
        "FROM events GROUP BY 1, 2), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY event_type " +
        "ORDER BY avg_raw DESC, how) AS rn FROM a) " +
        "SELECT event_type, how, n, round(avg_raw, 6) AS avg_val, " +
        "CASE WHEN rn = 1 THEN 1 ELSE 0 END AS is_peak " +
        "FROM r ORDER BY event_type, how"),

    // exact decimal sums; each share is one double division
    "e18_pareto_contribution" ->
      ("WITH s AS (SELECT c_mktsegment, sum(CAST(o_totalprice AS DECIMAL(27,6))) AS rev " +
        "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1), " +
        "r AS (SELECT *, row_number() OVER (ORDER BY rev DESC, c_mktsegment) AS rank, " +
        "sum(rev) OVER (ORDER BY rev DESC, c_mktsegment ROWS UNBOUNDED PRECEDING) AS cum, " +
        "sum(rev) OVER () AS tot FROM s) " +
        "SELECT c_mktsegment, CAST(floor(rev) AS BIGINT) AS revenue, " +
        "round(CAST(rev AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS share, " +
        "round(CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS cum_share, " +
        "CAST(rank AS INT) AS rank FROM r ORDER BY rank"),

    "e19_attribution_last_touch" ->
      ("WITH e AS (SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events), " +
        "a AS (SELECT *, " +
        "last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS) OVER w AS click_id, " +
        "last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS) OVER w AS click_ts " +
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) " +
        "SELECT event_id, user_id, click_id, " +
        "(epoch_us(ts) - epoch_us(click_ts)) // 60000000 AS delay_min " +
        "FROM a WHERE event_type = 'purchase' AND click_id IS NOT NULL " +
        "AND epoch_us(ts) - epoch_us(click_ts) <= 604800000000 ORDER BY event_id"),

    "e20_markov_transitions" ->
      ("WITH p AS (SELECT user_id, event_type, lag(event_type) OVER " +
        "(PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_et FROM events), " +
        "c AS (SELECT prev_et, event_type AS next_et, count(*) AS n " +
        "FROM p WHERE prev_et IS NOT NULL GROUP BY 1, 2), " +
        "t AS (SELECT prev_et, sum(n) AS n_from FROM c GROUP BY 1) " +
        "SELECT c.prev_et, c.next_et, c.n, " +
        "round(CAST(c.n AS DOUBLE) / CAST(t.n_from AS DOUBLE), 6) AS p " +
        "FROM c JOIN t USING (prev_et) ORDER BY prev_et, next_et"),

    "e23_conversion_curve" ->
      ("WITH c AS (SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t0 " +
        "FROM events WHERE event_type = 'signup' GROUP BY 1), " +
        "d AS (SELECT c.user_id, " +
        "min((epoch_us(CAST(e.ts AS TIMESTAMP)) - epoch_us(t0)) // 86400000000) AS delay_d " +
        "FROM c LEFT JOIN events e ON e.user_id = c.user_id " +
        "AND e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) >= t0 GROUP BY 1), " +
        "tot AS (SELECT count(*) AS n_cohort FROM d), " +
        "h AS (SELECT delay_d, count(*) AS n FROM d WHERE delay_d IS NOT NULL GROUP BY 1), " +
        "ks AS (SELECT CAST(x AS BIGINT) AS k FROM range(0, 14) t(x)) " +
        "SELECT k, CAST(coalesce(n, 0) AS BIGINT) AS n_at_k, " +
        "CAST(sum(coalesce(n, 0)) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_by_k, " +
        "round(CAST(sum(coalesce(n, 0)) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING) AS DOUBLE) / n_cohort, 6) AS conv_rate " +
        "FROM ks LEFT JOIN h ON ks.k = h.delay_d, tot ORDER BY k"),

    "e22_period_over_period" ->
      ("WITH d AS (SELECT CAST(l_shipdate AS DATE) AS day, " +
        "sum(CAST(l_extendedprice AS DECIMAL(27,6))) AS rev FROM lineitem GROUP BY 1), " +
        "l AS (SELECT *, lag(rev, 1) OVER (ORDER BY day) AS prev1, " +
        "lag(rev, 7) OVER (ORDER BY day) AS prev7 FROM d) " +
        "SELECT day, CAST(floor(rev) AS BIGINT) AS revenue, " +
        "CAST(floor(rev - prev1) AS BIGINT) AS dod_abs, " +
        "round(CAST(rev - prev1 AS DOUBLE) / CAST(prev1 AS DOUBLE), 6) AS dod_pct, " +
        "round(CAST(rev - prev7 AS DOUBLE) / CAST(prev7 AS DOUBLE), 6) AS wow_pct " +
        "FROM l ORDER BY day"),

    "e21_rolling_active_users" ->
      ("WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events), " +
        "x AS (SELECT user_id, day + CAST(k AS INT) AS day, k " +
        "FROM ud, UNNEST(range(0, 7)) AS t(k)) " +
        "SELECT day, count(DISTINCT user_id) AS wau, " +
        "count(DISTINCT CASE WHEN k = 0 THEN user_id END) AS dau " +
        "FROM x WHERE day IN (SELECT DISTINCT CAST(ts AS DATE) FROM events) " +
        "GROUP BY day ORDER BY day"),

    // zero-prepended list_reduce over the prefix list = the engine's
    // zero-initialized aggregate fold; mu/kslack are integer divisions of
    // integer sums, so the whole recurrence is exact on both engines
    "e25_cusum_changepoint" ->
      ("WITH bounds AS (SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1 FROM events), " +
        "cal AS (SELECT et.event_type, CAST(u.d AS DATE) AS d FROM " +
        "(SELECT DISTINCT event_type FROM events) et, bounds b, " +
        "UNNEST(generate_series(b.d0, b.d1, INTERVAL 1 DAY)) u(d)), " +
        "daily AS (SELECT event_type, CAST(ts AS DATE) AS d, " +
        "CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT) AS x " +
        "FROM events GROUP BY 1, 2), " +
        "filled AS (SELECT c.event_type, c.d, COALESCE(daily.x, 0) AS x " +
        "FROM cal c LEFT JOIN daily ON daily.event_type = c.event_type AND daily.d = c.d), " +
        "st AS (SELECT event_type, CAST(sum(x) AS BIGINT) // count(*) AS mu " +
        "FROM filled GROUP BY 1), " +
        "pre AS (SELECT f.event_type, f.d, f.x, st.mu, st.mu // 20 AS kslack, " +
        "list(f.x) OVER (PARTITION BY f.event_type ORDER BY f.d " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vals " +
        "FROM filled f JOIN st USING (event_type)) " +
        "SELECT event_type, d AS day, x AS x_micro, " +
        "list_reduce(list_prepend(CAST(0 AS BIGINT), vals), " +
        "(acc, v) -> greatest(CAST(0 AS BIGINT), acc + v - mu - kslack)) AS cusum_micro, " +
        "CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT), vals), " +
        "(acc, v) -> greatest(CAST(0 AS BIGINT), acc + v - mu - kslack)) > kslack * 8 " +
        "THEN 1 ELSE 0 END AS alarm " +
        "FROM pre ORDER BY event_type, day"),

    // the two-state Holt recurrence unrolled as 64 MATERIALIZED 5-row CTE
    // steps (list_reduce is scalar-state); sign-safe truncating div-by-10
    // mirrors the engine exactly, steps past the span carry state
    "e24_holt_linear" -> {
      def td(a: String) =
        s"(CASE WHEN ($a) < 0 THEN -((-($a)) // 10) ELSE ($a) // 10 END)"
      val lNew = td("3 * COALESCE(d.x, 0) + 7 * (s.l + s.t)")
      val tNew = td(s"($lNew - s.l) + 9 * s.t")
      val steps = (0 until 64).map { k =>
        s"s${k + 1} AS MATERIALIZED (SELECT s.event_type, " +
          s"CASE WHEN $k < (SELECT nd FROM n) THEN $lNew ELSE s.l END AS l, " +
          s"CASE WHEN $k < (SELECT nd FROM n) THEN $tNew ELSE s.t END AS t " +
          s"FROM s$k s LEFT JOIN daily d ON d.event_type = s.event_type AND d.k = $k)"
      }.mkString(", ")
      "WITH bounds AS (SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1 FROM events), " +
        "n AS (SELECT datediff('day', d0, d1) + 1 AS nd FROM bounds), " +
        "daily AS (SELECT event_type, datediff('day', b.d0, CAST(ts AS DATE)) AS k, " +
        "CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT) AS x " +
        "FROM events, bounds b GROUP BY 1, 2), " +
        "s0 AS (SELECT DISTINCT event_type, CAST(0 AS BIGINT) AS l, CAST(0 AS BIGINT) AS t FROM events), " +
        steps +
        " SELECT event_type, (SELECT CAST(nd AS BIGINT) FROM n) AS n_days, " +
        "l AS level_micro, t AS trend_micro, l + t AS forecast_micro " +
        "FROM s64 ORDER BY event_type"
    }
  )
}
