package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** SURVEY §2 C (joins C1–C11).
  *
  * Scale notes (100 TB): dimension sides (region/nation/customer at dim
  * scale, the generated band/hour tables) are explicitly `broadcast()` so no
  * shuffle of the fact side ever happens for them; the large-large joins
  * (C2/C3) shuffle on their join key exactly once and the aggregation that
  * follows reuses that partitioning. The as-of join (C10) is expressed as a
  * single window pass (one shuffle by user_id) rather than a self-join,
  * which is the plan that survives skewed users at scale (AQE splits any
  * oversized partition).
  */
object JoinQueries extends QueryModule {

  val queries: Seq[(String, QFn)] = Seq(
    // C1: dim-to-fact equi-join; dim side broadcast (no shuffle of orders).
    "c1_join_broadcast" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.orders.join(broadcast(t.customer), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_orders"), Tables.dsum(col("o_totalprice")).as("total"))
        .orderBy("c_nationkey")
    }),

    // C2: large-large equi-join pinned to shuffle-hash (both sides shuffle on
    // l_orderkey/o_orderkey, no sort). Map-side partial agg follows.
    "c2_join_shuffle_hash" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.lineitem.hint("SHUFFLE_HASH")
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"), Tables.dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("o_orderpriority")
    }),

    // C3: same shape pinned to sort-merge (Spark's default above thresholds;
    // the sort order is reusable by downstream ops at scale).
    "c3_join_sort_merge" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.lineitem.hint("MERGE")
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_items"), Tables.dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("o_orderstatus", "l_linestatus")
    }),

    // C4: FLAGSHIP — 5-way star rollup region→nation→customer→orders→lineitem
    // (TPC-H Q5 shape). Dims broadcast; only the orders⋈lineitem join shuffles.
    "c4_join_5way_star" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.lineitem
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t.customer), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_items"),
          Tables.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy("r_name", "n_name")
    }),

    // C5: left outer with null fill — every customer, order count may be 0.
    "c5_join_outer" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.customer.join(t.orders, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          coalesce(Tables.dsum(col("o_totalprice")), lit(0.0)).as("total"))
        .orderBy("c_custkey")
    }),

    // C6: left semi (EXISTS) — orders having at least one near-full-qty item.
    "c6_join_semi" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.orders.join(t.lineitem.filter(col("l_quantity") >= 49.0),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        .orderBy("o_orderkey")
    }),

    // C7: left anti (NOT EXISTS) — customers with no orders at all.
    "c7_join_anti" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.customer.join(t.orders, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    }),

    // C8: pure theta join — orders against generated price bands
    // (BroadcastNestedLoopJoin; band side is 10 rows, always broadcast).
    "c8_join_theta" -> ((s, dir) => {
      val t = Tables(s, dir)
      val bands = s.range(0, 10).select(col("id").as("band"),
        (col("id") * 100000.0).as("lo"), ((col("id") + 1) * 100000.0).as("hi"))
      t.orders.join(broadcast(bands),
          col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_orders"), Tables.dsum(col("o_totalprice")).as("total"))
        .orderBy("band")
    }),

    // C9: range bucketing as an equi-join on date_trunc against a generated
    // hour spine (broadcast) — the scale-safe formulation of a range join.
    "c9_join_range" -> ((s, dir) => {
      val t = Tables(s, dir)
      val hours = s.sql(
        """SELECT explode(sequence(timestamp_ntz'2024-01-01 00:00:00',
          |                        timestamp_ntz'2024-01-31 00:00:00',
          |                        interval 1 hour)) AS h""".stripMargin)
      t.events.withColumn("eh", date_trunc("hour", col("ts")).cast("timestamp_ntz"))
        .join(broadcast(hours), col("eh") === col("h"))
        .groupBy(col("h"))
        .agg(count(lit(1)).as("n_events"), Tables.dsum(col("value")).as("val_sum"))
        .orderBy("h")
    }),

    // C10: as-of join — each purchase matched to the user's most recent prior
    // click, as one window pass (single shuffle by user_id; no self-join).
    "c10_join_asof" -> ((s, dir) => {
      val t = Tables(s, dir)
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      t.events
        .withColumn("prev_click_ts",
          last(when(col("event_type") === "click", col("ts")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("prev_click_ts"))
        .orderBy("event_id")
    }),

    // C15: the SAME as-of semantics as c10, but as a true two-table as-of
    // JOIN through the full custom-operator chain (graft.plans.AsOfJoin
    // logical node → GraftAsOfStrategy → GraftAsOfJoinExec): one shuffle per
    // side on user_id, sort within partitions by (user, ts, event_id), then
    // a streaming merge holding only the latest click seen — no window over
    // a unioned table, no per-key buffering. Same oracle as c10.
    "c15_join_asof_native" -> ((s, dir) => {
      val t = Tables(s, dir)
      val purchases = t.events.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = t.events.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
          col("event_id").as("c_eid"))
      graft.plans.GraftOps.asofJoin(purchases, clicks,
          Seq(purchases("user_id")), Seq(clicks("c_user")),
          Seq(purchases("ts"), purchases("event_id")),
          Seq(clicks("click_ts"), clicks("c_eid")))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("click_ts").as("prev_click_ts"))
        .orderBy("event_id")
    }),

    // C12: bucketed co-located join — both fact tables written CLUSTERED BY
    // the join key into the same bucket count, so the sort-merge join runs
    // with NO shuffle exchange on either side (asserted in PlanSpec). At
    // 100 TB this is the difference between re-shuffling petabytes per query
    // and a pure local merge per bucket.
    "c12_join_bucketed" -> ((s, dir) => {
      val t = Tables(s, dir)
      val base = Tables.scratch("bucketed", dir)
      def materialize(name: String, df: org.apache.spark.sql.DataFrame, key: String): String = {
        val tbl = s"graft_b_${name}_${Tables.pathKey(dir)}"
        if (!s.catalog.tableExists(tbl)) {
          df.write.mode("overwrite")
            .bucketBy(8, key).sortBy(key)
            .option("path", s"$base/$name")
            .saveAsTable(tbl)
        }
        tbl
      }
      val lt = materialize("lineitem", t.lineitem
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")), "l_orderkey")
      val ot = materialize("orders", t.orders
        .select(col("o_orderkey"), col("o_orderpriority")), "o_orderkey")
      // MERGE hint: at fixture scale the small side would broadcast (also
      // shuffle-free); the hint pins the sort-merge path so the plan shows
      // the bucketed zero-exchange join a 100 TB fact-fact join takes.
      s.table(lt).hint("MERGE").join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          Tables.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy("o_orderpriority")
    }),

    // C13: time-series gap fill — hourly per-type sums left-joined onto a
    // generated (hour × type) spine, missing hours forward-filled with the
    // last observed value (IGNORE NULLS running window). The standard
    // regularization step before any time-series model consumes event data.
    "c13_gapfill_forward" -> ((s, dir) => {
      val t = Tables(s, dir)
      val hours = s.sql(
        """SELECT explode(sequence(timestamp_ntz'2024-01-01 00:00:00',
          |                        timestamp_ntz'2024-01-03 23:00:00',
          |                        interval 1 hour)) AS h""".stripMargin)
      val types = t.events.select(col("event_type").as("et")).distinct()
      val hourly = t.events
        .withColumn("eh", date_trunc("hour", col("ts")).cast("timestamp_ntz"))
        .groupBy(col("eh"), col("event_type"))
        .agg(Tables.dsum(col("value")).as("v"))
      val spine = hours.crossJoin(broadcast(types))
      val w = Window.partitionBy("et").orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(hourly, col("h") === col("eh") && col("et") === col("event_type"), "left_outer")
        .select(col("h"), col("et"), round(col("v"), 6).as("v_raw"),
          round(last(col("v"), ignoreNulls = true).over(w), 6).as("v_filled"))
        .orderBy("h", "et")
    }),

    // C13b: gap fill by LINEAR INTERPOLATION — same spine as c13, but a
    // missing hour takes the value interpolated between the surrounding
    // observations (clamping to the nearest one at series edges): four
    // IGNORE-NULLS windows carry (value, hour-index) of the previous and
    // next observation past the gaps; the fraction is a ratio of integer
    // hour indexes, so both engines interpolate from bit-identical inputs.
    "c13b_gapfill_interp" -> ((s, dir) => {
      val t = Tables(s, dir)
      val hours = s.sql(
        """SELECT explode(sequence(timestamp_ntz'2024-01-01 00:00:00',
          |                        timestamp_ntz'2024-01-03 23:00:00',
          |                        interval 1 hour)) AS h""".stripMargin)
      val types = t.events.select(col("event_type").as("et")).distinct()
      val hourly = t.events
        .withColumn("eh", date_trunc("hour", col("ts")).cast("timestamp_ntz"))
        .groupBy(col("eh"), col("event_type"))
        .agg(Tables.dsum(col("value")).as("v"))
      val wPrev = Window.partitionBy("et").orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = Window.partitionBy("et").orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val obsV = when(col("v").isNotNull, col("v"))
      val obsH = when(col("v").isNotNull, col("hi"))
      hours.crossJoin(broadcast(types))
        .join(hourly, col("h") === col("eh") && col("et") === col("event_type"),
          "left_outer")
        .withColumn("hi",
          expr("timestampdiff(HOUR, timestamp_ntz'2024-01-01 00:00:00', h)"))
        .withColumn("pv", last(obsV, ignoreNulls = true).over(wPrev))
        .withColumn("ph", last(obsH, ignoreNulls = true).over(wPrev))
        .withColumn("nv", first(obsV, ignoreNulls = true).over(wNext))
        .withColumn("nh", first(obsH, ignoreNulls = true).over(wNext))
        .select(col("h"), col("et"), round(col("v"), 6).as("v_raw"),
          round(when(col("v").isNotNull, col("v"))
            .when(col("ph").isNull, col("nv"))
            .when(col("nh").isNull, col("pv"))
            .otherwise(col("pv") + (col("nv") - col("pv")) *
              ((col("hi") - col("ph")) / (col("nh") - col("ph")))), 6)
            .as("v_interp"))
        .orderBy("h", "et")
    }),

    // C16: interval OVERLAP join via TWO-LEVEL (day + edge-hour) binning —
    // the scale-safe formulation of interval × interval (c9 covers point ×
    // bucket). User sessions (e8's gap-break derivation, parity already
    // proven against DuckDB) are joined to 30-minute "incident windows"
    // around a sampled set of error events, on overlap. Instead of the
    // O(|A|·|B|) theta join, each session emits its MINIMAL cover (full
    // days collapse to one day bin; only partial-day edges emit hour bins —
    // bounded fan-out even for days-long sessions, see IntervalCover),
    // incidents emit hour bins + their days, the join is an EQUI-join on
    // (kind, bin), duplicates collapse with DISTINCT, and the exact overlap
    // predicate runs as a residual filter — so the oracle is the plain
    // theta join and the binned plan must reproduce it row-for-row.
    "c16_join_interval_overlap" -> ((s, dir) => {
      val t = Tables(s, dir)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val sessions = t.events
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_s",
          when(col("prev_ts").isNull ||
            (unix_timestamp(col("ts").cast("timestamp")) -
              unix_timestamp(col("prev_ts").cast("timestamp"))) > 1800, 1).otherwise(0))
        .withColumn("session_id",
          sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(Tables.ntz(min(col("ts"))).as("s_start"), Tables.ntz(max(col("ts"))).as("s_end"))
      val incidents = t.events
        .filter(col("event_type") === "error" && col("event_id") % 100 === 0)
        .select(col("event_id").as("inc_id"), Tables.ntz(col("ts")).as("i_start"),
          Tables.ntz(col("ts") + expr("INTERVAL 30 MINUTES")).as("i_end"))
      val sB = IntervalCover.withBounds(sessions, "s_start", "s_end")
        .withColumn("bin", explode(IntervalCover.coverBins))
        .select(col("user_id"), col("session_id"), col("s_start"), col("s_end"), col("bin"))
      val iB = incidents
        .withColumn("bin", explode(IntervalCover.probeBins("i_start", "i_end")))
      sB.join(iB, "bin")
        .filter(col("s_start") <= col("i_end") && col("s_end") >= col("i_start"))
        .select(col("inc_id"), col("user_id"), col("session_id")).distinct()
        .groupBy(col("inc_id"))
        .agg(count(lit(1)).as("n_sessions"), countDistinct(col("user_id")).as("n_users"))
        .orderBy("inc_id")
    }),

    // C21: NEAREST-direction as-of join — c10 matches backward only; the
    // full as-of family (kdb aj / pandas merge_asof) also offers 'nearest':
    // each purchase takes whichever click is closest in time, before OR
    // after (|Δt| min, tie → backward). Same single-shuffle rewrite as c10
    // — one sorted window pass carries the last-before and first-after
    // click simultaneously (two frames over one sort), then a pure
    // projection picks the winner; no range join, no second shuffle. Exact
    // integer-µs deltas.
    "c21_join_asof_nearest" -> ((s, dir) => {
      val t = Tables(s, dir)
      val ord = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val wPrev = ord.rowsBetween(Window.unboundedPreceding, -1)
      val wNext = ord.rowsBetween(1, Window.unboundedFollowing)
      val isClick = col("event_type") === "click"
      t.events
        .withColumn("prev_click_ts",
          last(when(isClick, col("ts")), ignoreNulls = true).over(wPrev))
        .withColumn("next_click_ts",
          first(when(isClick, col("ts")), ignoreNulls = true).over(wNext))
        .filter(col("event_type") === "purchase")
        .withColumn("d_prev", expr(
          "unix_micros(CAST(ts AS TIMESTAMP)) - unix_micros(CAST(prev_click_ts AS TIMESTAMP))"))
        .withColumn("d_next", expr(
          "unix_micros(CAST(next_click_ts AS TIMESTAMP)) - unix_micros(CAST(ts AS TIMESTAMP))"))
        .withColumn("nearest_click_ts",
          when(col("prev_click_ts").isNull, col("next_click_ts"))
            .when(col("next_click_ts").isNull, col("prev_click_ts"))
            .when(col("d_prev") <= col("d_next"), col("prev_click_ts"))
            .otherwise(col("next_click_ts")))
        .withColumn("direction",
          when(col("prev_click_ts").isNull && col("next_click_ts").isNull,
            lit(null).cast("string"))
            .when(col("next_click_ts").isNull, lit("backward"))
            .when(col("prev_click_ts").isNull, lit("forward"))
            .when(col("d_prev") <= col("d_next"), lit("backward"))
            .otherwise(lit("forward")))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("nearest_click_ts"), col("direction"))
        .orderBy("event_id")
    }),

    // C11: small cartesian product.
    "c11_join_cross" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.nation.crossJoin(t.region)
        .select(col("n_nationkey"), col("r_regionkey"), col("n_name"), col("r_name"))
        .orderBy("n_nationkey", "r_regionkey")
    }),

    // C14: salted skew join — the join-side twin of d9's salted aggregation.
    // A hot build key at 100 TB puts one reducer under the whole key; here
    // the dim side is replicated across 8 salts and the fact side hashes
    // into them, so the hot key's rows spread over 8 reducers. Result is
    // EXACTLY the plain join (the oracle), the salt only reshapes the shuffle.
    "c14_join_salted_skew" -> ((s, dir) => {
      val t = Tables(s, dir)
      val salts = 8
      val ev = t.events
        // xxhash64 never returns NULL (null inputs hash to the seed), so the
        // salt is total — every row lands in a real bucket
        .withColumn("salt", pmod(xxhash64(col("event_id")), lit(salts)))
      val cust = t.customer.select(col("c_custkey"), col("c_mktsegment"))
        .withColumn("salt", explode(array((0 until salts).map(i => lit(i)): _*)))
      ev.join(cust, ev("user_id") === cust("c_custkey") && ev("salt") === cust("salt"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), Tables.dsum(col("value")).as("val_sum"))
        .orderBy("c_mktsegment")
    }),

    // C17: runtime Bloom-filter join pruning — Catalyst's InjectRuntimeFilter
    // builds a Bloom filter over the SELECTIVE side's join keys and pushes a
    // might_contain probe into the large side's scan, so at 100 TB the fact
    // table drops non-matching rows BEFORE the shuffle (a semi-join reduction
    // the optimizer derives, not hand-written). Local fixtures are far below
    // the default 10 GB application-side threshold, so the query is built on
    // the caller and planned on a clone of its session (Tables.confSession —
    // own conf, shared context) with the threshold floored and broadcast
    // disabled; on a real cluster the default thresholds trigger by
    // themselves. PlanSpec asserts the injected might_contain/bloom
    // aggregate is actually in the executed plan.
    "c17_join_bloom_runtime" -> ((s, dir) => {
      val t = Tables(s, dir)
      val sel = t.orders.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderdate"))
      val q = t.lineitem.join(sel, col("l_orderkey") === col("o_orderkey"))
        .groupBy(year(col("o_orderdate")).as("yr"))
        .agg(count(lit(1)).as("n_items"), Tables.dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("yr")
      Tables.rehome(Tables.confSession(s,
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1"), q)
    }),

    // C18: as-of join with tolerance — each purchase matched to the same
    // user's most recent STRICTLY-PRIOR click, but only when the gap is
    // within 1 hour (pandas merge_asof(tolerance=...) / kdb wj semantics).
    // Single window pass over the union of both event kinds — one shuffle on
    // user_id, no self-join — so it scales exactly like C10: ts-ascending
    // max-carry-forward is frame-monotonic, and AQE splits any hot user.
    "c18_join_asof_tolerance" -> ((s, dir) => {
      val t = Tables(s, dir)
      val ev = t.events
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val tolUs = 3600000000L // 1 hour in µs
      ev.withColumn("last_click",
          max(when(col("event_type") === "click", col("ts"))).over(w))
        .filter(col("event_type") === "purchase")
        .withColumn("gap_us", expr(
          "unix_micros(CAST(ts AS TIMESTAMP)) - unix_micros(CAST(last_click AS TIMESTAMP))"))
        .select(col("event_id"), col("user_id"),
          when(col("gap_us") <= tolUs, Tables.ntz(col("last_click"))).as("matched_click"),
          when(col("gap_us") <= tolUs, col("gap_us")).as("gap_us"))
        .orderBy("event_id")
    }),

    // C19: NULL-SAFE equality join (<=>, SQL's IS NOT DISTINCT FROM) — the
    // join a plain `=` silently breaks: NULL keys never match themselves,
    // so rows with an absent dimension value vanish from an equi-join.
    // Spark plans EqualNullSafe as a first-class hash-join key (null is
    // just another bucket), not a degraded theta join — asserted here by
    // joining two aggregates whose key is NULLed for one segment and
    // requiring the NULL group to carry through. Both sides pre-aggregate
    // before the join (k-row inputs, broadcast) — the at-scale shape for a
    // reconciliation join on a nullable key.
    "c19_join_nullsafe" -> ((s, dir) => {
      val t = Tables(s, dir)
      val seg = expr("nullif(c_mktsegment, 'BUILDING')")
      val l = t.customer.groupBy(seg.as("seg"))
        .agg(count(lit(1)).as("n_cust"))
      val r = t.orders.join(t.customer, col("o_custkey") === col("c_custkey"))
        .groupBy(seg.as("seg2"))
        .agg(floor(sum(col("o_totalprice").cast(Tables.dec))).cast("long").as("revenue"))
      l.join(broadcast(r), col("seg") <=> col("seg2"), "left")
        .select(col("seg"), col("n_cust"), col("revenue"))
        .orderBy(col("seg").asc_nulls_first)
    }),

    // C20: DYNAMIC PARTITION PRUNING — the 100 TB scan lever static pruning
    // (a6) can't reach: the partition predicate is not in the query text, it
    // arrives at RUNTIME from a filter on the dimension side. Setup (once per
    // sfDir, like a6): orders laid out partitioned by order year, plus a tiny
    // year dim carrying an `era` attribute. The query filters the DIM
    // (era = 'recent'); Catalyst's PartitionPruning rule turns the join into
    // a dynamicpruning#N subquery on the fact scan's partition column —
    // reusing the dim's broadcast exchange, so the pruning values cost
    // nothing extra — and only the 3 matching year partitions are ever
    // opened. At 100 TB with daily partitions this is the difference between
    // scanning 7 years and scanning what the dim says matters. PlanSpec
    // asserts `dynamicpruning` is in the fact scan's PartitionFilters.
    // Oracle: the equivalent static year predicate (the dim joins on its
    // distinct key, so the inner join duplicates nothing).
    "c20_join_dpp" -> ((s, dir) => {
      val t = Tables(s, dir)
      val factPath = Tables.scratch("orders_byyear", dir)
      val dimPath = Tables.scratch("year_dim", dir)
      if (!new java.io.File(s"$factPath/_SUCCESS").exists()) {
        t.orders.withColumn("o_year", year(col("o_orderdate")))
          .write.mode("overwrite").partitionBy("o_year").parquet(factPath)
      }
      if (!new java.io.File(s"$dimPath/_SUCCESS").exists()) {
        t.orders.select(year(col("o_orderdate")).as("d_year")).distinct()
          .withColumn("era",
            when(col("d_year") >= 1999, lit("recent")).otherwise(lit("archive")))
          .coalesce(1).write.mode("overwrite").parquet(dimPath)
      }
      val fact = s.read.parquet(factPath)
      val dim = s.read.parquet(dimPath).filter(col("era") === "recent")
      fact.join(dim, col("o_year") === col("d_year"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), Tables.dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderpriority")
    }),

    // C22: COST-BASED JOIN REORDER — the one Catalyst capability SURVEY §4's
    // 100 TB story cites ("ANALYZE once per load, let CBO pick the join
    // tree"): the query is WRITTEN in the worst order — the two big tables
    // joined first, the selective filtered dimension last — and
    // CostBasedJoinReorder must rewrite it to join the filtered dimension
    // first, driven ONLY by the ANALYZE statistics (row counts + column
    // NDVs), not the query text. Runs on a clone of the session
    // (Tables.confSession — own CBO flags, shared catalog) against catalog
    // tables analyzed once per fixture; PlanSpec pins that the optimized
    // innermost join is customer ⋈ nation under CBO and the syntactic pair without it. The
    // answer must equal the raw-parquet join regardless of order — that is
    // the oracle, making the reorder answer-preserving by construction.
    "c22_join_cbo_reorder" -> ((s, dir) => {
      val cbo = Tables.confSession(s, "spark.sql.cbo.enabled" -> "true",
        "spark.sql.cbo.joinReorder.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      cbo.sql(c22Sql(c22Tables(cbo, dir)))
    })
  )

  /** c22's catalog tables + column statistics, created/analyzed once per
    * JVM and fixture. EXTERNAL tables over the fixture parquet — no data
    * copy at any scale (production tables ARE external locations) — and
    * ANALYZE restricted to the columns the reorder decision reads (join
    * keys + the filter column): the once-per-load cost the at-scale story
    * budgets for, priced as stats passes, not table rewrites. Shared with
    * PlanSpec's reorder pin. */
  def c22Tables(s: org.apache.spark.sql.SparkSession, dir: String): Map[String, String] = {
    val key = Tables.pathKey(dir)
    val names = Map("orders" -> s"cbo22_orders_$key",
      "customer" -> s"cbo22_customer_$key", "nation" -> s"cbo22_nation_$key")
    if (!s.catalog.tableExists(names("nation"))) {
      val statCols = Map(
        "orders" -> "o_custkey",
        "customer" -> "c_custkey, c_nationkey",
        "nation" -> "n_nationkey, n_name")
      Seq("orders", "customer", "nation").foreach { k =>
        s.sql(s"DROP TABLE IF EXISTS ${names(k)}")
        s.catalog.createTable(names(k), s"$dir/$k.parquet", "parquet")
        s.sql(s"ANALYZE TABLE ${names(k)} COMPUTE STATISTICS " +
          s"FOR COLUMNS ${statCols(k)}")
      }
    }
    names
  }

  /** The deliberately pessimal join order: orders ⋈ customer first, the
    * filtered 25-row nation last. */
  def c22Sql(names: Map[String, String]): String =
    s"""SELECT o_orderstatus, count(*) AS n_orders,
       |round(CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE), 6) AS revenue
       |FROM ${names("orders")} o
       |JOIN ${names("customer")} c ON o.o_custkey = c.c_custkey
       |JOIN ${names("nation")} n ON c.c_nationkey = n.n_nationkey
       |WHERE n.n_name = 'NATION_7'
       |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  val oracles: Seq[(String, String)] = Seq(
    // reorder must be answer-preserving: the oracle is the same join over
    // the raw parquet in any order
    "c22_join_cbo_reorder" ->
      ("SELECT o_orderstatus, count(*) AS n_orders, " +
        "round(CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE), 6) AS revenue " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "WHERE n_name = 'NATION_7' GROUP BY 1 ORDER BY o_orderstatus"),

    "c1_join_broadcast" ->
      (s"SELECT c_nationkey, count(*) AS n_orders, ${Tables.dsumSql("o_totalprice")} AS total " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY c_nationkey ORDER BY c_nationkey"),

    "c2_join_shuffle_hash" ->
      (s"SELECT o_orderpriority, count(*) AS n_items, ${Tables.dsumSql("l_extendedprice")} AS sum_price " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),

    "c3_join_sort_merge" ->
      (s"SELECT o_orderstatus, l_linestatus, count(*) AS n_items, ${Tables.dsumSql("l_quantity")} AS sum_qty " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY o_orderstatus, l_linestatus ORDER BY o_orderstatus, l_linestatus"),

    "c4_join_5way_star" ->
      (s"SELECT r_name, n_name, count(*) AS n_items, " +
        s"${Tables.dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "GROUP BY r_name, n_name ORDER BY r_name, n_name"),

    "c5_join_outer" ->
      (s"SELECT c_custkey, c_name, count(o_orderkey) AS n_orders, " +
        s"COALESCE(${Tables.dsumSql("o_totalprice")}, 0.0) AS total " +
        "FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey " +
        "GROUP BY c_custkey, c_name ORDER BY c_custkey"),

    "c6_join_semi" ->
      ("SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders " +
        "WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 49.0) " +
        "ORDER BY o_orderkey"),

    "c7_join_anti" ->
      ("SELECT c_custkey, c_name FROM customer " +
        "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) " +
        "ORDER BY c_custkey"),

    "c8_join_theta" ->
      (s"SELECT band, count(*) AS n_orders, ${Tables.dsumSql("o_totalprice")} AS total " +
        "FROM orders JOIN (SELECT i AS band, i * 100000.0 AS lo, (i + 1) * 100000.0 AS hi " +
        "FROM range(0, 10) t(i)) b ON o_totalprice >= lo AND o_totalprice < hi " +
        "GROUP BY band ORDER BY band"),

    "c9_join_range" ->
      (s"SELECT h, count(*) AS n_events, ${Tables.dsumSql("value")} AS val_sum " +
        "FROM generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-31', INTERVAL 1 HOUR) t(h) " +
        "JOIN events ON date_trunc('hour', CAST(ts AS TIMESTAMP)) = h " +
        "GROUP BY h ORDER BY h"),

    "c10_join_asof" ->
      ("SELECT event_id, user_id, ts, prev_click_ts FROM (" +
        "SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, " +
        "last_value(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END IGNORE NULLS) " +
        "OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_click_ts " +
        "FROM events) WHERE event_type = 'purchase' ORDER BY event_id"),

    "c15_join_asof_native" ->
      ("SELECT event_id, user_id, ts, prev_click_ts FROM (" +
        "SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, " +
        "last_value(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END IGNORE NULLS) " +
        "OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_click_ts " +
        "FROM events) WHERE event_type = 'purchase' ORDER BY event_id"),

    "c21_join_asof_nearest" ->
      ("WITH e AS (SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events), " +
        "a AS (SELECT *, " +
        "last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS) " +
        "OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_click_ts, " +
        "first_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS) " +
        "OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_click_ts " +
        "FROM e), " +
        "d AS (SELECT *, epoch_us(ts) - epoch_us(prev_click_ts) AS d_prev, " +
        "epoch_us(next_click_ts) - epoch_us(ts) AS d_next FROM a WHERE event_type = 'purchase') " +
        "SELECT event_id, user_id, ts, " +
        "CASE WHEN prev_click_ts IS NULL THEN next_click_ts " +
        "WHEN next_click_ts IS NULL THEN prev_click_ts " +
        "WHEN d_prev <= d_next THEN prev_click_ts ELSE next_click_ts END AS nearest_click_ts, " +
        "CASE WHEN prev_click_ts IS NULL AND next_click_ts IS NULL THEN NULL " +
        "WHEN next_click_ts IS NULL THEN 'backward' " +
        "WHEN prev_click_ts IS NULL THEN 'forward' " +
        "WHEN d_prev <= d_next THEN 'backward' ELSE 'forward' END AS direction " +
        "FROM d ORDER BY event_id"),

    "c11_join_cross" ->
      ("SELECT n_nationkey, r_regionkey, n_name, r_name FROM nation CROSS JOIN region " +
        "ORDER BY n_nationkey, r_regionkey"),

    // oracle is the PLAIN theta overlap join over the same session
    // derivation (e8's CTE, parity already proven) — the binned equi-join
    // plan must reproduce it exactly
    "c16_join_interval_overlap" ->
      ("WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events), " +
        "l AS (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM e), " +
        "n AS (SELECT *, CASE WHEN prev_ts IS NULL OR date_diff('second', prev_ts, ts) > 1800 " +
        "THEN 1 ELSE 0 END AS new_s FROM l), " +
        "s AS (SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM n), " +
        "sess AS (SELECT user_id, session_id, min(ts) AS s_start, max(ts) AS s_end " +
        "FROM s GROUP BY user_id, session_id), " +
        "inc AS (SELECT event_id AS inc_id, CAST(ts AS TIMESTAMP) AS i_start, " +
        "CAST(ts AS TIMESTAMP) + INTERVAL 30 MINUTE AS i_end FROM events " +
        "WHERE event_type = 'error' AND event_id % 100 = 0) " +
        "SELECT inc_id, count(*) AS n_sessions, count(DISTINCT user_id) AS n_users " +
        "FROM inc JOIN sess ON s_start <= i_end AND s_end >= i_start " +
        "GROUP BY inc_id ORDER BY inc_id"),

    "c13_gapfill_forward" ->
      (s"WITH hourly AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS eh, event_type, " +
        s"${Tables.dsumSql("value")} AS v FROM events GROUP BY 1, 2), " +
        "spine AS (SELECT h, et FROM generate_series(TIMESTAMP '2024-01-01', " +
        "TIMESTAMP '2024-01-03 23:00:00', INTERVAL 1 HOUR) t(h) " +
        "CROSS JOIN (SELECT DISTINCT event_type AS et FROM events)) " +
        "SELECT h, et, round(v, 6) AS v_raw, " +
        "round(last_value(v IGNORE NULLS) OVER (PARTITION BY et ORDER BY h " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS v_filled " +
        "FROM spine LEFT OUTER JOIN hourly ON h = eh AND et = event_type " +
        "ORDER BY h, et"),

    "c13b_gapfill_interp" ->
      (s"WITH hourly AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS eh, event_type, " +
        s"${Tables.dsumSql("value")} AS v FROM events GROUP BY 1, 2), " +
        "spine AS (SELECT h, et FROM generate_series(TIMESTAMP '2024-01-01', " +
        "TIMESTAMP '2024-01-03 23:00:00', INTERVAL 1 HOUR) t(h) " +
        "CROSS JOIN (SELECT DISTINCT event_type AS et FROM events)), " +
        "j AS (SELECT h, et, v, date_diff('hour', TIMESTAMP '2024-01-01', h) AS hi " +
        "FROM spine LEFT JOIN hourly ON h = eh AND et = event_type), " +
        "w AS (SELECT h, et, v, hi, " +
        "last_value(CASE WHEN v IS NOT NULL THEN v END IGNORE NULLS) OVER wp AS pv, " +
        "last_value(CASE WHEN v IS NOT NULL THEN hi END IGNORE NULLS) OVER wp AS ph, " +
        "first_value(CASE WHEN v IS NOT NULL THEN v END IGNORE NULLS) OVER wn AS nv, " +
        "first_value(CASE WHEN v IS NOT NULL THEN hi END IGNORE NULLS) OVER wn AS nh " +
        "FROM j WINDOW " +
        "wp AS (PARTITION BY et ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), " +
        "wn AS (PARTITION BY et ORDER BY h ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) " +
        "SELECT h, et, round(v, 6) AS v_raw, " +
        "round(CASE WHEN v IS NOT NULL THEN v " +
        "WHEN ph IS NULL THEN nv WHEN nh IS NULL THEN pv " +
        "ELSE pv + (nv - pv) * ((hi - ph) / (nh - ph)) END, 6) AS v_interp " +
        "FROM w ORDER BY h, et"),

    "c12_join_bucketed" ->
      (s"SELECT o_orderpriority, count(*) AS n_items, " +
        s"${Tables.dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),

    // c14: the salt only reshapes the shuffle — the plain join is the oracle.
    "c14_join_salted_skew" ->
      (s"SELECT c_mktsegment, count(*) AS n, ${Tables.dsumSql("value")} AS val_sum " +
        "FROM events JOIN customer ON user_id = c_custkey " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment"),

    // c17: the runtime Bloom filter only prunes — the plain join is the oracle.
    "c17_join_bloom_runtime" ->
      (s"SELECT year(o_orderdate) AS yr, count(*) AS n_items, " +
        s"${Tables.dsumSql("l_extendedprice")} AS sum_price " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE o_orderpriority = '1-URGENT' GROUP BY 1 ORDER BY yr"),

    "c18_join_asof_tolerance" ->
      ("WITH ev AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type " +
        "FROM events WHERE event_type IN ('click', 'purchase')), " +
        "w AS (SELECT *, max(CASE WHEN event_type = 'click' THEN ts END) " +
        "OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click FROM ev) " +
        "SELECT event_id, user_id, " +
        "CASE WHEN epoch_us(ts) - epoch_us(last_click) <= 3600000000 THEN last_click END AS matched_click, " +
        "CASE WHEN epoch_us(ts) - epoch_us(last_click) <= 3600000000 " +
        "THEN epoch_us(ts) - epoch_us(last_click) END AS gap_us " +
        "FROM w WHERE event_type = 'purchase' ORDER BY event_id"),

    "c19_join_nullsafe" ->
      ("WITH l AS (SELECT nullif(c_mktsegment, 'BUILDING') AS seg, count(*) AS n_cust " +
        "FROM customer GROUP BY 1), " +
        "r AS (SELECT nullif(c_mktsegment, 'BUILDING') AS seg2, " +
        "CAST(floor(sum(CAST(o_totalprice AS DECIMAL(27,6)))) AS BIGINT) AS revenue " +
        "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1) " +
        "SELECT l.seg, l.n_cust, r.revenue FROM l " +
        "LEFT JOIN r ON l.seg IS NOT DISTINCT FROM r.seg2 " +
        "ORDER BY seg NULLS FIRST"),

    "c20_join_dpp" ->
      ("SELECT o_orderpriority, count(*) AS n_orders, " +
        s"${Tables.dsumSql("o_totalprice")} AS total " +
        "FROM orders WHERE year(CAST(o_orderdate AS TIMESTAMP)) >= 1999 " +
        "GROUP BY 1 ORDER BY o_orderpriority")
  )
}
