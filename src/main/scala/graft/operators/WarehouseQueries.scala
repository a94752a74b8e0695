package graft.operators

import graft.{QueryModule, Tables}
import graft.sources.{BloomIndex, DeletionVectors, EvoField, SnapshotTable, ZoneMap}
import org.apache.spark.sql.functions._

/** Warehouse-maintenance operators (SURVEY §2 M band, round 10): the table
  * lifecycle a production deployment runs AROUND its queries — dimension
  * history (SCD2 CDC merge), incremental materialized-view maintenance, and
  * zone-map data skipping. Each is oracle-backed: the maintenance result
  * must equal what a from-scratch batch computation produces.
  *
  * Scale notes (100 TB):
  *  - m1: one key-join of the current dimension slice against the update
  *    batch (broadcast when the batch is small — the CDC norm) + a union;
  *    no window, no global sort. History rows untouched by the batch never
  *    move.
  *  - m2: the whole point — the 100 TB base table is NOT rescanned. Only
  *    the delta is aggregated, then merged with the persisted partials;
  *    decimal partial sums make merged == recomputed EXACTLY, which is what
  *    the oracle asserts.
  *  - m3: pruning cost is a metadata-table filter (one row per file); the
  *    benefit is data I/O that never happens. At 256 MB files a 100 TB
  *    table has ~400k stats rows — driver-safe by five orders of magnitude.
  */
object WarehouseQueries extends QueryModule {

  private def tsNtz(s: String) = lit(s).cast("timestamp_ntz")

  val queries: Seq[(String, QFn)] = Seq(
    // M1: SCD Type-2 merge — 1997+ order activity updates each customer's
    // balance (new value = that customer's max 1997+ order price, effective
    // at their latest order date). Changed customers get their opening row
    // closed and a new current row; everyone else keeps one open row.
    "m1_scd2_merge" -> ((s, dir) => {
      val t = Tables(s, dir)
      val base = t.customer.select(col("c_custkey"), col("c_acctbal"))
      val updates = t.orders
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
        .groupBy(col("o_custkey").as("c_custkey"))
        .agg(max(col("o_totalprice")).as("c_acctbal"),
          Tables.ntz(max(col("o_orderdate"))).as("eff"))
      Scd2.merge(base, updates, "c_custkey", Seq("c_acctbal"), "eff",
          openFrom = tsNtz("1992-01-01 00:00:00"),
          farFuture = tsNtz("9999-12-31 00:00:00"))
        .orderBy("c_custkey", "valid_from")
    }),

    // M2: incremental materialized-view maintenance — a monthly revenue MV
    // built from pre-cutoff partials is brought current by aggregating ONLY
    // the post-cutoff delta and merging partials (counts add, decimal sums
    // add, avg re-derives from the merged pair). The oracle recomputes the
    // view from scratch over the full table: merged == recomputed, exactly.
    "m2_mv_incremental" -> ((s, dir) => {
      val t = Tables(s, dir)
      val cutoff = lit("1997-07-01").cast("timestamp")
      def partials(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"))
          .agg(count(lit(1)).as("pn"), sum(col("o_totalprice").cast(Tables.dec)).as("psum"))
      val mv = partials(t.orders.filter(col("o_orderdate") < cutoff))
      val delta = partials(t.orders.filter(col("o_orderdate") >= cutoff))
      mv.unionByName(delta)
        .groupBy(col("yr"), col("mo"))
        .agg(sum(col("pn")).as("n_orders"), sum(col("psum")).as("tsum"))
        .select(col("yr"), col("mo"), col("n_orders"),
          floor(col("tsum")).cast("long").as("revenue"),
          round((col("tsum").cast("double") / col("n_orders")), 6).as("avg_price"))
        .orderBy("yr", "mo")
    }),

    // M3: zone-map data skipping — orders materialized range-clustered on
    // o_orderdate (8 files, disjoint date envelopes); a 6-month range query
    // opens only the overlapping files (pruning asserted in WarehouseSpec),
    // applies the residual predicate, and must produce exactly the
    // full-scan answer.
    "m3_zonemap_skip" -> ((s, dir) => {
      val t = Tables(s, dir)
      val zpath = Tables.scratch("zonemap_orders", dir)
      ZoneMap.writeClustered(t.orders, zpath, "o_orderdate", nFiles = 8)
      val lo = lit("1997-01-01 00:00:00").cast("timestamp")
      val hi = lit("1997-06-30 23:59:59").cast("timestamp")
      ZoneMap.prunedRead(s, zpath, "o_orderdate", lo, hi)
        .groupBy(month(col("o_orderdate")).as("mo"))
        .agg(count(lit(1)).as("n_orders"),
          Tables.dsum(col("o_totalprice")).as("rev_d"))
        .select(col("mo"), col("n_orders"), round(col("rev_d"), 6).as("revenue"))
        .orderBy("mo")
    }),

    // M4: data-quality audit — the constraint checks an ingest pipeline
    // gates on, one row per rule. Each rule is a single-pass conditional
    // count (one scan per table, map-side combined to one row per task);
    // the FK-orphan rules are anti joins. Rules that SHOULD find nothing
    // report 0 — the audit asserting cleanliness is itself the product.
    "m4_data_quality_audit" -> ((s, dir) => {
      val t = Tables(s, dir)
      val liRules = t.lineitem.agg(
        sum(when(col("l_quantity") <= 0, 1L).otherwise(0L)).as("nonpositive_quantity"),
        sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1L).otherwise(0L))
          .as("discount_out_of_range"),
        sum(when(col("l_discount") > 0.05, 1L).otherwise(0L)).as("discount_above_5pct"))
      val ordRules = t.orders.agg(
        sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("nonpositive_totalprice"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("null_custkey"))
      val orphanOrders = t.orders.join(t.customer,
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("n"))
      val shipBeforeOrder = t.lineitem
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .agg(sum(when(col("l_shipdate") < col("o_orderdate"), 1L).otherwise(0L)).as("n"))
      val unpivoted = liRules.select(explode(map(
          lit("nonpositive_quantity"), col("nonpositive_quantity"),
          lit("discount_out_of_range"), col("discount_out_of_range"),
          lit("discount_above_5pct"), col("discount_above_5pct"))))
        .toDF("rule", "n_violations")
        .unionByName(ordRules.select(explode(map(
            lit("nonpositive_totalprice"), col("nonpositive_totalprice"),
            lit("null_custkey"), col("null_custkey"))))
          .toDF("rule", "n_violations"))
        .unionByName(orphanOrders.select(lit("orphan_orders").as("rule"),
          col("n").as("n_violations")))
        .unionByName(shipBeforeOrder.select(lit("ship_before_order").as("rule"),
          col("n").as("n_violations")))
      unpivoted.orderBy("rule")
    }),

    // M6: ATOMIC snapshot commit — the transactional-table layer under the
    // rest of the warehouse band (sources/SnapshotTable.scala): v1 is
    // committed, a CDC batch MERGEs against the CURRENT snapshot (not the
    // source table) into v2, and the result reads BOTH versions back
    // through their manifests — the latest plus a time-travel read of v1.
    // Readers can never observe a torn state: visibility is one atomic
    // pointer rename after all files + manifest exist (crash-between-
    // prepare-and-swap proven in WarehouseSpec). The oracle replays both
    // versions relationally from the source table.
    "m6_snapshot_commit" -> ((s, dir) => {
      val root = Tables.scratch("snap", dir)
      Tables.rmrf(root) // fresh table: commits replay deterministically
      val t = Tables(s, dir)
      val v1 = t.orders.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      SnapshotTable.commit(v1, root)
      val cur = SnapshotTable.read(s, root)
      val upd = cur.filter(col("o_orderkey") % 14 === 0)
        .select(col("o_orderkey"), (col("o_totalprice") * 2).as("o_totalprice"))
      val v2 = cur.join(upd.select(col("o_orderkey").as("uk")),
          col("o_orderkey") === col("uk"), "left_anti")
        .unionByName(upd)
      SnapshotTable.commit(v2, root)
      def summarize(df: org.apache.spark.sql.DataFrame, v: Int) =
        df.agg(count(lit(1)).as("n_rows"), Tables.dsum(col("o_totalprice")).as("rev"))
          .select(lit(v).as("version"), col("n_rows"), round(col("rev"), 6).as("revenue"))
      summarize(SnapshotTable.read(s, root, 1), 1)
        .unionByName(summarize(SnapshotTable.read(s, root, 2), 2))
        .orderBy("version")
    }),

    // M8: APPEND-mode ingestion on the snapshot table — the O(delta) write
    // path a 100 TB table lives on: each batch writes ONLY its own files
    // and the new manifest chains the previous one's, so three daily loads
    // cost three delta writes + three pointer swaps, never a rewrite.
    // Every version stays time-travel readable through its manifest
    // (v1 ⊂ v2 ⊂ v3 by construction), and [[SnapshotTable.expire]]'s
    // reference-counted vacuum is what makes appends safe to clean up
    // (proved in WarehouseSpec). The oracle replays the three cumulative
    // slices relationally.
    "m8_snapshot_append" -> ((s, dir) => {
      val root = Tables.scratch("m8a", dir)
      Tables.rmrf(root)
      val t = Tables(s, dir)
      def slice(r: Int) = t.orders.filter(col("o_orderkey") % 5 === r)
        .select(col("o_orderkey"), col("o_totalprice"))
      SnapshotTable.commit(slice(0), root)
      SnapshotTable.append(slice(1), root)
      SnapshotTable.append(slice(2), root)
      def summarize(df: org.apache.spark.sql.DataFrame, v: Int) =
        df.agg(count(lit(1)).as("n_rows"), Tables.dsum(col("o_totalprice")).as("rev"))
          .select(lit(v).as("version"), col("n_rows"), round(col("rev"), 6).as("revenue"))
      (1 to 3).map(v => summarize(SnapshotTable.read(s, root, v), v))
        .reduce(_ unionByName _).orderBy("version")
    }),

    // M9: snapshot COMPACTION — the maintenance op that keeps an
    // append-heavy table healthy: four append batches leave the table
    // fragmented across 32 small files (the classic small-file problem a
    // streaming/CDC ingest creates); compaction reads the current version,
    // rewrites the SAME rows into 2 large files, and commits that as the
    // next version — a pure metadata flip for readers, fully time-travel
    // preserving, with the superseded small files reclaimed later by the
    // reference-counted `expire` vacuum (file-count drop + post-vacuum
    // integrity proven in WarehouseSpec). Output summarizes the pre- and
    // post-compaction versions; identical numbers ARE the contract
    // (compaction must be content-invariant).
    "m9_snapshot_compact" -> ((s, dir) => {
      val root = Tables.scratch("m9", dir)
      Tables.rmrf(root)
      val t = Tables(s, dir)
      def slice(r: Int) = t.orders.filter(col("o_orderkey") % 8 === r)
        .select(col("o_orderkey"), col("o_totalprice"))
      SnapshotTable.commit(slice(0).repartition(8), root)
      (1 to 3).foreach(r => SnapshotTable.append(slice(r).repartition(8), root))
      SnapshotTable.commit(SnapshotTable.read(s, root).repartition(2), root,
        meta = "compact")
      def summarize(v: Long, tag: String) =
        SnapshotTable.read(s, root, v)
          .agg(count(lit(1)).as("n_rows"), Tables.dsum(col("o_totalprice")).as("rev"))
          .select(lit(tag).as("phase"), col("n_rows"), round(col("rev"), 6).as("revenue"))
      summarize(4, "pre").unionByName(summarize(5, "post")).orderBy("phase")
    }),

    // M7: MERGE INTO with the commit protocol — the general CDC merge m1/m2
    // specialize. A change feed (op = upsert | delete) applies to a
    // snapshot-committed target in ONE full-outer key join (MergeInto), and
    // the result commits as version 2; old versions then EXPIRE (vacuum),
    // exercising the full table lifecycle: commit -> merge -> commit ->
    // expire, with readers never able to observe a torn state. Feed
    // derivation: every %4 orderkey is a change row — %24 keys are DELETES,
    // the rest upsert a doubled price (matched %12 keys update, unmatched
    // insert). Output is a per-bucket summary of the final table.
    "m7_merge_into" -> ((s, dir) => {
      val root = Tables.scratch("m7", dir)
      Tables.rmrf(root)
      val t = Tables(s, dir)
      val target = t.orders.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      SnapshotTable.commit(target, root)
      val changes = t.orders.filter(col("o_orderkey") % 4 === 0)
        .select(col("o_orderkey"),
          (col("o_totalprice") * 2).as("o_totalprice"),
          when(col("o_orderkey") % 24 === 0, lit("delete"))
            .otherwise(lit("upsert")).as("op"))
      val merged = MergeInto.applyChanges(
        SnapshotTable.read(s, root), changes, "o_orderkey")
      SnapshotTable.commit(merged, root)
      val expired = SnapshotTable.expire(root, keepLast = 1)
      require(expired == Seq(1L), s"expected to expire v1, got $expired")
      SnapshotTable.read(s, root)
        .groupBy((col("o_orderkey") % 10).as("bucket"))
        .agg(count(lit(1)).as("n"), Tables.dsum(col("o_totalprice")).as("rev"))
        .select(col("bucket"), col("n"), round(col("rev"), 6).as("revenue"))
        .orderBy("bucket")
    }),

    // M5: snapshot diff — the CDC reconciliation between two versions of a
    // table (here: yesterday = orders except every 7th key; today = orders
    // except every 5th key, with every 3rd key's priority rewritten). One full outer join on the
    // key classifies every row as added / removed / changed / unchanged;
    // at scale both sides hash-shuffle once on the key and the classifier
    // is a narrow projection.
    "m5_snapshot_diff" -> ((s, dir) => {
      val t = Tables(s, dir)
      val a = t.orders.filter(col("o_orderkey") % 7 =!= 0)
        .select(col("o_orderkey").as("ak"), col("o_orderpriority").as("av"))
      val b = t.orders.filter(col("o_orderkey") % 5 =!= 0)
        .select(col("o_orderkey").as("bk"),
          when(col("o_orderkey") % 3 === 0, lit("9-REWRITTEN"))
            .otherwise(col("o_orderpriority")).as("bv"))
      a.join(b, col("ak") === col("bk"), "full_outer")
        .select(when(col("ak").isNull, "added")
          .when(col("bk").isNull, "removed")
          .when(col("av") =!= col("bv"), "changed")
          .otherwise("unchanged").as("kind"))
        .groupBy(col("kind")).agg(count(lit(1)).as("n"))
        .orderBy("kind")
    }),

    // M11: incremental maintenance of a JOIN view — m2's discipline lifted
    // to a join: the materialized view is orders ⋈ customer rolled up to
    // (segment, year). Bringing it current joins ONLY the post-cutoff
    // ORDER DELTA against the dimension (broadcast at CDC batch size) and
    // merges decimal partials — the 100 TB fact history is never rescanned
    // and never re-joined (the delta-join identity ΔV = ΔO ⋈ C holds
    // because only the fact side changed; a dim change would need the m1
    // SCD2 path instead). Merged == full recompute EXACTLY, which is what
    // the oracle asserts.
    "m11_mv_join_incremental" -> ((s, dir) => {
      val t = Tables(s, dir)
      val cutoff = lit("1997-07-01").cast("timestamp")
      def partials(o: org.apache.spark.sql.DataFrame) =
        o.join(t.customer, col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"), year(col("o_orderdate")).as("yr"))
          .agg(count(lit(1)).as("pn"), sum(col("o_totalprice").cast(Tables.dec)).as("psum"))
      val mv = partials(t.orders.filter(col("o_orderdate") < cutoff))
      val delta = partials(t.orders.filter(col("o_orderdate") >= cutoff))
      mv.unionByName(delta)
        .groupBy(col("c_mktsegment"), col("yr"))
        .agg(sum(col("pn")).as("n_orders"), sum(col("psum")).as("tsum"))
        .select(col("c_mktsegment"), col("yr"), col("n_orders"),
          floor(col("tsum")).cast("long").as("revenue"))
        .orderBy("c_mktsegment", "yr")
    }),

    // M10: file-level BLOOM-INDEX point-lookup skipping — the data-skipping
    // case zone maps cannot serve: orders laid out by o_orderkey (so
    // o_custkey is scattered and every file's min/max envelope on it spans
    // the domain), with an ~8 KiB Bloom blob per file on o_custkey. A
    // 3-customer point lookup probes the index (metadata scan, codegen
    // bloom_contains), opens ONLY the files that fire — no false negatives,
    // so never a wrong skip — and the exact residual filter removes false
    // positives. Must equal the full-scan answer; the actual file-count
    // drop is asserted in WarehouseSpec.
    "m10_bloom_index_lookup" -> ((s, dir) => {
      val t = Tables(s, dir)
      val bpath = Tables.scratch("bloomidx_orders", dir)
      BloomIndex.writeIndexed(t.orders, bpath, "o_custkey", "o_orderkey", nFiles = 16)
      BloomIndex.prunedRead(s, bpath, "o_custkey", Seq("1", "7", "25"))
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice").cast("double"), 6).as("totalprice"))
        .orderBy("o_orderkey")
    }),

    // M12: WRITE-AUDIT-PUBLISH — the two-phase ingestion gate a production
    // lake runs on Iceberg/Delta branches: a batch is STAGED as a full
    // snapshot version ([[SnapshotTable.prepare]] — data + manifest on
    // disk, invisible to readers), AUDITED by querying the staged version
    // through the ordinary read path, and only a passing audit gets the
    // atomic pointer swap ([[SnapshotTable.swap]]). A failing batch costs
    // nothing to reject — the pointer never moved, readers never saw it,
    // and the next prepare() re-stages the same version number over it.
    // Here: a corrupted batch (negative prices injected) is staged and
    // rejected by the audit; the clean batch then stages, passes, and
    // publishes as v2. The audit itself is a scan-shaped aggregate (zero
    // violations), not a collect — at 100 TB it costs one pass over the
    // STAGED DELTA files only if the table is append-committed (m8).
    "m12_write_audit_publish" -> ((s, dir) => {
      val root = Tables.scratch("wap", dir)
      Tables.rmrf(root) // fresh table: the WAP replay is deterministic
      val t = Tables(s, dir)
      val base = t.orders.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      SnapshotTable.commit(base, root)
      val batchKeys = col("o_orderkey") % 3 === 1
      val badBatch = t.orders.filter(batchKeys)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 30 === 1, -col("o_totalprice"))
            .otherwise(col("o_totalprice")).as("o_totalprice"))
      val goodBatch = t.orders.filter(batchKeys)
        .select(col("o_orderkey"), col("o_totalprice"))
      def audit(df: org.apache.spark.sql.DataFrame): Boolean =
        df.filter(col("o_totalprice") <= 0 || col("o_orderkey").isNull).count() == 0
      def stageAndAudit(batch: org.apache.spark.sql.DataFrame): (Long, Boolean) = {
        val v = SnapshotTable.prepare(base.unionByName(batch), root)
        val ok = audit(SnapshotTable.read(s, root, v))
        if (ok) SnapshotTable.swap(root, v)
        (v, ok)
      }
      val (vBad, badOk) = stageAndAudit(badBatch)
      val (vGood, goodOk) = stageAndAudit(goodBatch)
      def summarize(df: org.apache.spark.sql.DataFrame, step: String,
          passed: Boolean, publishedV: Long) =
        df.agg(count(lit(1)).as("n_rows"), Tables.dsum(col("o_totalprice")).as("rev"))
          .select(lit(step).as("step"), lit(if (passed) 1 else 0).as("audit_passed"),
            lit(publishedV).as("published_version"), col("n_rows"),
            round(col("rev"), 6).as("revenue"))
      val publishedNow = SnapshotTable.latestVersion(root).getOrElse(0L)
      // the bad staging was audited through the snapshot read path inside
      // stageAndAudit; its data dir is since re-staged over (same version
      // number), so its summary row uses the logical frame
      summarize(base, "baseline", passed = true, 1L)
        .unionByName(summarize(base.unionByName(badBatch), "bad_staged", badOk,
          if (badOk) vBad else 1L))
        .unionByName(summarize(SnapshotTable.read(s, root), "good_published",
          goodOk, publishedNow))
        .orderBy("step")
    }),

    // M13: PARTITION-SCOPED BACKFILL — late-arriving facts (orders whose
    // key ≡ 0 mod 11 arrive after the MV was built) invalidate only the
    // (year, month) partitions they touch. The repair job derives the
    // affected-partition set from the DELTA (tiny → broadcast), recomputes
    // JUST those partitions from the full fact — at 100 TB that scan is
    // partition-pruned to the affected months, not a table rescan — and
    // splices them over the stale MV rows with an anti-join. The spliced
    // view must equal the full recompute EXACTLY, which is what the oracle
    // asserts (`recomputed` marks which partitions took the repair path,
    // pinning that the split actually happened).
    "m13_partition_backfill" -> ((s, dir) => {
      val t = Tables(s, dir)
      val fact = t.orders.select(
        year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"),
        col("o_orderkey"), col("o_totalprice"))
      val late = col("o_orderkey") % 11 === 0
      def rollup(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("yr"), col("mo"))
          .agg(count(lit(1)).as("n_orders"),
            floor(sum(col("o_totalprice").cast(Tables.dec))).cast("long").as("revenue"))
      val mv = rollup(fact.filter(!late)) // built before the backfill landed
      val affected = fact.filter(late).select("yr", "mo").distinct()
      val repaired = rollup(fact.join(broadcast(affected), Seq("yr", "mo")))
        .withColumn("recomputed", lit(1))
      val kept = mv.join(broadcast(affected), Seq("yr", "mo"), "left_anti")
        .withColumn("recomputed", lit(0))
      kept.unionByName(repaired).orderBy("yr", "mo")
    }),

    // M14: TIME TRAVEL "AS OF" a LOGICAL timestamp — version-number reads
    // (m6) answer "what did v2 say"; users ask "what did the table say as
    // of Jan 2". Each commit carries its logical effective date in the
    // manifest metadata (committed through the same atomic pointer swap as
    // the data — see SnapshotTable.prepare); AS OF resolves to the highest
    // version whose date ≤ the probe by reading ONLY version metadata
    // (O(versions) tiny files, no data scan), then reads that version
    // through the ordinary manifest path. Wall-clock commit times would be
    // nondeterministic; logical dates are how real lakehouse tests pin
    // time travel too.
    "m14_time_travel_asof" -> ((s, dir) => {
      val root = Tables.scratch("asof", dir)
      Tables.rmrf(root)
      val t = Tables(s, dir)
      def slice(mod: Int) = t.orders.filter(col("o_orderkey") % mod === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      SnapshotTable.commit(slice(4), root, meta = "2024-01-01")
      SnapshotTable.commit(slice(2), root, meta = "2024-01-02")
      SnapshotTable.commit(slice(1), root, meta = "2024-01-03")
      def resolve(asOf: String): Long = {
        val latest = SnapshotTable.latestVersion(root).getOrElse(0L)
        (1L to latest).filter(v =>
          SnapshotTable.versionMeta(root, v).exists(_ <= asOf)).max
      }
      def probe(asOf: String) = {
        val v = resolve(asOf)
        SnapshotTable.read(s, root, v)
          .agg(count(lit(1)).as("n_rows"),
            floor(sum(col("o_totalprice").cast(Tables.dec))).cast("long").as("revenue"))
          .select(lit(asOf).as("as_of"), lit(v).as("version"),
            col("n_rows"), col("revenue"))
      }
      probe("2024-01-01").unionByName(probe("2024-01-02"))
        .unionByName(probe("2024-01-05"))
        .orderBy("as_of")
    }),

    // M15: AGGREGATE-MV MAINTENANCE UNDER RETRACTIONS — m2 merges
    // append-only deltas; a real CDC feed also DELETES. Every delta row
    // carries a multiplicity (+1 insert, −1 delete); maintenance aggregates
    // ONLY the delta into signed partials (Σmult, Σ mult·price — the price
    // is exact in double under ±1 multiply, then decimal-summed) and merges
    // them with the old MV's partials; a group whose merged count reaches 0
    // drops out. The historical facts are never rescanned — the delta
    // aggregation is the only data-scale work, the merge runs on |groups|
    // rows. Oracle: recompute the MV from scratch on the patched table;
    // merged == recomputed exactly (integer counts, decimal sums).
    // Delta here: inserts = the o_orderkey%10==0 slice (held out of the
    // base), deletes = the base's %7==0 slice.
    "m15_mv_retract" -> ((s, dir) => {
      val t = Tables(s, dir)
      val existing = t.orders.filter(col("o_orderkey") % 10 =!= 0)
      val mv = existing.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("pn"),
          sum(col("o_totalprice").cast(Tables.dec)).as("psum"))
      val inserts = t.orders.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderpriority"), col("o_totalprice"), lit(1L).as("mult"))
      val deletes = existing.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderpriority"), col("o_totalprice"), lit(-1L).as("mult"))
      val deltaPart = inserts.unionByName(deletes)
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("mult")).as("pn"),
          sum((col("o_totalprice") * col("mult")).cast(Tables.dec)).as("psum"))
      mv.unionByName(deltaPart)
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("pn")).as("n_orders"), sum(col("psum")).as("tsum"))
        .filter(col("n_orders") > 0)
        .select(col("o_orderpriority"), col("n_orders"),
          floor(col("tsum")).cast("long").as("revenue"))
        .orderBy("o_orderpriority")
    }),

    // M16: row-level DELETE via positional DELETION VECTORS (merge-on-read
    // — the Delta-DV / Iceberg-positional-delete shape, sources/
    // DeletionVectors.scala): the table commits ONCE, time-clustered on
    // o_orderdate (the warehouse norm). Two delete batches follow, neither
    // rewriting a data file: (1) a time-RETENTION delete (everything before
    // 1996) whose positions CONCENTRATE in the leading time-range files,
    // and (2) a GDPR-style key delete (o_custkey % 97) SCATTERED thinly
    // across every file. Each batch is one scan → per-file position bitmap
    // (BitmapSketchAgg over _metadata.row_index); batch 2 merges into
    // batch 1 by bitwise OR (order-independent), and the DV table itself is
    // version-committed through SnapshotTable. Reads anti-apply the DVs
    // with the codegen'd bitmap_contains probe under a broadcast of the
    // file-count-row DV table — no shuffle, no file rewrite. Finally the
    // PURGE maintenance pass rewrites ONLY files ≥50% deleted (the
    // retention band — exactly why retention-correlated layout matters)
    // and the scattered GDPR deletes stay merge-on-read. Oracle: the live
    // rows are plainly the predicate complement, whatever mix of DV and
    // rewrite serves them. WarehouseSpec asserts the mechanics: v1 data
    // files byte-identical across both delete commits, purge rewrote a
    // strict subset of files, DV'd read == plain filter row-for-row.
    "m16_deletion_vectors" -> ((s, dir) => {
      val root = Tables.scratch("m16", dir)
      Tables.rmrf(root)
      Tables.rmrf(s"${root}_dv")
      val t = Tables(s, dir)
      val target = t.orders.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderdate"), col("o_orderpriority"))
      SnapshotTable.commit(target.repartitionByRange(8, col("o_orderdate")), root)
      val data = SnapshotTable.read(s, root)
      // NOT root/_dv: Spark's file index hides any path with an
      // underscore-prefixed segment, even when listed explicitly
      val dvRoot = s"${root}_dv"
      val dv1 = DeletionVectors.build(data,
        col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      SnapshotTable.commit(dv1, dvRoot)
      val dv2 = DeletionVectors.build(data, col("o_custkey") % 97 === 0)
      SnapshotTable.commit(
        DeletionVectors.merge(SnapshotTable.read(s, dvRoot), dv2), dvRoot)
      val dvs = SnapshotTable.read(s, dvRoot)
      val allFiles = DeletionVectors.stats(data, dvs)
        .select(col("file")).collect().map(_.getString(0)).toSeq.sorted
      val hot = DeletionVectors.purgeCandidates(data, dvs, threshold = 0.5)
      // purge = ONE metadata-only commit: cold files carry over into v2's
      // manifest verbatim (zero bytes moved), hot files are replaced by
      // their DV-applied rewrites; v1 stays time-travelable. The DV table
      // keeps serving the cold files' scattered deletes — rewritten files
      // miss the DV join and pass through clean.
      val rel = (p: String) => new java.net.URI(p).getPath.stripPrefix(s"$root/")
      val cold = allFiles.filterNot(hot.toSet).map(rel)
      // a purge with nothing over threshold commits the carried files as-is
      if (hot.isEmpty) SnapshotTable.commitFiles(root, cold)
      else SnapshotTable.commitRewrite(
        DeletionVectors.applyTo(s.read.parquet(hot: _*), dvs), root, cold)
      val live = DeletionVectors.applyTo(SnapshotTable.read(s, root), dvs)
      live.groupBy((col("o_orderkey") % 10).as("bucket"))
        .agg(count(lit(1)).as("n"), Tables.dsum(col("o_totalprice")).as("rev"))
        .select(col("bucket"), col("n"), round(col("rev"), 6).as("revenue"))
        .orderBy("bucket")
    }),

    // M17: merge-on-read UPDATE — the second half of the deletion-vector
    // story (m16 is DELETE): an UPDATE that touches 0.1% of rows scattered
    // across a 100 TB table costs one DV write (mask the old row versions)
    // plus one APPEND of the updated rows as new files — never a data-file
    // rewrite. This is precisely how Delta/Iceberg execute merge-on-read
    // UPDATE/MERGE: position-delete the old copies, append the new ones,
    // let the reader reconcile. Here: 1996 orders get their price doubled.
    // One scan builds the DV (positions of the old 1996 rows), one append
    // commits the doubled rows (v2's manifest = v1's files + the delta
    // files — O(delta) I/O via SnapshotTable.append), and the read is the
    // uniform m16 path: appended files miss the DV join and pass through,
    // masked files drop. Oracle: CASE WHEN on the predicate. The update is
    // price*2 — integer-exact in double, the m7 discipline.
    "m17_dv_update" -> ((s, dir) => {
      val root = Tables.scratch("m17", dir)
      Tables.rmrf(root)
      Tables.rmrf(s"${root}_dv")
      val t = Tables(s, dir)
      val target = t.orders.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
      SnapshotTable.commit(target.repartitionByRange(8, col("o_orderdate")), root)
      val pred = year(col("o_orderdate")) === 1996
      val v1 = SnapshotTable.read(s, root)
      val dvRoot = s"${root}_dv"
      SnapshotTable.commit(DeletionVectors.build(v1, pred), dvRoot)
      SnapshotTable.append(
        v1.filter(pred).withColumn("o_totalprice", col("o_totalprice") * 2), root)
      val live = DeletionVectors.applyTo(
        SnapshotTable.read(s, root), SnapshotTable.read(s, dvRoot))
      live.groupBy((col("o_orderkey") % 10).as("bucket"))
        .agg(count(lit(1)).as("n"), Tables.dsum(col("o_totalprice")).as("rev"))
        .select(col("bucket"), col("n"), round(col("rev"), 6).as("revenue"))
        .orderBy("bucket")
    }),

    // M18: ADD-COLUMN SCHEMA EVOLUTION — the other table mutation a 100 TB
    // table cannot afford as a rewrite: v1 commits three columns, the
    // pipeline later starts producing a fourth (o_orderpriority), and the
    // append commits files WITH the new column while v1's files are never
    // touched. The evolved read (SnapshotTable.readEvolved — parquet
    // footer-union, one footer read per file) serves both generations as
    // one table, null-filling the pre-evolution rows, which is exactly the
    // Delta/Iceberg add-column contract. The query proves the null-fill is
    // observable: pre-evolution rows land in a '<pre-evolution>' bucket,
    // evolved rows group by their real priority. Oracle: CASE WHEN on the
    // generation predicate over the raw table.
    "m18_schema_evolution" -> ((s, dir) => {
      val root = Tables.scratch("m18", dir)
      Tables.rmrf(root)
      val t = Tables(s, dir)
      SnapshotTable.commit(
        t.orders.filter(col("o_orderkey") % 4 === 1)
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")),
        root)
      SnapshotTable.append(
        t.orders.filter(col("o_orderkey") % 4 === 2)
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
            col("o_orderpriority")),
        root)
      SnapshotTable.readEvolved(s, root)
        .groupBy(coalesce(col("o_orderpriority"), lit("<pre-evolution>")).as("prio"),
          col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), Tables.dsum(col("o_totalprice")).as("rev"))
        .select(col("prio"), col("o_orderstatus"), col("n"),
          round(col("rev"), 6).as("revenue"))
        .orderBy("prio", "o_orderstatus")
    }),

    // M19: RENAME / WIDEN / DROP schema evolution via manifest-recorded
    // COLUMN IDENTITY (Iceberg-style field ids, sources/SnapshotTable
    // commitEvo/appendEvo) — the evolution verbs m18's footer-union cannot
    // express, because a renamed column looks like drop+add without an id.
    // Four generations share one table: v1 writes (status STRING, price
    // INT, note STRING); v2 RENAMES status→order_status; v3 WIDENS price
    // INT→BIGINT; v4 DROPS note. No generation's files are ever rewritten
    // (WarehouseSpec pins v1's files byte-identical and their footers still
    // carrying the OLD physical name and int32 type) — SnapshotTable.read
    // sees the schema sidecar and maps every generation to the current
    // schema by field id.
    // Oracle: the logical content is generation-independent, so DuckDB
    // recomputes it straight from the raw table.
    "m19_schema_evo_rename_widen" -> ((s, dir) => {
      val root = Tables.scratch("m19", dir)
      Tables.rmrf(root)
      val t = Tables(s, dir)
      def gen(n: Int) = t.orders.filter(col("o_orderkey") % 4 === n)
      val key = EvoField(1, "o_orderkey", "bigint")
      val note = EvoField(4, "note", "string")
      SnapshotTable.commitEvo(
        gen(1).select(col("o_orderkey"), col("o_orderstatus").as("status"),
          floor(col("o_totalprice")).cast("int").as("price"),
          lit("legacy").as("note")),
        root, Seq(key, EvoField(2, "status", "string"),
          EvoField(3, "price", "int"), note))
      SnapshotTable.appendEvo(
        gen(2).select(col("o_orderkey"), col("o_orderstatus").as("order_status"),
          floor(col("o_totalprice")).cast("int").as("price"),
          lit("legacy").as("note")),
        root, Seq(key, EvoField(2, "order_status", "string"),
          EvoField(3, "price", "int"), note))
      SnapshotTable.appendEvo(
        gen(3).select(col("o_orderkey"), col("o_orderstatus").as("order_status"),
          floor(col("o_totalprice")).cast("bigint").as("price"),
          lit("legacy").as("note")),
        root, Seq(key, EvoField(2, "order_status", "string"),
          EvoField(3, "price", "bigint"), note))
      SnapshotTable.appendEvo(
        gen(0).select(col("o_orderkey"), col("o_orderstatus").as("order_status"),
          floor(col("o_totalprice")).cast("bigint").as("price")),
        root, Seq(key, EvoField(2, "order_status", "string"),
          EvoField(3, "price", "bigint")))
      SnapshotTable.read(s, root)
        .groupBy((col("o_orderkey") % 4).as("gen"), col("order_status"))
        .agg(count(lit(1)).as("n"), sum(col("price")).as("price_sum"))
        .orderBy("gen", "order_status")
    }),

    // M20: RETENTION VACUUM — the lifecycle close every frequently-committed
    // table needs: three append generations accumulate, a COMPACTION commit
    // (v4) rewrites the full content into fresh self-contained files, and
    // `SnapshotTable.expire(keepLast = 1)` vacuums everything older — the
    // reference-counted sweep deletes v1–v3's manifests AND their data files
    // (nothing retained references them once v4 is self-contained), while
    // the LATEST version is untouched: the post-vacuum read must equal the
    // pre-vacuum content exactly, which is what the oracle replays from the
    // raw table. The expired-version count rides along as a graded integer
    // (3 — deterministic from the declared commit sequence). At 100 TB this
    // is metadata-scale driver work: one `_snapshots/` walk plus unlinks
    // from the expiring manifests' file lists — no data read, and the
    // crash-order discipline (files before manifest, LATEST never eligible)
    // is proven in WarehouseSpec.
    "m20_snapshot_expire" -> ((s, dir) => {
      val root = Tables.scratch("m20", dir)
      Tables.rmrf(root)
      val t = Tables(s, dir)
      def slice(r: Int) = t.orders.filter(col("o_orderkey") % 3 === r)
        .select(col("o_orderkey"), col("o_totalprice"))
      SnapshotTable.commit(slice(0), root)
      SnapshotTable.append(slice(1), root)
      SnapshotTable.append(slice(2), root)
      // compaction: the full content rewritten as ONE self-contained file
      // set — the commit shape that makes ancestors vacuumable at all
      SnapshotTable.commit(
        SnapshotTable.read(s, root).repartitionByRange(4, col("o_orderkey")), root)
      val expired = SnapshotTable.expire(root, keepLast = 1)
      SnapshotTable.read(s, root)
        .groupBy((col("o_orderkey") % 10).as("bucket"))
        .agg(count(lit(1)).as("n"), Tables.dsum(col("o_totalprice")).as("rev"))
        .select(col("bucket"), col("n"), round(col("rev"), 6).as("revenue"),
          lit(expired.size).cast("int").as("n_expired"))
        .orderBy("bucket")
    }),

    // M21: WRITE-TIME EXPECTATIONS with ROW QUARANTINE — the row-level
    // data-quality gate (Delta Live Tables' `expect_or_quarantine`,
    // dbt-style tests enforced at ingest) that m4's read-side audit and
    // m12's table-level write-audit-publish both lack: each arriving row is
    // checked against an ORDERED rule list inside one codegen'd projection;
    // rows passing every rule commit to the table, violators land in a
    // quarantine table tagged with the FIRST failing rule (the order makes
    // the reason deterministic), and the graded result is the audit ledger
    // — per-rule quarantine counts (zero-count rules included, proving the
    // rule ran) plus the committed row count. Both sides are SnapshotTable
    // commits: the quarantine is queryable/replayable for repair jobs, not
    // a log line. WarehouseSpec pins conservation (committed + quarantined
    // == input) and that the committed table holds ZERO violating rows.
    // Scale shape at 100 TB: the rule CASE is a narrow scan-speed
    // projection; the two filtered writes are the standard DLT split (one
    // pass each, no shuffle — partitioned-by-validity single-pass write is
    // the variant when the input scan itself is the bottleneck).
    "m21_expectations_quarantine" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val root = Tables.scratch("m21", dir)
      Tables.rmrf(root)
      val t = Tables(s, dir)
      val src = t.lineitem.select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_discount"), col("l_tax"), col("l_returnflag"))
      // ordered rule list — first failing rule wins the reason; the last
      // rule never fires on this fixture, proving zero-count rules surface
      val reason = when(col("l_quantity") > 45, "quantity_gt_45")
        .when(col("l_discount") > 0.08, "discount_gt_8pct")
        .when(col("l_tax") > 0.07, "tax_gt_7pct")
        .when(!col("l_returnflag").isin("A", "N", "R"), "bad_returnflag")
      val tagged = src.withColumn("__reason", reason)
      SnapshotTable.commit(
        tagged.filter(col("__reason").isNull).drop("__reason"), s"$root/table")
      SnapshotTable.commit(
        tagged.filter(col("__reason").isNotNull), s"$root/quarantine")
      val committedN = SnapshotTable.read(s, s"$root/table").count()
      val rules = Seq("quantity_gt_45", "discount_gt_8pct", "tax_gt_7pct",
        "bad_returnflag").toDF("rule")
      val qCounts = SnapshotTable.read(s, s"$root/quarantine")
        .groupBy(col("__reason").as("rule")).agg(count(lit(1)).as("n"))
      rules.join(qCounts, Seq("rule"), "left")
        .select(col("rule"), coalesce(col("n"), lit(0L)).as("n_rows"))
        .unionByName(Seq(("committed", committedN)).toDF("rule", "n_rows"))
        .orderBy("rule")
    }),

    // M22: SHALLOW CLONE — zero-copy table branching (Delta CLONE, the
    // dev/test-against-prod-data primitive): the clone's first manifest
    // lists the source's current data files by ABSOLUTE path
    // (SnapshotTable.cloneFrom), so cloning a 100 TB table is O(manifest)
    // — no data is read or copied (WarehouseSpec pins that the clone root
    // holds no v1 data directory). Both tables then diverge independently:
    // an append lands on the clone, a different append on the source, and
    // neither sees the other's. The graded ledger reads all three
    // timelines — the diverged source, the diverged clone, and the
    // clone's time-traveled v1 (== the source at clone time) — each
    // re-derivable from the raw table by residue set. The clone's vacuum
    // never deletes foreign files (expire skips absolute entries —
    // WarehouseSpec proves the source survives an expire on the clone).
    "m22_shallow_clone" -> ((s, dir) => {
      val base = Tables.scratch("m22", dir)
      Tables.rmrf(base)
      val src = s"$base/src"
      val dst = s"$base/clone"
      val t = Tables(s, dir)
      def slice(r: Int) = t.orders.filter(col("o_orderkey") % 5 === r)
        .select(col("o_orderkey"), col("o_totalprice"))
      SnapshotTable.commit(slice(0), src)
      SnapshotTable.append(slice(1), src)
      val cv = SnapshotTable.cloneFrom(src, dst)
      // divergence: each side appends a different slice
      SnapshotTable.append(slice(2), dst)
      SnapshotTable.append(slice(3), src)
      def ledger(df: org.apache.spark.sql.DataFrame, tag: String) =
        df.agg(count(lit(1)).as("n_rows"),
            round(Tables.dsum(col("o_totalprice")), 6).as("revenue"))
          .select(lit(tag).as("side"), col("n_rows"), col("revenue"))
      ledger(SnapshotTable.read(s, src), "source")
        .unionByName(ledger(SnapshotTable.read(s, dst), "clone"))
        .unionByName(ledger(SnapshotTable.read(s, dst, cv), "clone_v1"))
        .orderBy("side")
    }),

    // M23: CONCURRENT WRITERS under OPTIMISTIC CONCURRENCY — the
    // multi-writer ACID story (Delta/Iceberg's commit-conflict loop) run as
    // a graded scenario: writers A and B both read v1 and race; exactly one
    // wins the version-slot reservation (filesystem exclusive-create — an
    // object store's If-None-Match put), the loser fails BEFORE writing any
    // data, REBASES on the winner's snapshot, and retries; a writer that
    // crashed between reserve and swap leaves a stale reservation that
    // blocks the slot until recovery releases it. The graded ledger derives
    // every outcome from ACTUAL execution (the exception is caught, the
    // release list is read back) — nothing is hard-coded — and carries the
    // table's (count, revenue) state after each step, so the oracle verifies
    // no lost update end-to-end: A's and B's rows BOTH land despite the
    // race. At 100 TB the protocol cost is the same one reservation + one
    // pointer swap per commit; conflict detection never reads data.
    "m23_concurrent_writers" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val root = Tables.scratch("m23", dir)
      Tables.rmrf(root)
      val t = Tables(s, dir)
      def slice(r: Int) = t.orders.filter(col("o_orderkey") % 4 === r)
        .select(col("o_orderkey"), col("o_totalprice"))
      def state(): (Long, Long) = {
        val r = SnapshotTable.read(s, root)
          .agg(count(lit(1)),
            floor(Tables.dsum(col("o_totalprice"))).cast("long")).head()
        (r.getLong(0), r.getLong(1))
      }
      SnapshotTable.commit(slice(0), root) // v1 — the snapshot both read
      // writer A wins the race from base v1
      val vA = SnapshotTable.commitIfUnchanged(
        SnapshotTable.read(s, root).unionByName(slice(1)), root, 1L)
      val (n2, r2) = state()
      // writer B raced from the SAME base: the reservation CAS rejects it
      // before any data write — the caught exception is the ledger entry
      val bOutcome =
        try {
          SnapshotTable.commitIfUnchanged(slice(2), root, 1L); "committed"
        } catch {
          case _: java.util.ConcurrentModificationException => "conflict"
        }
      // B rebases: re-reads the winner's snapshot, reapplies its change
      val vB = SnapshotTable.commitIfUnchanged(
        SnapshotTable.read(s, root).unionByName(slice(2)), root, vA)
      val (n3, r3) = state()
      // a writer crashed between reserve and swap: its stale reservation
      // blocks slot v4 until recovery releases it
      java.nio.file.Files.createFile(
        java.nio.file.Paths.get(root, "_snapshots", s"v${vB + 1}.reserved")) // graded crash debris
      val cBlocked =
        try {
          SnapshotTable.commitIfUnchanged(slice(3), root, vB); "committed"
        } catch {
          case _: java.util.ConcurrentModificationException => "blocked_stale"
        }
      val released = SnapshotTable.releaseStaleReservation(root)
      val vC = SnapshotTable.commitIfUnchanged(
        SnapshotTable.read(s, root).unionByName(slice(3)), root, vB)
      val (n4, r4) = state()
      Seq(
        (1, "A", 1L, "committed", vA, n2, r2),
        (2, "B", 1L, bOutcome, 0L, n2, r2),
        (3, "B", vA, "committed", vB, n3, r3),
        (4, "C", vB, cBlocked, 0L, n3, r3),
        (5, "recovery", vB, "released", released.headOption.getOrElse(0L), n3, r3),
        (6, "C", vB, "committed", vC, n4, r4))
        .toDF("step", "actor", "base", "outcome", "version", "n_rows", "revenue")
        .orderBy("step")
    }),

    // M24: ORPHAN-FILE SWEEP — the maintenance verb m20's expire cannot
    // cover: expire deletes what manifests STOP referencing; this deletes
    // what they NEVER referenced. The scenario plants both orphan kinds a
    // real table accrues — a task-retry part-file inside a committed
    // version's data dir (present on disk, absent from the authoritative
    // manifest file list) and a fully staged-but-never-swapped version from
    // a writer that died between prepare and swap — then sweeps. Graded:
    // the sweep's parquet/manifest counts (from the actual return list), a
    // second pass finding nothing (idempotence), and the table content
    // after the sweep, which must equal the committed snapshot exactly —
    // reads were never polluted (they resolve the manifest, not the
    // directory listing), so the sweep reclaims disk without touching a
    // live byte. WarehouseSpec additionally pins time travel to v1 across
    // the sweep. Metadata-scale at 100 TB: one snapshot-dir read + one
    // data-dir walk, no data bytes read.
    "m24_orphan_cleanup" -> ((s, dir) => {
      val root = Tables.scratch("m24", dir)
      Tables.rmrf(root)
      val t = Tables(s, dir)
      def slice(r: Int) = t.orders.filter(col("o_orderkey") % 3 === r)
        .select(col("o_orderkey"), col("o_totalprice"))
      SnapshotTable.commit(slice(0), root)
      SnapshotTable.append(slice(1), root) // LATEST = v2
      // orphan kind 1: task-retry debris — on disk, in no manifest
      java.nio.file.Files.write(
        java.nio.file.Paths.get(root, "data", "v1", "part-retry-debris.parquet"), // graded crash debris
        "not-a-real-parquet".getBytes("UTF-8"))
      // orphan kind 2: abandoned staging — prepared v3, writer died pre-swap
      SnapshotTable.prepare(slice(2).coalesce(1), root)
      val removed = SnapshotTable.removeOrphans(root)
      val second = SnapshotTable.removeOrphans(root)
      SnapshotTable.read(s, root)
        .groupBy((col("o_orderkey") % 10).as("bucket"))
        .agg(count(lit(1)).as("n"), Tables.dsum(col("o_totalprice")).as("rev"))
        .select(col("bucket"), col("n"), round(col("rev"), 6).as("revenue"),
          lit(removed.count(_.endsWith(".parquet"))).cast("int").as("n_orphan_parquet"),
          lit(removed.count(_.endsWith(".manifest"))).cast("int").as("n_staged_manifests"),
          lit(second.size).cast("int").as("n_second_pass"))
        .orderBy("bucket")
    }),

    // M26: SNAPSHOT ROLLBACK — the incident-response verb (Delta RESTORE,
    // Iceberg rollback_to_snapshot): a fat-fingered full-table overwrite
    // lands as v3, rollback re-commits v2's manifest as v4 — METADATA-ONLY
    // (zero data bytes move at any table size) and HISTORY-PRESERVING: the
    // bad v3 stays time-travelable for forensics, which is what separates
    // rollback from a destructive pointer reset. Graded: the post-rollback
    // content (== v2 exactly, re-derived by the oracle), the still-readable
    // bad version's row count, the new version number, and the audit note.
    "m26_snapshot_rollback" -> ((s, dir) => {
      val root = Tables.scratch("m26", dir)
      Tables.rmrf(root)
      val t = Tables(s, dir)
      def slice(r: Int) = t.orders.filter(col("o_orderkey") % 3 === r)
        .select(col("o_orderkey"), col("o_totalprice"))
      SnapshotTable.commit(slice(0), root)
      SnapshotTable.append(slice(1), root) // v2 — the good state
      // the incident: a full-table overwrite that silently dropped rows
      SnapshotTable.commit(slice(0).filter(col("o_orderkey") % 10 < 5), root)
      val nv = SnapshotTable.rollbackTo(root, 2L)
      val badRows = SnapshotTable.read(s, root, 3L).count()
      SnapshotTable.read(s, root)
        .groupBy((col("o_orderkey") % 10).as("bucket"))
        .agg(count(lit(1)).as("n"), Tables.dsum(col("o_totalprice")).as("rev"))
        .select(col("bucket"), col("n"), round(col("rev"), 6).as("revenue"),
          lit(nv).as("current_version"), lit(badRows).as("bad_version_rows"),
          lit(SnapshotTable.versionMeta(root, nv).getOrElse("")).as("audit"))
        .orderBy("bucket")
    }),

    // M27: MATERIALIZED-VIEW AUTOMATIC QUERY REWRITE — the extension-tier
    // warehouse capability Spark itself lacks (Hive MV rewrite): a custom
    // optimizer Rule (plans/MvRewrite.scala, injected by GraftExtensions,
    // conf-gated) redirects any aggregate that re-states a registered view
    // definition to the precomputed MV parquet — full fact scan + shuffle
    // becomes a metadata-sized read, invisible to the query author. This
    // query runs the whole loop: build the MV (with the rule OFF, so a
    // re-run can never rewrite the MV build into reading the path it is
    // overwriting), register the definition, enable the rule, and return
    // the re-issued dashboard query — whose ANSWER must be byte-identical
    // to computing from the facts (the oracle does exactly that), while
    // PlanSpec pins that the executed plan reads the MV path and that a
    // non-registered variant (an extra filter) still reads the facts. At
    // 100 TB this is the difference between a 60M-row shuffle per dashboard
    // refresh and an 84-row file read; freshness is the registrar's
    // contract (re-register on refresh — the m2/m11 incremental-MV
    // discipline supplies the versioned refresh).
    // The declared lambda materializes the served answer EAGERLY on a
    // flag-on clone of the session (`served`), so no declared query flips
    // optimizer state on the caller's session (the live rewritten plan
    // itself is pinned by PlanSpec against the m27Pipeline helper).
    "m27_mv_auto_rewrite" -> ((s, dir) => served(s, m27Pipeline(s, dir))),

    // M28: MV CONTAINMENT REWRITE — the second tier of m27's rule, the one
    // that makes a single MV serve a whole family of dashboards: the query
    // is COARSER than the registered view (yearly rollup vs the stored
    // (year, month) view), so instead of a plain scan swap the rule emits a
    // RE-AGGREGATION of the MV — count(1) re-sums the stored long counts,
    // sum(decimal) re-sums the stored exact-decimal partials (cast back to
    // the original width — lossless, the partial already fit). Only
    // LOSSLESS partials participate: a double sum or a rounded/floored
    // aggregate classifies Opaque and refuses containment (floating
    // re-aggregation reorders — answer preservation is the whole deal),
    // which is also what keeps the rule from ever hijacking the dsum-based
    // queries elsewhere in this suite (their trailing cast-to-double makes
    // them Opaque by construction). The 60M-row fact shuffle becomes an
    // 84-row re-aggregation; the oracle computes the yearly rollup from
    // the raw facts and the answers must hash-match.
    "m28_mv_containment" -> ((s, dir) => served(s, m28Pipeline(s, dir))),

    // M25: PARTITION-SPEC EVOLUTION — Iceberg's evolving hidden
    // partitioning, the layout verb m19's column-identity evolution
    // doesn't touch: the table starts partitioned by YEAR, later writers
    // switch the spec to (YEAR, MONTH), and NO existing byte moves — the
    // whole point at 100 TB, where a re-partition of history is a table
    // rewrite. Each generation's spec rides in its version metadata; the
    // read translates ONE data predicate (an o_orderdate range) to each
    // generation's partition columns — coarse year-level pruning on the
    // old layout, year+month pruning on the new — so both legs scan only
    // matching partition directories (PlanSpec pins PartitionFilters on
    // BOTH scans), then the row-level date filter tightens the edges. The
    // graded result is the monthly rollup over the range, re-derived by
    // the oracle from the raw table: spec evolution must never change an
    // answer, only the scan cost.
    "m25_partition_evolution" -> ((s, dir) => {
      val root = Tables.scratch("m25", dir)
      // the two-generation layout is SETUP, not the graded operator (the
      // spec-translated read is) — build it once per fixture, fingerprint-
      // guarded like a6/c20's layouts, instead of rewriting per invocation
      Tables.staged(root, Tables.stamp(s"$dir/orders.parquet")) {
        val t = Tables(s, dir)
        val base = t.orders.select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderdate"), year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"))
        SnapshotTable.commitPartitioned(
          base.filter(col("o_orderkey") % 2 === 0).drop("mo"), root, Seq("yr"))
        SnapshotTable.appendPartitioned(
          base.filter(col("o_orderkey") % 2 === 1), root, Seq("yr", "mo"))
        ()
      }
      m25Read(s, root)
        .groupBy(month(col("o_orderdate")).as("mo"))
        .agg(count(lit(1)).as("n"), Tables.dsum(col("o_totalprice")).as("rev"))
        .select(col("mo"), col("n"), round(col("rev"), 6).as("revenue"))
        .orderBy("mo")
    }),

    // M29: MV CONTAINMENT TIER 3 — the two shapes m28's re-aggregation
    // didn't cover, together: (a) the registered view is a JOIN view (m11's
    // orders ⋈ customer by (segment, year)) — the source-body identity is
    // the canonicalized join subtree with pruning projects stripped, so one
    // stored join rollup serves every coarser rollup of the same join
    // without touching either fact table; (b) the dashboard asks for
    // avg(), which decomposes as resum(stored sums)/resum(stored counts)
    // replayed through Average's own decimal divide — answer-preserving
    // because the stored sum partials are exact decimals (a double avg is
    // refused, like a double sum). The oracle recomputes everything from
    // the raw join; PlanSpec pins that the served plan reads the MV path,
    // that rewritten == unrewritten at full precision, and the refusal
    // negative controls.
    "m29_mv_join_containment" -> ((s, dir) => served(s, m29Pipeline(s, dir))),

    // M32: MV FILTERED CONTAINMENT (tier 4) — the dashboard slices BEFORE
    // rolling up (`WHERE year = 1996 GROUP BY month`), and the rule serves
    // it from the UNFILTERED (year, month) MV by pushing the predicate onto
    // the MV scan. Lossless exactly when every column the predicate touches
    // is a GROUPING column of the view (each MV row aggregates one whole
    // group, so a group-column predicate selects whole groups — nothing is
    // partially included); a predicate on a non-grouping fact column
    // (o_totalprice > x) survives substitution as a fact reference and is
    // REFUSED — PlanSpec pins both directions. At 100 TB this turns every
    // sliced dashboard variant of a registered rollup into a metadata-sized
    // read; the oracle recomputes the slice from the raw facts.
    "m32_mv_filtered_containment" -> ((s, dir) => served(s, m32Pipeline(s, dir))),

    // M30: SQL DML STATEMENT SURFACE — the warehouse band reachable from
    // plain `spark.sql(...)`: MERGE INTO / UPDATE / DELETE / VERSION AS OF
    // parsed by the injected GraftSqlParser (plans/SqlDml.scala) and
    // executed through the existing MergeInto + SnapshotTable machinery.
    // This query runs the full statement lifecycle — seed commit, one
    // CDC-shaped MERGE (updates + deletes + inserts in one batch), an
    // UPDATE, a DELETE, then reads the final state through the bare
    // registered name and the v1 history through VERSION AS OF, all pure
    // SQL. The graded row carries the per-statement affected counts and the
    // committed version, so a statement silently doing the wrong thing
    // can't hash-match; the oracle replays the whole chain as conditional
    // SQL over the raw facts. Every mutation is an atomic snapshot commit —
    // DML at 100 TB costs exactly what the underlying plan costs (the
    // broadcast-feed MERGE shape, the conditional-projection UPDATE), plus
    // one pointer swap.
    "m30_sql_dml" -> ((s, dir) => {
      import graft.plans.GraftDmlRegistry
      val t = Tables(s, dir)
      val root = Tables.scratch("m30", dir)
      Tables.rmrf(root)
      val name = s"m30t_${Tables.pathKey(dir)}"
      val base = t.orders.select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), col("o_orderstatus"))
      SnapshotTable.commit(base.filter(col("o_orderkey") % 4 === 0), root)
      GraftDmlRegistry.registerSnapshot(name, root)
      // the CDC batch: +1-price updates (%8==0), deletes (%16==4, disjoint
      // from the updates), inserts (%4==1, absent from the target)
      base.filter(col("o_orderkey") % 8 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1.0))
        .withColumn("op", lit("upsert"))
        .unionByName(base.filter(col("o_orderkey") % 16 === 4)
          .withColumn("op", lit("delete")))
        .unionByName(t.orders.filter(col("o_orderkey") % 4 === 1)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("o_orderstatus"))
          .withColumn("op", lit("upsert")))
        .createOrReplaceTempView("m30_chg")
      val mergeRow = s.sql(
        s"MERGE INTO $name USING m30_chg ON $name.o_orderkey = m30_chg.o_orderkey " +
          "WHEN MATCHED AND op = 'delete' THEN DELETE " +
          "WHEN MATCHED THEN UPDATE SET * " +
          "WHEN NOT MATCHED THEN INSERT *").head()
      val updRow = s.sql(
        s"UPDATE $name SET o_totalprice = o_totalprice * 2 " +
          "WHERE o_orderkey % 32 = 0").head()
      val delRow = s.sql(s"DELETE FROM $name WHERE o_orderkey % 32 = 5").head()
      s.sql(
        s"SELECT o_orderkey % 10 AS bucket, count(*) AS n, " +
          "round(CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE), 6) AS revenue " +
          s"FROM $name GROUP BY o_orderkey % 10")
        .crossJoin(s.sql(s"SELECT count(*) AS n_v1 FROM $name VERSION AS OF 1"))
        .withColumn("merged_rows", lit(mergeRow.getLong(1)))
        .withColumn("n_updated", lit(updRow.getLong(1)))
        .withColumn("n_deleted", lit(delRow.getLong(1)))
        .withColumn("current_version", lit(delRow.getLong(0)))
        .orderBy("bucket")
    }),

    // M31: PER-COLUMN SQL MERGE — the ordinary lakehouse MERGE grammar m30's
    // CDC shape left to the library call: conditional per-column clauses
    // (`WHEN MATCHED AND cond THEN UPDATE SET c = expr, ...`), an arbitrary-
    // predicate DELETE clause, and `INSERT (cols) VALUES (exprs)` with the
    // unlisted columns NULL-filled. Clause ORDER is honored per row
    // (first-match-wins, standard MERGE): the DELETE clause claims its rows
    // before the conditional UPDATE sees them, unclaimed matched rows pass
    // through unchanged. Compiles to ONE full-outer projection
    // (GraftMergeColsCommand) + snapshot commit; the oracle replays the
    // whole clause cascade as CASE SQL over the raw facts, and the graded
    // row carries the committed version + row count so a silently-wrong
    // clause can't hash-match.
    "m31_sql_merge_cols" -> ((s, dir) => {
      import graft.plans.GraftDmlRegistry
      val t = Tables(s, dir)
      val root = Tables.scratch("m31", dir)
      Tables.rmrf(root)
      val name = s"m31t_${Tables.pathKey(dir)}"
      val base = t.orders.select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), col("o_orderstatus"))
      SnapshotTable.commit(base.filter(col("o_orderkey") % 3 === 0), root)
      GraftDmlRegistry.registerSnapshot(name, root)
      base.filter(col("o_orderkey") % 2 === 0).createOrReplaceTempView("m31_chg")
      val mergeRow = s.sql(
        s"MERGE INTO $name USING m31_chg ON $name.o_orderkey = m31_chg.o_orderkey " +
          "WHEN MATCHED AND m31_chg.o_totalprice < 50000 THEN DELETE " +
          s"WHEN MATCHED AND $name.o_orderstatus = 'F' THEN UPDATE SET " +
          s"o_totalprice = $name.o_totalprice + m31_chg.o_totalprice, o_orderstatus = 'U' " +
          "WHEN NOT MATCHED THEN INSERT (o_orderkey, o_totalprice, o_orderstatus) " +
          "VALUES (m31_chg.o_orderkey, m31_chg.o_totalprice * 0.5, 'N')").head()
      s.sql(
        s"SELECT o_orderstatus, count(*) AS n, " +
          "round(CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE), 6) AS revenue, " +
          "count(o_custkey) AS n_custkey " + // INSERT left it unlisted -> NULL
          s"FROM $name GROUP BY o_orderstatus")
        .withColumn("merged_rows", lit(mergeRow.getLong(1)))
        .withColumn("current_version", lit(mergeRow.getLong(0)))
        .orderBy("o_orderstatus")
    }),

    // M33: SQL INSERT INTO — the load half of the DML surface (m30 covered
    // MERGE/UPDATE/DELETE/time-travel, m31 per-column MERGE): a full-width
    // `INSERT INTO t SELECT`, a column-listed insert whose unlisted columns
    // NULL-fill, and a literal `VALUES` row, each an APPEND commit (new
    // files only — nothing existing rewritten, the O(delta) load shape at
    // any table size). The graded rollup carries count(o_custkey) so the
    // NULL-fill is value-checked, plus each statement's returned row count
    // and the final committed version; the oracle replays the three
    // appends as UNION ALLs over the raw facts.
    "m33_sql_insert" -> ((s, dir) => {
      import graft.plans.GraftDmlRegistry
      val t = Tables(s, dir)
      val root = Tables.scratch("m33", dir)
      Tables.rmrf(root)
      val name = s"m33t_${Tables.pathKey(dir)}"
      val base = t.orders.select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), col("o_orderstatus"))
      SnapshotTable.commit(base.filter(col("o_orderkey") % 5 === 0), root)
      GraftDmlRegistry.registerSnapshot(name, root)
      base.filter(col("o_orderkey") % 5 === 1).createOrReplaceTempView("m33_src1")
      base.filter(col("o_orderkey") % 5 === 2).createOrReplaceTempView("m33_src2")
      val r1 = s.sql(s"INSERT INTO $name SELECT * FROM m33_src1").head()
      val r2 = s.sql(s"INSERT INTO $name (o_orderkey, o_totalprice) " +
        "SELECT o_orderkey, o_totalprice * 0.5 FROM m33_src2").head()
      val r3 = s.sql(s"INSERT INTO $name VALUES (-1, -2, 42.5, 'X')").head()
      s.sql(
        s"SELECT o_orderstatus, count(*) AS n, " +
          "round(CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE), 6) AS revenue, " +
          "count(o_custkey) AS n_custkey " +
          s"FROM $name GROUP BY o_orderstatus")
        .withColumn("ins_full", lit(r1.getLong(1)))
        .withColumn("ins_cols", lit(r2.getLong(1)))
        .withColumn("ins_values", lit(r3.getLong(1)))
        .withColumn("current_version", lit(r3.getLong(0)))
        .orderBy("o_orderstatus")
    }),

    // M34: DESCRIBE HISTORY — the introspection verb that closes the SQL
    // DML loop: after a seed + INSERT + UPDATE + DELETE chain, the version
    // ledger (version → operation metadata) is readable in pure SQL. The
    // operation strings carry each statement's affected-row count, so the
    // oracle replays the WHOLE chain's arithmetic from the raw facts —
    // history introspection graded as values, not just row shape. A
    // metadata read at any scale: one small meta file per version, no data
    // scanned (timestamps deliberately excluded — nondeterministic).
    "m34_sql_history" -> ((s, dir) => {
      import graft.plans.GraftDmlRegistry
      val t = Tables(s, dir)
      val root = Tables.scratch("m34", dir)
      Tables.rmrf(root)
      val name = s"m34t_${Tables.pathKey(dir)}"
      val base = t.orders.select(col("o_orderkey"), col("o_totalprice"))
      SnapshotTable.commit(base.filter(col("o_orderkey") % 7 === 0), root,
        meta = "seed")
      GraftDmlRegistry.registerSnapshot(name, root)
      base.filter(col("o_orderkey") % 7 === 1).createOrReplaceTempView("m34_src")
      s.sql(s"INSERT INTO $name SELECT * FROM m34_src").collect()
      s.sql(s"UPDATE $name SET o_totalprice = o_totalprice * 2 " +
        "WHERE o_orderkey % 3 = 0").collect()
      s.sql(s"DELETE FROM $name WHERE o_orderkey % 5 = 4").collect()
      s.sql(s"DESCRIBE HISTORY $name").orderBy("version")
    }),

    // M35: the SQL MAINTENANCE LIFECYCLE — the four verbs every lakehouse
    // ships beyond DML, run end-to-end from plain spark.sql: CTAS (`CREATE
    // SNAPSHOT TABLE ... AS`, v1 = 8 files by the source's pinned
    // partitioning), INSERT (v2, +4 files), `OPTIMIZE ... ZORDER BY
    // (o_orderkey) INTO 2 FILES` (v3: 12 -> 2, a bin-pack rewrite commit —
    // with a size bound, files at/over it would carry over untouched, the
    // O(small-files) shape a 100 TB table needs; ZORDER range-clusters the
    // rewrite so min/max stats prune, content unchanged), UPDATE (v4, the
    // "bad commit"), `RESTORE TO VERSION AS OF 3` (v5: metadata-only undo),
    // `VACUUM RETAIN 3 VERSIONS` (expires v1/v2, reference-counted). Graded
    // row: the final content summary (the restore must have exactly undone
    // the update) + the maintenance ledger (file counts, restored rows,
    // expiry count, and the retained DESCRIBE HISTORY ops) — a wrong file
    // count, a lossy restore, or an over-eager vacuum each break the hash.
    "m35_sql_maintenance" -> ((s, dir) => {
      import graft.plans.GraftDmlRegistry
      val t = Tables(s, dir)
      val root = Tables.scratch("m35", dir)
      Tables.rmrf(root)
      val name = s"m35t_${Tables.pathKey(dir)}"
      GraftDmlRegistry.unregister(name) // reruns in one JVM re-CTAS cleanly
      val base = t.orders.select(col("o_orderkey"), col("o_totalprice"))
      base.filter(col("o_orderkey") % 6 === 0).repartition(8)
        .createOrReplaceTempView("m35_src")
      base.filter(col("o_orderkey") % 6 === 3).repartition(4)
        .createOrReplaceTempView("m35_ins")
      val ctas = s.sql(s"CREATE SNAPSHOT TABLE $name LOCATION '$root' " +
        "AS SELECT * FROM m35_src").head()
      val ins = s.sql(s"INSERT INTO $name SELECT * FROM m35_ins").head()
      val opt = s.sql(s"OPTIMIZE $name ZORDER BY (o_orderkey) INTO 2 FILES").head()
      s.sql(s"UPDATE $name SET o_totalprice = o_totalprice * 2 " +
        "WHERE o_orderkey % 12 = 0").collect()
      val rst = s.sql(s"RESTORE $name TO VERSION AS OF 3").head()
      val vac = s.sql(s"VACUUM $name RETAIN 3 VERSIONS").head()
      val ops = s.sql(s"DESCRIBE HISTORY $name")
        .agg(array_join(transform(array_sort(
          collect_list(struct(col("version"), col("operation")))),
          x => x.getField("operation")), "|").as("ops"))
      s.sql(s"SELECT o_orderkey % 5 AS bucket, count(*) AS n, " +
          s"round(${Tables.dsumSql("o_totalprice")}, 6) AS revenue " +
          s"FROM $name GROUP BY o_orderkey % 5")
        .crossJoin(ops)
        .withColumn("ctas_rows", lit(ctas.getLong(1)))
        .withColumn("insert_rows", lit(ins.getLong(1)))
        .withColumn("files_before", lit(opt.getLong(1)))
        .withColumn("files_rewritten", lit(opt.getLong(2)))
        .withColumn("files_after", lit(opt.getLong(3)))
        .withColumn("restored_version", lit(rst.getLong(0)))
        .withColumn("restored_rows", lit(rst.getLong(1)))
        .withColumn("n_expired", lit(vac.getLong(1)))
        .orderBy("bucket")
    }),

    // M37: FULL-SYNC MERGE — the `WHEN NOT MATCHED BY SOURCE` clause
    // family (Delta/SQL-Server MERGE's third leg), the statement that
    // mirrors a source into a target in ONE pass: matched rows update,
    // source-only rows insert, and target rows ABSENT from the source
    // either delete (here: only the 'F' rows, the conditional form) or
    // tombstone via a BY SOURCE UPDATE. All three families fold into the
    // same single full-outer projection as m31 — no extra scan, no second
    // pass, which is what makes a 100 TB mirror affordable. The oracle
    // replays the whole cascade as CASE/filter SQL over the raw facts and
    // the graded row carries the committed version + row count.
    "m37_sql_merge_full_sync" -> ((s, dir) => {
      import graft.plans.GraftDmlRegistry
      val t = Tables(s, dir)
      val root = Tables.scratch("m37", dir)
      Tables.rmrf(root)
      val name = s"m37t_${Tables.pathKey(dir)}"
      val base = t.orders.select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderstatus"))
      SnapshotTable.commit(base.filter(col("o_orderkey") % 3 === 0), root)
      GraftDmlRegistry.registerSnapshot(name, root)
      // the source mirror: half the target's keys (%6==0, price re-stated
      // at half — exact in binary) plus brand-new keys (%6==1, outside the
      // target's %3==0 residues); the target's %6==3 rows are ABSENT from
      // the source and exercise both BY SOURCE clauses
      base.filter(col("o_orderkey") % 6 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 0.5)
        .unionByName(base.filter(col("o_orderkey") % 6 === 1))
        .createOrReplaceTempView("m37_src")
      val m = s.sql(
        s"MERGE INTO $name USING m37_src ON $name.o_orderkey = m37_src.o_orderkey " +
          "WHEN MATCHED THEN UPDATE SET o_totalprice = m37_src.o_totalprice " +
          s"WHEN NOT MATCHED BY SOURCE AND $name.o_orderstatus = 'F' THEN DELETE " +
          "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET o_orderstatus = 'X' " +
          "WHEN NOT MATCHED THEN INSERT *").head()
      s.sql(
        s"SELECT o_orderstatus, count(*) AS n, " +
          "CAST(floor(sum(CAST(o_totalprice AS DECIMAL(27,6)))) AS BIGINT) AS revenue " +
          s"FROM $name GROUP BY o_orderstatus")
        .withColumn("merged_version", lit(m.getLong(0)))
        .withColumn("merged_rows", lit(m.getLong(1)))
        .orderBy("o_orderstatus")
    }),

    // M38: COPY INTO — idempotent landing-zone ingestion, the statement a
    // scheduled loader runs every few minutes against a directory files
    // keep arriving in. Three campaigns prove the contract: the first load
    // takes the 2 waiting files, an immediate re-run loads NOTHING (the
    // by-name ledger skips them — the crash/retry guarantee), and after a
    // third file lands only THAT file loads. O(new files) per run at any
    // table size; the ledger rides per-version sidecars that become
    // visible through the same atomic flip as the data and survive
    // VACUUM (forgetting it would double-load old files). The graded row
    // carries content + each campaign's (version, files, rows).
    "m38_sql_copy_into" -> ((s, dir) => {
      import graft.plans.GraftDmlRegistry
      val t = Tables(s, dir)
      val key = Tables.pathKey(dir)
      val root = Tables.scratch("m38", dir)
      val landing = Tables.scratch("m38land", dir)
      val staging = Tables.scratch("m38stage", dir)
      Seq(root, landing, staging).foreach(Tables.rmrf)
      val name = s"m38t_$key"
      val base = t.orders.select(col("o_orderkey"), col("o_totalprice"))
      SnapshotTable.commit(base.filter(col("o_orderkey") % 5 === 1), root)
      GraftDmlRegistry.registerSnapshot(name, root)
      // wave 1: two files land
      base.filter(col("o_orderkey") % 5 === 0).repartition(2)
        .write.parquet(landing)
      val c1 = s.sql(s"COPY INTO $name FROM '$landing'").head()
      val c2 = s.sql(s"COPY INTO $name FROM '$landing'").head() // idempotent
      // wave 2: one more file arrives in the same directory
      base.filter(col("o_orderkey") % 5 === 2).repartition(1)
        .write.parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(landing, part.getName))
      val c3 = s.sql(s"COPY INTO $name FROM '$landing'").head()
      s.sql(s"SELECT o_orderkey % 4 AS bucket, count(*) AS n, " +
          "CAST(floor(sum(CAST(o_totalprice AS DECIMAL(27,6)))) AS BIGINT) AS revenue " +
          s"FROM $name GROUP BY o_orderkey % 4")
        .withColumn("v1_files", lit(c1.getLong(1)))
        .withColumn("v1_rows", lit(c1.getLong(2)))
        .withColumn("rerun_files", lit(c2.getLong(1)))
        .withColumn("rerun_rows", lit(c2.getLong(2)))
        .withColumn("v2_files", lit(c3.getLong(1)))
        .withColumn("v2_rows", lit(c3.getLong(2)))
        .withColumn("final_version", lit(c3.getLong(0)))
        .orderBy("bucket")
    }),

    // M36: the MATERIALIZED VIEW lifecycle in SQL — CREATE / (implicit
    // serve) / source change / REFRESH, the last piece a pure-SQL user
    // needs after m27-m29/m32 gave the automatic rewrite to library-
    // registered views. Three phases over a MUTABLE source copy, all
    // value-graded: 'fresh' runs the dashboard query right after `CREATE
    // MATERIALIZED VIEW ... AS` (served from the stored parquet —
    // ExtensionsSpec pins the plan reads the MV path and no source scan
    // survives); 'stale' runs it after a second slice lands in the source
    // (the content fingerprint refuses the MV, the plan falls back to the
    // raw scan — answers stay CORRECT the moment data changes, the
    // non-negotiable rewrite contract); 'refreshed' runs it after `REFRESH
    // MATERIALIZED VIEW` rebuilt the parquet and re-fingerprinted. A
    // rewrite that served stale data would hash-mismatch phase 2; a
    // refresh that lost rows would mismatch phase 3.
    "m36_sql_mv_lifecycle" -> ((s, dir) => {
      import graft.plans.{GraftMvDdlRegistry, GraftMvRewriteRule, MvRegistry}
      val t = Tables(s, dir)
      val key = Tables.pathKey(dir)
      val srcDir = Tables.scratch("m36src", dir)
      val mvPath = Tables.scratch("m36mv", dir)
      Tables.rmrf(srcDir); Tables.rmrf(mvPath)
      ensureMvRule(s)
      // self-containment: this query owns BOTH registries (clearing only
      // the rewrite side would desync DROP/REFRESH from what the rule
      // serves — the m27-band discipline via registerMv)
      MvRegistry.clear()
      GraftMvDdlRegistry.clear()
      val name = s"m36v_$key"
      val base = t.orders.select(col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"))
      // quarter slices keep the source-copy I/O (the query's dominant
      // fixed cost) small; the lifecycle semantics are slice-size-free
      base.filter(col("o_orderkey") % 4 === 0).write.parquet(srcDir)
      // a fresh read re-lists the dir (file indexes are pinned)
      s.read.parquet(srcDir).createOrReplaceTempView("m36_src")
      // revenue as the EXACT integer floor of the decimal sum (the §7.4
      // magnitude rule: monthly sums pass 2^31 at sf1, where a rounded
      // double's 6th decimal is engine-ambiguous; every value ≤ 2^53 is
      // exact in both engines this way)
      val defSql = "SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo, " +
        "count(*) AS n_orders, " +
        "CAST(floor(sum(CAST(o_totalprice AS DECIMAL(27,6)))) AS BIGINT) AS revenue " +
        "FROM m36_src GROUP BY year(o_orderdate), month(o_orderdate)"
      s.sql(s"CREATE MATERIALIZED VIEW $name LOCATION '$mvPath' AS $defSql")
      val appended = base.filter(col("o_orderkey") % 4 === 1)
      // the lifecycle runs on a flag-on clone; its temp view is the clone's
      Tables.withConf(s, GraftMvRewriteRule.Flag -> "true") { c =>
        def phase(p: String) = eagerDf(c, c.sql(defSql).withColumn("phase", lit(p)))
        val fresh = phase("fresh")
        appended.write.mode("append").parquet(srcDir)
        c.read.parquet(srcDir).createOrReplaceTempView("m36_src")
        val stale = phase("stale")
        c.sql(s"REFRESH MATERIALIZED VIEW $name")
        val refreshed = phase("refreshed")
        fresh.unionByName(stale).unionByName(refreshed)
          .select(col("phase"), col("yr"), col("mo"), col("n_orders"),
            col("revenue"))
          .orderBy("phase", "yr", "mo")
      }
    }),

    // M39: DURABLE CATALOG — the piece that turns the SQL surface from a
    // session demo into a system: with `spark.graft.metastoreDir` set,
    // every SQL-created table and MV records into a two-file metastore
    // sidecar, and a NEW session (new JVM) pointing at the same directory
    // re-materializes them on its FIRST statement. The scenario: CTAS +
    // INSERT + CREATE MATERIALIZED VIEW while the metastore records; then
    // a simulated restart (this query's names dropped from all three
    // in-JVM registries + the loaded-marker forgotten — a real restart is
    // an empty JVM, same observable state for these names); then the
    // "morning after" statements — DESCRIBE HISTORY, a raw read, and the
    // MV-served aggregate — run against the RELOADED names and are
    // value-graded. The reload path is all metadata: two catalog files +
    // one MV re-analysis; no data scan. ExtensionsSpec pins the restart
    // on a fully fresh session and the MV serve plan after reload.
    "m39_sql_metastore" -> ((s, dir) => {
      import graft.plans.{GraftDmlRegistry, GraftMetastore, GraftMvDdlRegistry,
        GraftMvRewriteRule, MvRegistry}
      val t = Tables(s, dir)
      val key = Tables.pathKey(dir)
      val metaDir = Tables.scratch("m39meta", dir)
      val root = Tables.scratch("m39t", dir)
      val mvPath = Tables.scratch("m39mv", dir)
      Seq(metaDir, root, mvPath).foreach(Tables.rmrf)
      ensureMvRule(s)
      val name = s"m39t_$key"
      val mv = s"m39v_$key"
      GraftDmlRegistry.unregister(name)
      GraftMvDdlRegistry.remove(mv); MvRegistry.unregister(mv)
      t.orders.select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"))
        .createOrReplaceTempView("m39_src")
      // the whole scenario runs on a clone recording into `metaDir`
      Tables.withConf(s, GraftMetastore.DirKey -> metaDir) { c =>
        // 1/30 slices: the catalog semantics are slice-size-FREE (the m36
        // discipline) — the graded content is the restart reload, not I/O
        c.sql(s"CREATE SNAPSHOT TABLE $name LOCATION '$root' AS " +
          "SELECT * FROM m39_src WHERE o_orderkey % 30 = 0")
        c.sql(s"INSERT INTO $name SELECT * FROM m39_src WHERE o_orderkey % 30 = 1")
        val defSql = s"SELECT o_orderstatus, count(*) AS n, " +
          "CAST(floor(sum(CAST(o_totalprice AS DECIMAL(27,6)))) AS BIGINT) " +
          s"AS revenue FROM $name GROUP BY o_orderstatus"
        c.sql(s"CREATE MATERIALIZED VIEW $mv LOCATION '$mvPath' AS $defSql")
        // ---- simulated restart: the JVM forgets, the metastore remembers
        GraftDmlRegistry.unregister(name)
        GraftMvDdlRegistry.remove(mv); MvRegistry.unregister(mv)
        GraftMetastore.forget(metaDir)
        // first statements of the "new session" — ensureLoaded fires on
        // parse and the names resolve again, table first (history + raw
        // read), then the MV (flag-on aggregate served from the stored
        // parquet; 'direct' and 'mv' phases must agree value-for-value)
        val hist = c.sql(s"DESCRIBE HISTORY $name")
          .agg(count(lit(1)).as("n_versions"),
            max(col("version")).as("current_version"))
        val direct = eagerDf(c, c.sql(defSql).withColumn("phase", lit("direct")))
        val served = Tables.withConf(c, GraftMvRewriteRule.Flag -> "true")(on =>
          eagerDf(on, on.sql(defSql).withColumn("phase", lit("mv"))))
        direct.unionByName(served)
          .crossJoin(hist)
          .select(col("phase"), col("o_orderstatus"), col("n"), col("revenue"),
            col("n_versions"), col("current_version"))
          .orderBy("phase", "o_orderstatus")
      }
    }),

    // M40: SQL SCHEMA EVOLUTION — ALTER TABLE over the field-id sidecar
    // machinery (m18/m19's library surface, now reachable from pure SQL).
    // The full lifecycle, every step a METADATA-ONLY commit (zero data
    // bytes move at any table size): ADD COLUMN (old generation null-
    // fills), a second generation INSERTed WITH the new column, RENAME
    // (both generations come back under the new name — the physical bytes
    // still carry the old one), UPDATE through the renamed name (DML and
    // evolution compose: the rewrite lands under the CURRENT schema),
    // ALTER COLUMN TYPE widening int->bigint (the old generation upcasts
    // at read), and DROP COLUMN. Time travel re-reads v1 under the schema
    // IN EFFECT AT v1. The graded rollup reads every evolved column plus
    // the version ledger, so a mis-resolved generation cannot hash-match.
    "m40_sql_alter_evolution" -> ((s, dir) => {
      import graft.plans.GraftDmlRegistry
      val t = Tables(s, dir)
      val key = Tables.pathKey(dir)
      val root = Tables.scratch("m40t", dir)
      Tables.rmrf(root)
      val name = s"m40t_$key"
      GraftDmlRegistry.unregister(name)
      t.orders.select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"),
          year(col("o_orderdate")).cast("int").as("yr"))
        .createOrReplaceTempView("m40_src")
      // 1/40 slices: evolution is metadata — the graded content is
      // per-generation schema resolution, not data volume
      s.sql(s"CREATE SNAPSHOT TABLE $name LOCATION '$root' AS " +
        "SELECT * FROM m40_src WHERE o_orderkey % 40 = 0")         // v1
      s.sql(s"ALTER TABLE $name ADD COLUMN note string")            // v2
      s.sql(s"INSERT INTO $name SELECT o_orderkey, o_totalprice, " +
        "o_orderstatus, yr, 'w2' AS note FROM m40_src " +
        "WHERE o_orderkey % 40 = 1")                                // v3
      s.sql(s"ALTER TABLE $name RENAME COLUMN note TO batch_tag")   // v4
      val upd = s.sql(s"UPDATE $name SET batch_tag = 'seed' " +
        "WHERE batch_tag IS NULL").head()                           // v5
      s.sql(s"ALTER TABLE $name ALTER COLUMN yr TYPE bigint")       // v6
      val alt = s.sql(s"ALTER TABLE $name DROP COLUMN o_orderstatus")
        .head()                                                     // v7
      val v1 = s.sql(s"SELECT count(*) AS n_v1, count(o_orderstatus) " +
        s"AS n_status_v1 FROM $name VERSION AS OF 1")
      s.sql(s"SELECT batch_tag, count(*) AS n, " +
          "CAST(floor(sum(CAST(o_totalprice AS DECIMAL(27,6)))) AS BIGINT) " +
          "AS revenue, CAST(sum(yr) AS BIGINT) AS sum_yr " +
          s"FROM $name GROUP BY batch_tag")
        .crossJoin(v1)
        .withColumn("n_updated", lit(upd.getLong(1)))
        .withColumn("current_version", lit(alt.getLong(0)))
        .withColumn("n_columns", lit(alt.getLong(1)))
        .orderBy("batch_tag")
    }),

    // M41: COMPOSITE-KEY MERGE with CONDITIONAL INSERT FAMILIES — the two
    // grammar residuals ordinary lakehouse MERGEs hit first: an ON
    // conjunction over the natural composite PK (l_orderkey, l_linenumber
    // — the same full-outer projection, keyed on both columns), and a
    // first-match-wins NOT MATCHED family (two conditional INSERT clauses;
    // the second leaves l_extendedprice unlisted -> NULL, so a clause
    // mis-claim cannot hash-match count(l_extendedprice)). The standard-
    // MERGE cardinality guard rides the plan (window count over BOTH
    // keys + raise_error), so the source is computed exactly once.
    "m41_sql_merge_composite" -> ((s, dir) => {
      import graft.plans.GraftDmlRegistry
      val t = Tables(s, dir)
      val key = Tables.pathKey(dir)
      val root = Tables.scratch("m41t", dir)
      Tables.rmrf(root)
      val name = s"m41t_$key"
      GraftDmlRegistry.unregister(name)
      val base = t.lineitem.select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_returnflag"))
      SnapshotTable.commit(base.filter(col("l_orderkey") % 4 === 0), root)
      GraftDmlRegistry.registerSnapshot(name, root)
      // the fixture's lineitem repeats (l_orderkey, l_linenumber) — a
      // valid MERGE source needs one row per key (the cardinality rule
      // this very statement's in-plan guard enforces; multiple TARGET
      // rows per key are fine and present), so the feed collapses by max
      base.filter(col("l_orderkey") % 2 === 0)
        .groupBy(col("l_orderkey"), col("l_linenumber"))
        .agg(max(col("l_quantity")).as("l_quantity"),
          max(col("l_extendedprice")).as("l_extendedprice"))
        .createOrReplaceTempView("m41_chg")
      val mergeRow = s.sql(
        s"MERGE INTO $name USING m41_chg " +
          s"ON $name.l_orderkey = m41_chg.l_orderkey " +
          s"AND $name.l_linenumber = m41_chg.l_linenumber " +
          s"WHEN MATCHED AND m41_chg.l_quantity > 25 THEN UPDATE SET " +
          s"l_quantity = $name.l_quantity + m41_chg.l_quantity, " +
          "l_returnflag = 'M' " +
          "WHEN NOT MATCHED AND m41_chg.l_extendedprice > 30000 THEN " +
          "INSERT (l_orderkey, l_linenumber, l_quantity, l_extendedprice, " +
          "l_returnflag) VALUES (m41_chg.l_orderkey, m41_chg.l_linenumber, " +
          "m41_chg.l_quantity, m41_chg.l_extendedprice, 'H') " +
          "WHEN NOT MATCHED THEN INSERT (l_orderkey, l_linenumber, " +
          "l_quantity, l_returnflag) VALUES (m41_chg.l_orderkey, " +
          "m41_chg.l_linenumber, 0.0, 'L')").head()
      s.sql(s"SELECT l_returnflag, count(*) AS n, " +
          "round(CAST(sum(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE), 6) AS sum_qty, " +
          "count(l_extendedprice) AS n_price " +
          s"FROM $name GROUP BY l_returnflag")
        .withColumn("merged_rows", lit(mergeRow.getLong(1)))
        .withColumn("current_version", lit(mergeRow.getLong(0)))
        .orderBy("l_returnflag")
    }),

    // M42: ROW-LEVEL CHANGE FEED — `t CHANGES BETWEEN v1 AND v2` in SQL
    // (Delta's table_changes, keyless): the verb a downstream consumer
    // replays to bring a derived table current WITHOUT rescanning the
    // source. Two lineages graded: the INSERT commit (v1→v2) takes the
    // APPEND fast path — the feed is exactly the delta files' rows,
    // O(delta) at any table size, PlanSpec-pinned to read ONLY the delta
    // files; the UPDATE commit (v2→v3) rewrote files, so the feed is the
    // grouped multiset diff, emitting one delete (old price) + one insert
    // (new price) per updated row. The rollup reads both feeds through
    // plain spark.sql and the oracle replays every count and revenue sum.
    "m42_sql_table_changes" -> ((s, dir) => {
      import graft.plans.GraftDmlRegistry
      val t = Tables(s, dir)
      val key = Tables.pathKey(dir)
      val root = Tables.scratch("m42t", dir)
      Tables.rmrf(root)
      val name = s"m42t_$key"
      GraftDmlRegistry.unregister(name)
      t.orders.select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"))
        .createOrReplaceTempView("m42_src")
      // 1/30 slices (feed semantics are slice-size-free); the UPDATE
      // predicate %60=30 implies %30=0, so it hits only seeded keys
      s.sql(s"CREATE SNAPSHOT TABLE $name LOCATION '$root' AS " +
        "SELECT * FROM m42_src WHERE o_orderkey % 30 = 0")         // v1
      s.sql(s"INSERT INTO $name SELECT * FROM m42_src " +
        "WHERE o_orderkey % 30 = 1")                                // v2
      s.sql(s"UPDATE $name SET o_totalprice = o_totalprice + 1.0 " +
        "WHERE o_orderkey % 60 = 30")                               // v3
      def roll(phase: String, v1: Int, v2: Int) = s.sql(
        s"SELECT '$phase' AS phase, _change_type, " +
          "count(*) AS n_groups, CAST(sum(_n) AS BIGINT) AS n_rows, " +
          "CAST(floor(sum(CAST(o_totalprice AS DECIMAL(27,6)) * _n)) AS BIGINT) " +
          s"AS revenue FROM $name CHANGES BETWEEN $v1 AND $v2 " +
          "GROUP BY _change_type")
      roll("v1_v2", 1, 2).unionByName(roll("v2_v3", 2, 3))
        .orderBy("phase", "_change_type")
    }),

    // M43: KEYED CDC — the r18 verdict's "keyed change feed" item, closing
    // the one weakness it named in m42: the keyless feed is a full
    // two-version multiset diff across any rewrite. With a declared
    // PRIMARY KEY (`ALTER TABLE t SET KEY (o_orderkey)` — validated
    // unique+non-null at declaration, the writer's contract afterwards),
    // `t CHANGES BETWEEN v1 AND v2` serves Delta-CDF-with-row-tracking
    // semantics instead: insert / delete / update_preimage /
    // update_postimage rows, diffed from ONLY the files the versions
    // exchanged. Because UPDATE/DELETE are now FILE-GRANULAR (this round:
    // one column-pruned discovery pass finds the touched files; untouched
    // entries carry as metadata), removed∖added is exactly the touched
    // set, so the rewrite feed costs O(touched files) at ANY table size —
    // the SCALING_r19 row pins that it does NOT grow with the table. Rows
    // rewritten unchanged (same file, different layout) cancel in the key
    // join and emit nothing. Full oracle: every phase replays from the raw
    // facts — appends are inserts, the UPDATE emits one preimage at the
    // old price and one postimage at +1.0 per matched key, the DELETE
    // emits one delete per %120=30 key at its post-update price.
    "m43_sql_keyed_changes" -> ((s, dir) => {
      import graft.plans.GraftDmlRegistry
      val t = Tables(s, dir)
      val key = Tables.pathKey(dir)
      val root = Tables.scratch("m43t", dir)
      Tables.rmrf(root)
      val name = s"m43t_$key"
      GraftDmlRegistry.unregister(name)
      t.orders.select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"))
        .createOrReplaceTempView("m43_src")
      s.sql(s"CREATE SNAPSHOT TABLE $name LOCATION '$root' AS " +
        "SELECT * FROM m43_src WHERE o_orderkey % 30 = 0")         // v1
      s.sql(s"ALTER TABLE $name SET KEY (o_orderkey)")             // keyed
      s.sql(s"INSERT INTO $name SELECT * FROM m43_src " +
        "WHERE o_orderkey % 30 = 1")                                // v2
      s.sql(s"UPDATE $name SET o_totalprice = o_totalprice + 1.0 " +
        "WHERE o_orderkey % 60 = 30")                               // v3
      s.sql(s"DELETE FROM $name WHERE o_orderkey % 120 = 30")       // v4
      def roll(phase: String, v1: Int, v2: Int) = s.sql(
        s"SELECT '$phase' AS phase, _change_type AS change_type, " +
          "count(*) AS n_rows, " +
          "CAST(floor(sum(CAST(o_totalprice AS DECIMAL(27,6)))) AS BIGINT) " +
          s"AS revenue FROM $name CHANGES BETWEEN $v1 AND $v2 " +
          "GROUP BY _change_type")
      roll("v1_v2", 1, 2).unionByName(roll("v2_v3", 2, 3))
        .unionByName(roll("v3_v4", 3, 4))
        .orderBy("phase", "change_type")
    }),

    // M44: SCHEMA-CROSSING CHANGE FEED — the m40×m42 composition the r18
    // verdict listed ("a user tailing an evolving table hits this
    // immediately"): ONE `CHANGES BETWEEN 1 AND 5` window spanning the
    // table's whole life — two pre-ALTER versions, the metadata-only
    // `ALTER TABLE ADD COLUMN note` (v3), a post-ALTER INSERT carrying the
    // new column (v4), and a post-ALTER file-granular UPDATE (v5). The
    // feed splits at the schema boundary, serves each sub-window with the
    // m42 kernel under its own generation, and projects everything to the
    // FINAL schema by field id: pre-ALTER inserts come back with `note`
    // NULL-filled, the ALTER itself contributes nothing (manifest
    // carried), and the post-ALTER window diffs normally. Additive only —
    // a window crossing DROP/narrowing refuses (ExtensionsSpec). Full
    // oracle: every phase replays from the raw facts, grouped by change
    // type and the note tag.
    "m44_sql_evolving_changes" -> ((s, dir) => {
      import graft.plans.GraftDmlRegistry
      val t = Tables(s, dir)
      val key = Tables.pathKey(dir)
      val root = Tables.scratch("m44t", dir)
      Tables.rmrf(root)
      val name = s"m44t_$key"
      GraftDmlRegistry.unregister(name)
      t.orders.select(col("o_orderkey"), col("o_totalprice"))
        .createOrReplaceTempView("m44_src")
      s.sql(s"CREATE SNAPSHOT TABLE $name LOCATION '$root' AS " +
        "SELECT * FROM m44_src WHERE o_orderkey % 30 = 0")           // v1
      s.sql(s"INSERT INTO $name SELECT * FROM m44_src " +
        "WHERE o_orderkey % 30 = 1")                                  // v2
      s.sql(s"ALTER TABLE $name ADD COLUMN note string")              // v3
      s.sql(s"INSERT INTO $name SELECT o_orderkey, o_totalprice, 'new' " +
        "FROM m44_src WHERE o_orderkey % 30 = 2")                     // v4
      s.sql(s"UPDATE $name SET o_totalprice = o_totalprice + 1.0 " +
        "WHERE o_orderkey % 60 = 30")                                 // v5
      s.sql(s"SELECT _change_type AS change_type, " +
        "coalesce(note, 'none') AS tag, " +
        "count(*) AS n_groups, CAST(sum(_n) AS BIGINT) AS n_rows, " +
        "CAST(floor(sum(CAST(o_totalprice AS DECIMAL(27,6)) * _n)) AS BIGINT) " +
        s"AS revenue FROM $name CHANGES BETWEEN 1 AND 5 " +
        "GROUP BY 1, 2 ORDER BY change_type, tag")
    }),

    // M45: KEYED × SCHEMA-CROSSING FEED — the m43×m44 composition the r19
    // verdict named the one open cell of the CDC matrix: a KEYED table
    // that evolves its schema keeps keyed CDC ACROSS the boundary. One
    // `CHANGES BETWEEN 1 AND 5` window spans: the SET KEY declaration, a
    // pre-ALTER INSERT (v2), the metadata-only `ALTER TABLE ADD COLUMN
    // note` (v3), a post-ALTER INSERT carrying the column (v4), and a
    // file-granular UPDATE (v5). The feed splits at the schema boundary,
    // runs the m43 KEYED kernel per sub-window (diffing only exchanged
    // files — O(touched) at any table size), and projects everything to
    // the final schema by field id: pre-ALTER inserts and the UPDATE's
    // preimages come back with `note` NULL-filled; the update postimages
    // are NULL too (the rewritten rows predate the column — file-granular
    // DML rewrites under the current schema with a NULL fill). Keyed
    // change types (update_preimage/update_postimage, _n = 1) instead of
    // the keyless delete+insert multiset. Full oracle replay.
    "m45_sql_keyed_evolving_changes" -> ((s, dir) => {
      import graft.plans.GraftDmlRegistry
      val t = Tables(s, dir)
      val key = Tables.pathKey(dir)
      val root = Tables.scratch("m45t", dir)
      Tables.rmrf(root)
      val name = s"m45t_$key"
      GraftDmlRegistry.unregister(name)
      t.orders.select(col("o_orderkey"), col("o_totalprice"))
        .createOrReplaceTempView("m45_src")
      s.sql(s"CREATE SNAPSHOT TABLE $name LOCATION '$root' AS " +
        "SELECT * FROM m45_src WHERE o_orderkey % 30 = 0")            // v1
      s.sql(s"ALTER TABLE $name SET KEY (o_orderkey)")                // keyed
      s.sql(s"INSERT INTO $name SELECT * FROM m45_src " +
        "WHERE o_orderkey % 30 = 1")                                   // v2
      s.sql(s"ALTER TABLE $name ADD COLUMN note string")               // v3
      s.sql(s"INSERT INTO $name SELECT o_orderkey, o_totalprice, 'new' " +
        "FROM m45_src WHERE o_orderkey % 30 = 2")                      // v4
      s.sql(s"UPDATE $name SET o_totalprice = o_totalprice + 1.0 " +
        "WHERE o_orderkey % 60 = 30")                                  // v5
      s.sql(s"SELECT _change_type AS change_type, " +
        "coalesce(note, 'none') AS tag, count(*) AS n_rows, " +
        "CAST(floor(sum(CAST(o_totalprice AS DECIMAL(27,6)))) AS BIGINT) " +
        s"AS revenue FROM $name CHANGES BETWEEN 1 AND 5 " +
        "GROUP BY 1, 2 ORDER BY change_type, tag")
    }),

    // M46: CHANGE FEED BY TIMESTAMP — `t CHANGES BETWEEN TIMESTAMP 'a' AND
    // TIMESTAMP 'b'` (Delta CDF's startingTimestamp/endingTimestamp),
    // closing the r19 verdict's last missing CDC verb: each bound resolves
    // to a version through the m14 LOGICAL-timestamp machinery — the
    // highest version whose commit metadata records a date ≤ the bound
    // (wall clocks are non-deterministic; writers attach logical effective
    // dates, the m14 convention), read from O(versions) tiny meta files,
    // no data scan — then the feed serves exactly the version-bounds
    // kernel, so the output is hash-identical to the version form (the
    // spec pins the equality; the oracle replays both phases from raw
    // facts). A start bound before the first dated commit is the table's
    // birth — phase t0_t2 covers it (v1's rows surface as inserts).
    "m46_sql_changes_by_timestamp" -> ((s, dir) => {
      import graft.plans.GraftDmlRegistry
      import graft.sources.SnapshotTable
      val t = Tables(s, dir)
      val key = Tables.pathKey(dir)
      val root = Tables.scratch("m46t", dir)
      Tables.rmrf(root)
      val name = s"m46t_$key"
      GraftDmlRegistry.unregister(name)
      val src = t.orders.select(col("o_orderkey"), col("o_totalprice"))
      // each commit carries its logical effective date as metadata —
      // committed through the same atomic pointer swap as the data
      SnapshotTable.commit(src.filter(col("o_orderkey") % 30 === 0), root,
        meta = "2024-01-01")                                           // v1
      SnapshotTable.append(src.filter(col("o_orderkey") % 30 === 1), root,
        meta = "2024-01-02")                                           // v2
      SnapshotTable.append(src.filter(col("o_orderkey") % 30 === 2), root,
        meta = "2024-01-03")                                           // v3
      GraftDmlRegistry.registerSnapshot(name, root)
      def roll(phase: String, ts1: String, ts2: String) = s.sql(
        s"SELECT '$phase' AS phase, _change_type AS change_type, " +
          "count(*) AS n_groups, CAST(sum(_n) AS BIGINT) AS n_rows, " +
          "CAST(floor(sum(CAST(o_totalprice AS DECIMAL(27,6)) * _n)) AS BIGINT) " +
          s"AS revenue FROM $name CHANGES BETWEEN TIMESTAMP '$ts1' " +
          s"AND TIMESTAMP '$ts2' GROUP BY 1, 2")
      // t1_t3: (as-of 01-01, as-of 01-05] = v1→v3; t0_t2: a start before
      // the first dated commit = the table's birth, so v1's rows surface
      roll("t1_t3", "2024-01-01", "2024-01-05")
        .unionByName(roll("t0_t2", "2023-12-31", "2024-01-02"))
        .orderBy("phase", "change_type")
    }),

    // M47: `t TIMESTAMP AS OF 'ts'` IN SQL — the read-side twin of the m46
    // feed (Delta's timestamp time travel; m14 proved the resolution
    // machinery as a library pattern, this makes it a SQL verb): the bound
    // resolves to the highest version whose commit metadata records a
    // logical date ≤ the probe (O(versions) tiny meta reads, no data
    // scan), then reads that snapshot through the ordinary VERSION AS OF
    // path — evolution-aware, any table size. A probe BEFORE the first
    // dated commit refuses (no snapshot to read — unlike a feed's start
    // bound, where the table's birth is a valid window edge; the spec pins
    // the refusal). Probes at, between, and past the commit dates grade
    // the ≤ semantics.
    "m47_sql_timestamp_as_of" -> ((s, dir) => {
      import graft.plans.GraftDmlRegistry
      import graft.sources.SnapshotTable
      val t = Tables(s, dir)
      val key = Tables.pathKey(dir)
      val root = Tables.scratch("m47t", dir)
      Tables.rmrf(root)
      val name = s"m47t_$key"
      GraftDmlRegistry.unregister(name)
      val src = t.orders.select(col("o_orderkey"), col("o_totalprice"))
      SnapshotTable.commit(src.filter(col("o_orderkey") % 4 === 0), root,
        meta = "2024-01-01")                                           // v1
      SnapshotTable.commit(src.filter(col("o_orderkey") % 2 === 0), root,
        meta = "2024-01-02")                                           // v2
      SnapshotTable.commit(src, root, meta = "2024-01-03")             // v3
      GraftDmlRegistry.registerSnapshot(name, root)
      def probe(ts: String) = s.sql(
        s"SELECT '$ts' AS as_of, count(*) AS n_rows, " +
          "CAST(floor(sum(CAST(o_totalprice AS DECIMAL(27,6)))) AS BIGINT) " +
          s"AS revenue FROM $name TIMESTAMP AS OF '$ts'")
      probe("2024-01-01").unionByName(probe("2024-01-02"))
        .unionByName(probe("2024-01-05"))
        .orderBy("as_of")
    })
  )

  /** Materialize `df` eagerly into a local relation (the plan executes
    * NOW, under whatever optimizer state is currently set). */
  private[operators] def eagerDf(s: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    s.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** The served answer of an MV pipeline: `df` planned and collected on a
    * clone of `s` with the rewrite flag on (the rewrite happens NOW), so
    * the caller's flag is never written. */
  private def served(s: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    Tables.withConf(s, graft.plans.GraftMvRewriteRule.Flag -> "true")(c =>
      eagerDf(c, Tables.rehome(c, df)))

  /** Shared registration discipline for the declared MV pipelines: inject
    * the rule, take exclusive ownership of BOTH MV registries (the rewrite
    * match-keys AND the SQL DDL definitions — clearing only the rewrite
    * side would leave DROP/REFRESH claiming views the rule no longer
    * serves), then build and register the view on a flag-OFF clone (the
    * registration query must not itself be rewritten against a stale
    * sibling). Serving needs the flag on: [[served]] sets it for the
    * declared queries, PlanSpec on its own session. */
  private def registerMv(s: org.apache.spark.sql.SparkSession, name: String,
      mvPath: String, viewDef: org.apache.spark.sql.DataFrame): Unit = {
    ensureMvRule(s)
    graft.plans.MvRegistry.clear()
    graft.plans.GraftMvDdlRegistry.clear()
    Tables.withConf(s, graft.plans.GraftMvRewriteRule.Flag -> "false") { c =>
      val view = Tables.rehome(c, viewDef)
      view.coalesce(1).write.mode("overwrite").parquet(mvPath)
      graft.plans.MvRegistry.register(name, view, mvPath)
    }
  }

  /** Append the flag-gated rewrite rule to the session's user batch once
    * (sessions built with GraftExtensions get it injected at build time). */
  private def ensureMvRule(s: org.apache.spark.sql.SparkSession): Unit =
    if (!s.experimental.extraOptimizations.contains(graft.plans.GraftMvRewriteRule))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ graft.plans.GraftMvRewriteRule

  /** m27's live pipeline (registration + flag ON + the re-issued view
    * definition) — shared with PlanSpec, which pins the rewritten plan. */
  def m27Pipeline(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val t = Tables(s, dir)
    val mvPath = Tables.scratch("m27", dir)
    def viewDef = t.orders
      .groupBy(year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"))
      .agg(count(lit(1)).as("n_orders"),
        round(Tables.dsum(col("o_totalprice")), 6).as("revenue"))
    // self-containment: each declared MV query owns the registries it
    // serves from (sibling MVs over the same source body would otherwise be
    // valid candidates and make the served path nondeterministic)
    registerMv(s, s"monthly_rev_${Tables.pathKey(dir)}", mvPath, viewDef)
    viewDef.orderBy("yr", "mo")
  }

  /** m28's live pipeline: register the fine (year, month) view, return the
    * coarser yearly rollup the rule serves by re-aggregating the MV. */
  def m28Pipeline(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val t = Tables(s, dir)
    val mvPath = Tables.scratch("m28", dir)
    def fine = t.orders
      .groupBy(year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(Tables.dec)).as("rev_sum"))
    registerMv(s, s"monthly_raw_${Tables.pathKey(dir)}", mvPath, fine)
    t.orders.groupBy(year(col("o_orderdate")).as("yr"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(Tables.dec)).as("rev_sum"))
      .select(col("yr"), col("n_orders"),
        round(col("rev_sum").cast("double"), 6).as("revenue"))
      .orderBy("yr")
  }

  /** m29's live pipeline: the JOIN view stores count(1), the exact-decimal
    * sum AND the NON-NULL count partial (count of the avg child) — the
    * partial Average's denominator decomposes through for a NULLABLE
    * child (count(1) would over-count if the column held NULLs; the
    * rewrite refuses nullable-child averages without this partial). */
  def m29Pipeline(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val t = Tables(s, dir)
    val mvPath = Tables.scratch("m29", dir)
    def fine = t.orders
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), year(col("o_orderdate")).as("yr"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(Tables.dec)).as("rev_sum"),
        count(col("o_totalprice").cast(Tables.dec)).as("n_price"))
    registerMv(s, s"seg_year_${Tables.pathKey(dir)}", mvPath, fine)
    // the coarser dashboard: segment-level count, revenue AND average —
    // served by re-aggregating the 25-row (segment, year) join MV
    t.orders.join(t.customer, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(Tables.dec)).as("rev_sum"),
        avg(col("o_totalprice").cast(Tables.dec)).as("avg_raw"))
      .select(col("c_mktsegment"), col("n_orders"),
        round(col("rev_sum").cast("double"), 6).as("revenue"),
        round(col("avg_raw").cast("double"), 6).as("avg_price"))
      .orderBy("c_mktsegment")
  }

  /** m32's live pipeline: register the unfiltered (year, month) view, then
    * issue the SLICED monthly dashboard — `WHERE year = 1996` must be
    * pushed onto the MV scan (tier 4). */
  def m32Pipeline(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val t = Tables(s, dir)
    val mvPath = Tables.scratch("m32", dir)
    def fine = t.orders
      .groupBy(year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(Tables.dec)).as("rev_sum"))
    registerMv(s, s"monthly_m32_${Tables.pathKey(dir)}", mvPath, fine)
    t.orders.filter(year(col("o_orderdate")) === 1996)
      .groupBy(month(col("o_orderdate")).as("mo"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(Tables.dec)).as("rev_sum"))
      .select(col("mo"), col("n_orders"),
        round(col("rev_sum").cast("double"), 6).as("revenue"))
      .orderBy("mo")
  }

  /** m25's read path, shared with PlanSpec's pruning pin: per-generation
    * spec-translated partition predicates + the row-level date filter. */
  def m25Read(s: org.apache.spark.sql.SparkSession, root: String): org.apache.spark.sql.DataFrame = {
    val legs = SnapshotTable.partitionedGenerations(root).map { case (_, spec, fs, base) =>
      val df = s.read.option("basePath", base)
        .parquet(fs.map(SnapshotTable.resolveEntry(root, _)): _*) // partitioned-generation read
      // the hidden-partitioning translation: the same data predicate,
      // projected onto whatever partition columns THIS generation has
      val pruned = spec match {
        case Seq("yr")       => df.filter(col("yr") === 1996)
        case Seq("yr", "mo") => df.filter(col("yr") === 1996 && col("mo") >= 3)
        case _               => df
      }
      pruned.select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
    }
    legs.reduce(_ unionByName _)
      .filter(col("o_orderdate") >= lit("1996-03-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
  }

  val oracles: Seq[(String, String)] = Seq(
    "m1_scd2_merge" ->
      ("WITH upd AS (SELECT o_custkey AS k, max(o_totalprice) AS new_bal, " +
        "max(o_orderdate) AS eff FROM orders " +
        "WHERE o_orderdate >= TIMESTAMP '1997-01-01' GROUP BY o_custkey), " +
        "j AS (SELECT c_custkey, c_acctbal, new_bal, eff FROM customer " +
        "LEFT JOIN upd ON c_custkey = k) " +
        "SELECT c_custkey, c_acctbal, TIMESTAMP '1992-01-01' AS valid_from, " +
        "TIMESTAMP '9999-12-31' AS valid_to, 1 AS is_current FROM j " +
        "WHERE eff IS NULL OR new_bal = c_acctbal " +
        "UNION ALL " +
        "SELECT c_custkey, c_acctbal, TIMESTAMP '1992-01-01', eff, 0 FROM j " +
        "WHERE eff IS NOT NULL AND new_bal <> c_acctbal " +
        "UNION ALL " +
        "SELECT c_custkey, new_bal, eff, TIMESTAMP '9999-12-31', 1 FROM j " +
        "WHERE eff IS NOT NULL AND new_bal <> c_acctbal " +
        "ORDER BY c_custkey, valid_from"),

    "m2_mv_incremental" ->
      ("SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo, " +
        "count(*) AS n_orders, " +
        "CAST(floor(sum(CAST(o_totalprice AS DECIMAL(27,6)))) AS BIGINT) AS revenue, " +
        "round(CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) / count(*), 6) AS avg_price " +
        "FROM orders GROUP BY 1, 2 ORDER BY yr, mo"),

    "m3_zonemap_skip" ->
      (s"SELECT month(o_orderdate) AS mo, count(*) AS n_orders, " +
        s"round(${Tables.dsumSql("o_totalprice")}, 6) AS revenue FROM orders " +
        "WHERE o_orderdate >= TIMESTAMP '1997-01-01' " +
        "AND o_orderdate <= TIMESTAMP '1997-06-30 23:59:59' " +
        "GROUP BY 1 ORDER BY mo"),

    "m4_data_quality_audit" ->
      ("SELECT rule, n_violations FROM (" +
        "SELECT 'nonpositive_quantity' AS rule, " +
        "CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations FROM lineitem " +
        "UNION ALL SELECT 'discount_out_of_range', " +
        "CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem " +
        "UNION ALL SELECT 'discount_above_5pct', " +
        "CAST(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem " +
        "UNION ALL SELECT 'nonpositive_totalprice', " +
        "CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) FROM orders " +
        "UNION ALL SELECT 'null_custkey', " +
        "CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM orders " +
        "UNION ALL SELECT 'orphan_orders', CAST(count(*) AS BIGINT) FROM orders " +
        "WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey) " +
        "UNION ALL SELECT 'ship_before_order', " +
        "CAST(sum(CASE WHEN l_shipdate < o_orderdate THEN 1 ELSE 0 END) AS BIGINT) " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey" +
        ") ORDER BY rule"),

    // three cumulative slices: version k sees residues 0..k-1
    "m8_snapshot_append" ->
      (s"SELECT v AS version, count(*) AS n_rows, " +
        s"round(${Tables.dsumSql("o_totalprice")}, 6) AS revenue " +
        "FROM orders, range(1, 4) t(v) WHERE o_orderkey % 5 < v " +
        "GROUP BY v ORDER BY version"),

    // pre- and post-compaction versions hold the same rows by construction;
    // the oracle states that invariance as the same aggregate twice
    "m9_snapshot_compact" ->
      (s"WITH v AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 8 IN (0,1,2,3)) " +
        s"SELECT 'pre' AS phase, count(*) AS n_rows, round(${Tables.dsumSql("o_totalprice")}, 6) AS revenue FROM v " +
        s"UNION ALL SELECT 'post' AS phase, count(*) AS n_rows, round(${Tables.dsumSql("o_totalprice")}, 6) AS revenue FROM v " +
        "ORDER BY phase"),

    "m6_snapshot_commit" ->
      (s"WITH v1 AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 7 = 0), " +
        "v2 AS (SELECT o_orderkey, CASE WHEN o_orderkey % 14 = 0 " +
        "THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice FROM v1) " +
        s"SELECT 1 AS version, count(*) AS n_rows, round(${Tables.dsumSql("o_totalprice")}, 6) AS revenue FROM v1 " +
        s"UNION ALL SELECT 2 AS version, count(*) AS n_rows, round(${Tables.dsumSql("o_totalprice")}, 6) AS revenue FROM v2 " +
        "ORDER BY version"),

    // replay of the merge: matched rows take the change value unless the
    // change is a delete; source-only upserts insert; target-only rows keep
    "m7_merge_into" ->
      ("WITH tgt AS (SELECT o_orderkey AS k, o_totalprice AS price FROM orders " +
        "WHERE o_orderkey % 3 = 0), " +
        "ch AS (SELECT o_orderkey AS k, o_totalprice * 2 AS price, " +
        "CASE WHEN o_orderkey % 24 = 0 THEN 'delete' ELSE 'upsert' END AS op " +
        "FROM orders WHERE o_orderkey % 4 = 0), " +
        "merged AS (SELECT COALESCE(t.k, c.k) AS k, " +
        "CASE WHEN c.k IS NOT NULL THEN c.price ELSE t.price END AS price " +
        "FROM tgt t FULL OUTER JOIN ch c ON t.k = c.k " +
        "WHERE c.op IS NULL OR c.op <> 'delete') " +
        s"SELECT k % 10 AS bucket, count(*) AS n, " +
        s"round(${Tables.dsumSql("price")}, 6) AS revenue " +
        "FROM merged GROUP BY 1 ORDER BY bucket"),

    "m5_snapshot_diff" ->
      ("WITH a AS (SELECT o_orderkey AS ak, o_orderpriority AS av FROM orders " +
        "WHERE o_orderkey % 7 <> 0), " +
        "b AS (SELECT o_orderkey AS bk, CASE WHEN o_orderkey % 3 = 0 " +
        "THEN '9-REWRITTEN' ELSE o_orderpriority END AS bv FROM orders " +
        "WHERE o_orderkey % 5 <> 0) " +
        "SELECT CASE WHEN ak IS NULL THEN 'added' WHEN bk IS NULL THEN 'removed' " +
        "WHEN av <> bv THEN 'changed' ELSE 'unchanged' END AS kind, " +
        "count(*) AS n FROM a FULL OUTER JOIN b ON ak = bk " +
        "GROUP BY 1 ORDER BY kind"),

    // the incremental merge must equal the from-scratch join view
    "m11_mv_join_incremental" ->
      ("SELECT c_mktsegment, year(o_orderdate) AS yr, count(*) AS n_orders, " +
        "CAST(floor(sum(CAST(o_totalprice AS DECIMAL(27,6)))) AS BIGINT) AS revenue " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY 1, 2 ORDER BY c_mktsegment, yr"),

    // the skipping path must be invisible: same answer as the plain filter
    "m10_bloom_index_lookup" ->
      ("SELECT o_orderkey, o_custkey, round(o_totalprice, 6) AS totalprice " +
        "FROM orders WHERE o_custkey IN (1, 7, 25) ORDER BY o_orderkey"),

    // the WAP outcome is fully determined by the data: the corrupted batch
    // must fail its audit (pointer stays at v1), the clean one publishes v2
    "m12_write_audit_publish" -> {
      def row(step: String, passed: Int, v: Int, from: String) =
        s"SELECT '$step' AS step, CAST($passed AS INT) AS audit_passed, " +
          s"CAST($v AS BIGINT) AS published_version, count(*) AS n_rows, " +
          s"round(${Tables.dsumSql("o_totalprice")}, 6) AS revenue FROM $from"
      "WITH base AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 0), " +
        "bad AS (SELECT o_orderkey, CASE WHEN o_orderkey % 30 = 1 THEN -o_totalprice " +
        "ELSE o_totalprice END AS o_totalprice FROM orders WHERE o_orderkey % 3 = 1), " +
        "good AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 1), " +
        "badstage AS (SELECT * FROM base UNION ALL SELECT * FROM bad), " +
        "pub AS (SELECT * FROM base UNION ALL SELECT * FROM good) " +
        row("baseline", 1, 1, "base") + " UNION ALL " +
        row("bad_staged", 0, 1, "badstage") + " UNION ALL " +
        row("good_published", 1, 2, "pub") + " ORDER BY step"
    },

    // AS OF Jan 1 → v1 (%4), Jan 2 → v2 (%2), Jan 5 → v3 (all)
    "m14_time_travel_asof" -> {
      def row(asOf: String, v: Int, mod: Int) =
        s"SELECT '$asOf' AS as_of, CAST($v AS BIGINT) AS version, " +
          "count(*) AS n_rows, " +
          "CAST(floor(sum(CAST(o_totalprice AS DECIMAL(27,6)))) AS BIGINT) AS revenue " +
          s"FROM orders WHERE o_orderkey % $mod = 0"
      row("2024-01-01", 1, 4) + " UNION ALL " + row("2024-01-02", 2, 2) +
        " UNION ALL " + row("2024-01-05", 3, 1) + " ORDER BY as_of"
    },

    // the spliced MV must equal the full recompute; a partition took the
    // repair path iff it contains a late row
    "m13_partition_backfill" ->
      ("SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo, " +
        "count(*) AS n_orders, " +
        "CAST(floor(sum(CAST(o_totalprice AS DECIMAL(27,6)))) AS BIGINT) AS revenue, " +
        "max(CASE WHEN o_orderkey % 11 = 0 THEN 1 ELSE 0 END) AS recomputed " +
        "FROM orders GROUP BY 1, 2 ORDER BY yr, mo"),

    // final table = (base minus %7-deletes) plus the %10-insert slice;
    // the engine reaches it incrementally, the oracle recomputes it
    "m15_mv_retract" ->
      ("SELECT o_orderpriority, count(*) AS n_orders, " +
        "CAST(floor(sum(CAST(o_totalprice AS DECIMAL(27,6)))) AS BIGINT) AS revenue " +
        "FROM orders WHERE (o_orderkey % 10 != 0 AND o_orderkey % 7 != 0) " +
        "OR o_orderkey % 10 = 0 GROUP BY 1 ORDER BY o_orderpriority"),

    // whatever mix of deletion vectors and purge-rewrites serves the reads,
    // the live rows are exactly the delete predicates' complement
    "m16_deletion_vectors" ->
      ("SELECT o_orderkey % 10 AS bucket, count(*) AS n, " +
        s"round(${Tables.dsumSql("o_totalprice")}, 6) AS revenue " +
        "FROM orders WHERE o_orderkey % 3 = 0 " +
        "AND NOT (o_orderdate < TIMESTAMP '1996-01-01' OR o_custkey % 97 = 0) " +
        "GROUP BY 1 ORDER BY bucket"),

    // DV-mask + append must read back as a plain conditional UPDATE
    "m17_dv_update" ->
      ("SELECT o_orderkey % 10 AS bucket, count(*) AS n, " +
        s"round(${Tables.dsumSql(
          "CASE WHEN year(o_orderdate) = 1996 THEN o_totalprice * 2 ELSE o_totalprice END")}, 6) AS revenue " +
        "FROM orders WHERE o_orderkey % 3 = 0 " +
        "GROUP BY 1 ORDER BY bucket"),

    // evolved read = both generations as one table, pre-evolution rows
    // null-filled into the sentinel bucket
    "m18_schema_evolution" ->
      ("SELECT CASE WHEN o_orderkey % 4 = 2 THEN o_orderpriority " +
        "ELSE '<pre-evolution>' END AS prio, o_orderstatus, count(*) AS n, " +
        s"round(${Tables.dsumSql("o_totalprice")}, 6) AS revenue " +
        "FROM orders WHERE o_orderkey % 4 IN (1, 2) " +
        "GROUP BY 1, 2 ORDER BY prio, o_orderstatus"),

    // the field-id evolution read reassembles generation-independent logical
    // content, so the oracle recomputes it from the raw table
    "m19_schema_evo_rename_widen" ->
      ("SELECT o_orderkey % 4 AS gen, o_orderstatus AS order_status, " +
        "count(*) AS n, " +
        "CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS price_sum " +
        "FROM orders GROUP BY 1, 2 ORDER BY gen, order_status"),

    // vacuum never changes the latest content; the expired count (3) is
    // deterministic from the declared commit sequence
    "m20_snapshot_expire" ->
      ("SELECT o_orderkey % 10 AS bucket, count(*) AS n, " +
        s"round(${Tables.dsumSql("o_totalprice")}, 6) AS revenue, " +
        "CAST(3 AS INT) AS n_expired " +
        "FROM orders GROUP BY 1 ORDER BY bucket"),

    // the quarantine ledger re-derives from the same ordered CASE rule list
    "m21_expectations_quarantine" ->
      ("WITH t AS (SELECT CASE WHEN l_quantity > 45 THEN 'quantity_gt_45' " +
        "WHEN l_discount > 0.08 THEN 'discount_gt_8pct' " +
        "WHEN l_tax > 0.07 THEN 'tax_gt_7pct' " +
        "WHEN l_returnflag NOT IN ('A', 'N', 'R') THEN 'bad_returnflag' END AS rule " +
        "FROM lineitem) " +
        "SELECT rule, n_rows FROM (" +
        "SELECT r.rule, CAST(coalesce(q.n, 0) AS BIGINT) AS n_rows " +
        "FROM (VALUES ('quantity_gt_45'), ('discount_gt_8pct'), " +
        "('tax_gt_7pct'), ('bad_returnflag')) r(rule) " +
        "LEFT JOIN (SELECT rule, count(*) AS n FROM t WHERE rule IS NOT NULL " +
        "GROUP BY 1) q USING (rule) " +
        "UNION ALL SELECT 'committed', count(*) FROM t WHERE rule IS NULL" +
        ") ORDER BY rule"),

    // three timelines, each a residue set of the raw table: the diverged
    // source {0,1,3}, the diverged clone {0,1,2}, the clone's v1 {0,1}
    "m22_shallow_clone" ->
      ("WITH sl AS (SELECT o_orderkey % 5 AS r, o_totalprice FROM orders) " +
        "SELECT side, n_rows, revenue FROM (" +
        "SELECT 'source' AS side, count(*) AS n_rows, " +
        s"round(${Tables.dsumSql("o_totalprice")}, 6) AS revenue " +
        "FROM sl WHERE r IN (0, 1, 3) " +
        "UNION ALL SELECT 'clone', count(*), " +
        s"round(${Tables.dsumSql("o_totalprice")}, 6) " +
        "FROM sl WHERE r IN (0, 1, 2) " +
        "UNION ALL SELECT 'clone_v1', count(*), " +
        s"round(${Tables.dsumSql("o_totalprice")}, 6) " +
        "FROM sl WHERE r IN (0, 1)" +
        ") ORDER BY side")
  ) ++ Seq(

    // the ledger's (n_rows, revenue) after each step re-derives from the
    // declared commit sequence: v2 = residues {0,1}, v3 = {0,1,2},
    // v4 = {0,1,2,3} of o_orderkey % 4
    "m23_concurrent_writers" ->
      ("WITH st AS (" +
        "SELECT 2 AS v, count(*) AS n, " +
        s"CAST(floor(${Tables.dsumSql("o_totalprice")}) AS BIGINT) AS rev " +
        "FROM orders WHERE o_orderkey % 4 IN (0, 1) " +
        "UNION ALL SELECT 3, count(*), " +
        s"CAST(floor(${Tables.dsumSql("o_totalprice")}) AS BIGINT) " +
        "FROM orders WHERE o_orderkey % 4 IN (0, 1, 2) " +
        "UNION ALL SELECT 4, count(*), " +
        s"CAST(floor(${Tables.dsumSql("o_totalprice")}) AS BIGINT) " +
        "FROM orders) " +
        "SELECT l.step, l.actor, CAST(l.base AS BIGINT) AS base, l.outcome, " +
        "CAST(l.version AS BIGINT) AS version, st.n AS n_rows, st.rev AS revenue " +
        "FROM (VALUES " +
        "(1, 'A', 1, 'committed', 2, 2), " +
        "(2, 'B', 1, 'conflict', 0, 2), " +
        "(3, 'B', 2, 'committed', 3, 3), " +
        "(4, 'C', 3, 'blocked_stale', 0, 3), " +
        "(5, 'recovery', 3, 'released', 4, 3), " +
        "(6, 'C', 3, 'committed', 4, 4)" +
        ") l(step, actor, base, outcome, version, sv) " +
        "JOIN st ON st.v = l.sv ORDER BY l.step"),

    // post-sweep content == the committed snapshot (all three residue
    // slices); the sweep counts are deterministic from the planted orphans:
    // 1 debris parquet + 1 staged (coalesced) parquet, 1 staged manifest,
    // second pass empty
    "m24_orphan_cleanup" ->
      ("SELECT o_orderkey % 10 AS bucket, count(*) AS n, " +
        s"round(${Tables.dsumSql("o_totalprice")}, 6) AS revenue, " +
        "CAST(2 AS INT) AS n_orphan_parquet, CAST(1 AS INT) AS n_staged_manifests, " +
        "CAST(0 AS INT) AS n_second_pass " +
        "FROM orders WHERE o_orderkey % 3 IN (0, 1) GROUP BY 1 ORDER BY bucket"),

    // containment must be answer-preserving — the oracle computes the
    // yearly rollup from the raw facts
    "m28_mv_containment" ->
      ("SELECT year(o_orderdate) AS yr, count(*) AS n_orders, " +
        s"round(${Tables.dsumSql("o_totalprice")}, 6) AS revenue " +
        "FROM orders GROUP BY 1 ORDER BY yr"),

    // the rewrite must be answer-preserving — the oracle computes from the
    // facts what the engine serves from the MV
    "m27_mv_auto_rewrite" ->
      ("SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo, " +
        "count(*) AS n_orders, " +
        s"round(${Tables.dsumSql("o_totalprice")}, 6) AS revenue " +
        "FROM orders GROUP BY 1, 2 ORDER BY yr, mo"),

    // post-rollback content = the good v2 state (residues {0,1}); the bad
    // version's row count re-derives from the fat-finger predicate
    "m26_snapshot_rollback" ->
      ("SELECT o_orderkey % 10 AS bucket, count(*) AS n, " +
        s"round(${Tables.dsumSql("o_totalprice")}, 6) AS revenue, " +
        "CAST(4 AS BIGINT) AS current_version, " +
        "(SELECT count(*) FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 10 < 5) AS bad_version_rows, " +
        "'rollback:2' AS audit " +
        "FROM orders WHERE o_orderkey % 3 IN (0, 1) GROUP BY 1 ORDER BY bucket"),

    // spec evolution never changes an answer — the oracle is the plain
    // date-range rollup on the raw table
    "m25_partition_evolution" ->
      ("SELECT month(o_orderdate) AS mo, count(*) AS n, " +
        s"round(${Tables.dsumSql("o_totalprice")}, 6) AS revenue FROM orders " +
        "WHERE o_orderdate >= TIMESTAMP '1996-03-01' " +
        "AND o_orderdate < TIMESTAMP '1997-01-01' " +
        "GROUP BY 1 ORDER BY mo"),

    // everything re-derived from the raw join; avg as one double division
    // of the exact decimal sum (Spark's decimal avg rounds at 1e-10 before
    // the double cast — both land on the same 6dp digits)
    "m29_mv_join_containment" ->
      ("SELECT c_mktsegment, count(*) AS n_orders, " +
        "round(CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE), 6) AS revenue, " +
        "round(CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) / count(*), 6) AS avg_price " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY 1 ORDER BY c_mktsegment"),

    // the whole DML statement chain replayed as conditional SQL over the
    // raw facts: seed (%4=0) -> MERGE (+1 on %8=0, delete %16=4, insert
    // %4=1) -> UPDATE (*2 on %32=0) -> DELETE (%32=5). All price arithmetic
    // is single IEEE ops on identical doubles, so the decimal rollup is
    // engine-exact.
    "m30_sql_dml" ->
      ("WITH tgt AS (SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus " +
        "FROM orders WHERE o_orderkey % 4 = 0), " +
        "merged AS (SELECT o_orderkey, o_custkey, " +
        "CASE WHEN o_orderkey % 8 = 0 THEN o_totalprice + 1.0 " +
        "ELSE o_totalprice END AS o_totalprice, o_orderstatus " +
        "FROM tgt WHERE o_orderkey % 16 <> 4 " +
        "UNION ALL SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus " +
        "FROM orders WHERE o_orderkey % 4 = 1), " +
        "updated AS (SELECT o_orderkey, " +
        "CASE WHEN o_orderkey % 32 = 0 THEN o_totalprice * 2 " +
        "ELSE o_totalprice END AS o_totalprice FROM merged), " +
        "fin AS (SELECT * FROM updated WHERE o_orderkey % 32 <> 5) " +
        "SELECT o_orderkey % 10 AS bucket, count(*) AS n, " +
        s"round(${Tables.dsumSql("o_totalprice")}, 6) AS revenue, " +
        "(SELECT count(*) FROM tgt) AS n_v1, " +
        "(SELECT count(*) FROM merged) AS merged_rows, " +
        "(SELECT count(*) FROM merged WHERE o_orderkey % 32 = 0) AS n_updated, " +
        "(SELECT count(*) FROM updated WHERE o_orderkey % 32 = 5) AS n_deleted, " +
        "CAST(4 AS BIGINT) AS current_version " +
        "FROM fin GROUP BY 1 ORDER BY bucket"),

    // the per-column clause cascade replayed as CASE SQL: matched rows are
    // claimed in clause order (DELETE when cprice < 50000, else UPDATE when
    // the target row is 'F', else pass through); source-only keys insert
    // with the unlisted o_custkey NULL. Price arithmetic is single IEEE ops
    // on identical doubles — engine-exact under the decimal rollup.
    "m31_sql_merge_cols" ->
      ("WITH tgt AS (SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus " +
        "FROM orders WHERE o_orderkey % 3 = 0), " +
        "chg AS (SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus " +
        "FROM orders WHERE o_orderkey % 2 = 0), " +
        "m AS (SELECT t.o_orderkey, t.o_custkey, t.o_totalprice AS tprice, " +
        "t.o_orderstatus AS tstatus, c.o_orderkey AS ck, c.o_totalprice AS cprice " +
        "FROM tgt t LEFT JOIN chg c ON t.o_orderkey = c.o_orderkey), " +
        "kept AS (SELECT o_orderkey, o_custkey, " +
        "CASE WHEN ck IS NOT NULL AND tstatus = 'F' THEN tprice + cprice " +
        "ELSE tprice END AS o_totalprice, " +
        "CASE WHEN ck IS NOT NULL AND tstatus = 'F' THEN 'U' " +
        "ELSE tstatus END AS o_orderstatus " +
        "FROM m WHERE ck IS NULL OR NOT (cprice < 50000)), " +
        "ins AS (SELECT c.o_orderkey, CAST(NULL AS BIGINT) AS o_custkey, " +
        "c.o_totalprice * 0.5 AS o_totalprice, 'N' AS o_orderstatus " +
        "FROM chg c LEFT JOIN tgt t ON c.o_orderkey = t.o_orderkey " +
        "WHERE t.o_orderkey IS NULL), " +
        "fin AS (SELECT * FROM kept UNION ALL SELECT * FROM ins) " +
        "SELECT o_orderstatus, count(*) AS n, " +
        s"round(${Tables.dsumSql("o_totalprice")}, 6) AS revenue, " +
        "count(o_custkey) AS n_custkey, " +
        "(SELECT count(*) FROM fin) AS merged_rows, " +
        "CAST(2 AS BIGINT) AS current_version " +
        "FROM fin GROUP BY 1 ORDER BY o_orderstatus"),

    // the three appends replayed as UNION ALLs over the raw facts: seed
    // (%5=0), full-width insert (%5=1), column-listed insert (%5=2 with
    // NULL-filled custkey/status), one literal row. All price arithmetic
    // is single IEEE ops on identical doubles — engine-exact.
    "m33_sql_insert" ->
      ("WITH t0 AS (SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus " +
        "FROM orders WHERE o_orderkey % 5 = 0), " +
        "i1 AS (SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus " +
        "FROM orders WHERE o_orderkey % 5 = 1), " +
        "i2 AS (SELECT o_orderkey, CAST(NULL AS BIGINT) AS o_custkey, " +
        "o_totalprice * 0.5 AS o_totalprice, CAST(NULL AS VARCHAR) AS o_orderstatus " +
        "FROM orders WHERE o_orderkey % 5 = 2), " +
        "i3 AS (SELECT CAST(-1 AS BIGINT) AS o_orderkey, CAST(-2 AS BIGINT) AS o_custkey, " +
        "CAST(42.5 AS DOUBLE) AS o_totalprice, 'X' AS o_orderstatus), " +
        "fin AS (SELECT * FROM t0 UNION ALL SELECT * FROM i1 " +
        "UNION ALL SELECT * FROM i2 UNION ALL SELECT * FROM i3) " +
        "SELECT o_orderstatus, count(*) AS n, " +
        s"round(${Tables.dsumSql("o_totalprice")}, 6) AS revenue, " +
        "count(o_custkey) AS n_custkey, " +
        "(SELECT count(*) FROM i1) AS ins_full, " +
        "(SELECT count(*) FROM i2) AS ins_cols, " +
        "CAST(1 AS BIGINT) AS ins_values, " +
        "CAST(4 AS BIGINT) AS current_version " +
        "FROM fin GROUP BY 1 ORDER BY o_orderstatus"),

    // the version ledger's operation strings replay from the raw facts:
    // insert count = the %7=1 slice; update count = %3=0 rows of the
    // union; delete count = %5=4 rows of the union
    "m34_sql_history" ->
      ("WITH t0 AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 7 IN (0, 1)) " +
        "SELECT * FROM (VALUES " +
        "(CAST(1 AS BIGINT), 'seed'), " +
        "(CAST(2 AS BIGINT), 'insert:' || (SELECT count(*) FROM orders WHERE o_orderkey % 7 = 1)), " +
        "(CAST(3 AS BIGINT), 'update:' || (SELECT count(*) FROM t0 WHERE o_orderkey % 3 = 0)), " +
        "(CAST(4 AS BIGINT), 'delete:' || (SELECT count(*) FROM t0 WHERE o_orderkey % 5 = 4))" +
        ") t(version, operation) ORDER BY version"),

    // the three copy campaigns replayed: content = seed (%5==1) + wave 1
    // (%5==0) + wave 2 (%5==2); the ledger makes the re-run load zero
    "m38_sql_copy_into" ->
      ("WITH seed AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 5 = 1), " +
        "w1 AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 5 = 0), " +
        "w2 AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 5 = 2), " +
        "cur AS (SELECT * FROM seed UNION ALL SELECT * FROM w1 UNION ALL SELECT * FROM w2) " +
        "SELECT o_orderkey % 4 AS bucket, count(*) AS n, " +
        "CAST(floor(sum(CAST(o_totalprice AS DECIMAL(27,6)))) AS BIGINT) AS revenue, " +
        "CAST(2 AS BIGINT) AS v1_files, (SELECT count(*) FROM w1) AS v1_rows, " +
        "CAST(0 AS BIGINT) AS rerun_files, CAST(0 AS BIGINT) AS rerun_rows, " +
        "CAST(1 AS BIGINT) AS v2_files, (SELECT count(*) FROM w2) AS v2_rows, " +
        "CAST(3 AS BIGINT) AS final_version " +
        "FROM cur GROUP BY 1 ORDER BY bucket"),

    // the full-sync cascade replayed: matched (%6==0) rows take the halved
    // source price; target rows absent from the source (%6==3) delete when
    // 'F' and tombstone to 'X' otherwise; source-only keys (%6==1) insert
    "m37_sql_merge_full_sync" ->
      ("WITH tgt AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders " +
        "WHERE o_orderkey % 3 = 0), " +
        "fin AS (" +
        "SELECT o_orderkey, o_totalprice * 0.5 AS o_totalprice, o_orderstatus " +
        "FROM tgt WHERE o_orderkey % 6 = 0 " +
        "UNION ALL SELECT o_orderkey, o_totalprice, 'X' AS o_orderstatus " +
        "FROM tgt WHERE o_orderkey % 6 = 3 AND o_orderstatus <> 'F' " +
        "UNION ALL SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders " +
        "WHERE o_orderkey % 6 = 1) " +
        "SELECT o_orderstatus, count(*) AS n, " +
        "CAST(floor(sum(CAST(o_totalprice AS DECIMAL(27,6)))) AS BIGINT) AS revenue, " +
        "CAST(2 AS BIGINT) AS merged_version, " +
        "(SELECT count(*) FROM fin) AS merged_rows " +
        "FROM fin GROUP BY 1 ORDER BY o_orderstatus"),

    // the MV lifecycle replayed: 'fresh' sees only the even-key slice (the
    // MV built from it — serving is a layout choice, content is the
    // slice's rollup); 'stale' and 'refreshed' both see the full table
    "m36_sql_mv_lifecycle" ->
      ("WITH s1 AS (SELECT o_orderdate, o_totalprice FROM orders WHERE o_orderkey % 4 = 0), " +
        "s2 AS (SELECT o_orderdate, o_totalprice FROM orders WHERE o_orderkey % 4 IN (0, 1)) " +
        "SELECT 'fresh' AS phase, year(o_orderdate) AS yr, month(o_orderdate) AS mo, " +
        "count(*) AS n_orders, CAST(floor(sum(CAST(o_totalprice AS DECIMAL(27,6)))) AS BIGINT) AS revenue " +
        "FROM s1 GROUP BY 2, 3 " +
        "UNION ALL SELECT 'stale', year(o_orderdate), month(o_orderdate), " +
        "count(*), CAST(floor(sum(CAST(o_totalprice AS DECIMAL(27,6)))) AS BIGINT) FROM s2 GROUP BY 2, 3 " +
        "UNION ALL SELECT 'refreshed', year(o_orderdate), month(o_orderdate), " +
        "count(*), CAST(floor(sum(CAST(o_totalprice AS DECIMAL(27,6)))) AS BIGINT) FROM s2 GROUP BY 2, 3 " +
        "ORDER BY phase, yr, mo"),

    // the maintenance lifecycle replayed: final content = the CTAS slice +
    // the inserted slice at ORIGINAL prices (the restore undid the doubled
    // update); the ledger columns are deterministic functions of the fixed
    // flow (8+4 files in, 2 out; versions 1..5; v1/v2 expired)
    "m35_sql_maintenance" ->
      ("WITH v1 AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 6 = 0), " +
        "ins AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 6 = 3), " +
        "cur AS (SELECT * FROM v1 UNION ALL SELECT * FROM ins) " +
        "SELECT o_orderkey % 5 AS bucket, count(*) AS n, " +
        s"round(${Tables.dsumSql("o_totalprice")}, 6) AS revenue, " +
        "'optimize:12->2|update:' || (SELECT count(*) FROM cur WHERE o_orderkey % 12 = 0) || '|rollback:3' AS ops, " +
        "(SELECT count(*) FROM v1) AS ctas_rows, " +
        "(SELECT count(*) FROM ins) AS insert_rows, " +
        "CAST(12 AS BIGINT) AS files_before, " +
        "CAST(12 AS BIGINT) AS files_rewritten, " +
        "CAST(2 AS BIGINT) AS files_after, " +
        "CAST(5 AS BIGINT) AS restored_version, " +
        "(SELECT count(*) FROM cur) AS restored_rows, " +
        "CAST(2 AS BIGINT) AS n_expired " +
        "FROM cur GROUP BY 1 ORDER BY bucket"),

    // filtered containment must be answer-preserving — the oracle computes
    // the 1996 monthly slice from the raw facts
    "m32_mv_filtered_containment" ->
      ("SELECT month(o_orderdate) AS mo, count(*) AS n_orders, " +
        s"round(${Tables.dsumSql("o_totalprice")}, 6) AS revenue " +
        "FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1 ORDER BY mo"),

    // the catalog only remaps NAMES — the data is CTAS (%3=0) + INSERT
    // (%3=1), and both the restart-reloaded raw read and the reloaded-MV
    // serve must produce the identical rollup (phases 'direct' and 'mv')
    "m39_sql_metastore" ->
      ("WITH base AS (SELECT o_orderstatus, o_totalprice FROM orders " +
        "WHERE o_orderkey % 30 IN (0, 1)), " +
        "agg AS (SELECT o_orderstatus, count(*) AS n, " +
        "CAST(floor(sum(CAST(o_totalprice AS DECIMAL(27,6)))) AS BIGINT) " +
        "AS revenue FROM base GROUP BY o_orderstatus) " +
        "SELECT p.phase, a.o_orderstatus, a.n, a.revenue, " +
        "CAST(2 AS BIGINT) AS n_versions, CAST(2 AS BIGINT) AS current_version " +
        "FROM agg a CROSS JOIN (SELECT 'direct' AS phase UNION ALL " +
        "SELECT 'mv') p ORDER BY phase, o_orderstatus"),

    // the evolved table replayed from the raw facts: generation 1 (%4=0,
    // tag backfilled 'seed' by the post-rename UPDATE through null-fill)
    // + generation 2 (%4=1, tag 'w2' at insert); yr sums as BIGINT (the
    // widened read type); v1 time-travels to the pre-evolution schema
    "m40_sql_alter_evolution" ->
      ("WITH w1 AS (SELECT o_totalprice, CAST(year(o_orderdate) AS INT) AS yr " +
        "FROM orders WHERE o_orderkey % 40 = 0), " +
        "w2 AS (SELECT o_totalprice, CAST(year(o_orderdate) AS INT) AS yr " +
        "FROM orders WHERE o_orderkey % 40 = 1), " +
        "fin AS (SELECT 'seed' AS batch_tag, o_totalprice, yr FROM w1 " +
        "UNION ALL SELECT 'w2', o_totalprice, yr FROM w2) " +
        "SELECT batch_tag, count(*) AS n, " +
        "CAST(floor(sum(CAST(o_totalprice AS DECIMAL(27,6)))) AS BIGINT) " +
        "AS revenue, CAST(sum(yr) AS BIGINT) AS sum_yr, " +
        "(SELECT count(*) FROM w1) AS n_v1, " +
        "(SELECT count(*) FROM w1) AS n_status_v1, " +
        "(SELECT count(*) FROM w1) AS n_updated, " +
        "CAST(7 AS BIGINT) AS current_version, " +
        "CAST(4 AS BIGINT) AS n_columns " +
        "FROM fin GROUP BY batch_tag ORDER BY batch_tag"),

    // the composite-key merge replayed: matched rows (both keys) with
    // qty > 25 take the conditional update; source-only rows split
    // first-match-wins between the two INSERT clauses (price > 30000 ->
    // 'H' full row, else 'L' with l_extendedprice left NULL)
    "m41_sql_merge_composite" ->
      ("WITH tgt AS (SELECT l_orderkey, l_linenumber, l_quantity, " +
        "l_extendedprice, l_returnflag FROM lineitem WHERE l_orderkey % 4 = 0), " +
        "chg AS (SELECT l_orderkey, l_linenumber, max(l_quantity) AS " +
        "l_quantity, max(l_extendedprice) AS l_extendedprice FROM lineitem " +
        "WHERE l_orderkey % 2 = 0 GROUP BY 1, 2), " +
        "kept AS (SELECT CASE WHEN c.l_orderkey IS NOT NULL AND " +
        "c.l_quantity > 25 THEN t.l_quantity + c.l_quantity " +
        "ELSE t.l_quantity END AS l_quantity, t.l_extendedprice, " +
        "CASE WHEN c.l_orderkey IS NOT NULL AND c.l_quantity > 25 " +
        "THEN 'M' ELSE t.l_returnflag END AS l_returnflag " +
        "FROM tgt t LEFT JOIN chg c ON t.l_orderkey = c.l_orderkey " +
        "AND t.l_linenumber = c.l_linenumber), " +
        "ins AS (SELECT CASE WHEN c.l_extendedprice > 30000 " +
        "THEN c.l_quantity ELSE 0.0 END AS l_quantity, " +
        "CASE WHEN c.l_extendedprice > 30000 THEN c.l_extendedprice " +
        "ELSE NULL END AS l_extendedprice, " +
        "CASE WHEN c.l_extendedprice > 30000 THEN 'H' ELSE 'L' END " +
        "AS l_returnflag FROM chg c LEFT JOIN tgt t " +
        "ON c.l_orderkey = t.l_orderkey AND c.l_linenumber = t.l_linenumber " +
        "WHERE t.l_orderkey IS NULL), " +
        "fin AS (SELECT * FROM kept UNION ALL SELECT * FROM ins) " +
        "SELECT l_returnflag, count(*) AS n, " +
        "round(CAST(sum(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE), 6) " +
        "AS sum_qty, count(l_extendedprice) AS n_price, " +
        "(SELECT count(*) FROM fin) AS merged_rows, " +
        "CAST(2 AS BIGINT) AS current_version " +
        "FROM fin GROUP BY l_returnflag ORDER BY l_returnflag"),

    // both feeds replay from the raw facts: v1→v2 inserts are the %30=1
    // slice (orderkeys unique, so groups == rows); v2→v3 is one delete at
    // the old price + one insert at price+1 per updated row. The UPDATE
    // predicate %60=30 implies %30=0, so every matched key is in the
    // seeded slice (a residue coprime to the seed residues would silently
    // match nothing and grade an empty feed)
    "m42_sql_table_changes" ->
      ("WITH w1 AS (SELECT o_totalprice FROM orders WHERE o_orderkey % 30 = 1), " +
        "upd AS (SELECT o_totalprice FROM orders WHERE o_orderkey % 60 = 30) " +
        "SELECT * FROM (" +
        "SELECT 'v1_v2' AS phase, 'insert' AS _change_type, " +
        "count(*) AS n_groups, count(*) AS n_rows, " +
        "CAST(floor(sum(CAST(o_totalprice AS DECIMAL(27,6)))) AS BIGINT) " +
        "AS revenue FROM w1 " +
        "UNION ALL SELECT 'v2_v3', 'delete', count(*), count(*), " +
        "CAST(floor(sum(CAST(o_totalprice AS DECIMAL(27,6)))) AS BIGINT) " +
        "FROM upd " +
        "UNION ALL SELECT 'v2_v3', 'insert', count(*), count(*), " +
        "CAST(floor(sum(CAST(o_totalprice + 1.0 AS DECIMAL(27,6)))) AS BIGINT) " +
        "FROM upd) ORDER BY phase, _change_type"),

    // the keyed feed replays from the raw facts: v1→v2 appends are
    // inserts; the v2→v3 UPDATE (%60=30 ⊂ the %30=0 seed) emits exactly
    // one preimage at the old price and one postimage at +1.0 per matched
    // key (rows merely rewritten in the same files cancel); the v3→v4
    // DELETE (%120=30 ⊂ %60=30, so every deleted key carries the updated
    // price) emits one delete per key
    "m43_sql_keyed_changes" ->
      ("WITH ins AS (SELECT o_totalprice FROM orders WHERE o_orderkey % 30 = 1), " +
        "upd AS (SELECT o_totalprice FROM orders WHERE o_orderkey % 60 = 30), " +
        "del AS (SELECT o_totalprice + 1.0 AS o_totalprice FROM orders " +
        "WHERE o_orderkey % 120 = 30) " +
        "SELECT * FROM (" +
        "SELECT 'v1_v2' AS phase, 'insert' AS change_type, count(*) AS n_rows, " +
        "CAST(floor(sum(CAST(o_totalprice AS DECIMAL(27,6)))) AS BIGINT) " +
        "AS revenue FROM ins " +
        "UNION ALL SELECT 'v2_v3', 'update_preimage', count(*), " +
        "CAST(floor(sum(CAST(o_totalprice AS DECIMAL(27,6)))) AS BIGINT) " +
        "FROM upd " +
        "UNION ALL SELECT 'v2_v3', 'update_postimage', count(*), " +
        "CAST(floor(sum(CAST(o_totalprice + 1.0 AS DECIMAL(27,6)))) AS BIGINT) " +
        "FROM upd " +
        "UNION ALL SELECT 'v3_v4', 'delete', count(*), " +
        "CAST(floor(sum(CAST(o_totalprice AS DECIMAL(27,6)))) AS BIGINT) " +
        "FROM del) ORDER BY phase, change_type"),

    // the evolving feed replays from the raw facts: the pre-ALTER window
    // contributes the %30=1 inserts (note NULL → 'none'), the ALTER
    // contributes nothing, the post-ALTER window contributes the %30=2
    // inserts tagged 'new' plus one delete at the old price and one insert
    // at +1.0 per %60=30 key (both note-less — the updated rows predate
    // the column). Order keys are unique, so every shape has _n = 1 and
    // n_groups == n_rows
    "m44_sql_evolving_changes" ->
      ("WITH ins1 AS (SELECT o_totalprice FROM orders WHERE o_orderkey % 30 = 1), " +
        "ins2 AS (SELECT o_totalprice FROM orders WHERE o_orderkey % 30 = 2), " +
        "upd AS (SELECT o_totalprice FROM orders WHERE o_orderkey % 60 = 30), " +
        "feed AS (" +
        "SELECT 'insert' AS change_type, 'none' AS tag, o_totalprice FROM ins1 " +
        "UNION ALL SELECT 'insert', 'new', o_totalprice FROM ins2 " +
        "UNION ALL SELECT 'insert', 'none', o_totalprice + 1.0 FROM upd " +
        "UNION ALL SELECT 'delete', 'none', o_totalprice FROM upd) " +
        "SELECT change_type, tag, count(*) AS n_groups, count(*) AS n_rows, " +
        "CAST(floor(sum(CAST(o_totalprice AS DECIMAL(27,6)))) AS BIGINT) " +
        "AS revenue FROM feed GROUP BY 1, 2 ORDER BY change_type, tag"),

    // the keyed evolving feed replays from the raw facts: the pre-ALTER
    // sub-window contributes the %30=1 inserts (note NULL → 'none'), the
    // ALTER nothing, the post-ALTER keyed sub-window the %30=2 inserts
    // tagged 'new' plus one preimage (old price) and one postimage (+1.0)
    // per %60=30 key — both note-less (the updated rows predate the
    // column; file-granular DML rewrites them with a NULL fill). Keys are
    // unique, so every keyed row has _n = 1
    "m45_sql_keyed_evolving_changes" ->
      ("WITH ins1 AS (SELECT o_totalprice FROM orders WHERE o_orderkey % 30 = 1), " +
        "ins2 AS (SELECT o_totalprice FROM orders WHERE o_orderkey % 30 = 2), " +
        "upd AS (SELECT o_totalprice FROM orders WHERE o_orderkey % 60 = 30), " +
        "feed AS (" +
        "SELECT 'insert' AS change_type, 'none' AS tag, o_totalprice FROM ins1 " +
        "UNION ALL SELECT 'insert', 'new', o_totalprice FROM ins2 " +
        "UNION ALL SELECT 'update_preimage', 'none', o_totalprice FROM upd " +
        "UNION ALL SELECT 'update_postimage', 'none', o_totalprice + 1.0 FROM upd) " +
        "SELECT change_type, tag, count(*) AS n_rows, " +
        "CAST(floor(sum(CAST(o_totalprice AS DECIMAL(27,6)))) AS BIGINT) " +
        "AS revenue FROM feed GROUP BY 1, 2 ORDER BY change_type, tag"),

    // the timestamp-bounds feed replays from the raw facts: t1_t3 =
    // (as-of 01-01, as-of 01-05] = v1→v3 = the %30∈{1,2} appends; t0_t2
    // starts before the first dated commit (the table's birth), so v1's
    // %30=0 rows surface as inserts alongside the %30=1 append. Order
    // keys are unique, so every shape has _n = 1 and n_groups == n_rows
    "m46_sql_changes_by_timestamp" ->
      ("WITH a AS (SELECT o_totalprice FROM orders WHERE o_orderkey % 30 IN (1, 2)), " +
        "b AS (SELECT o_totalprice FROM orders WHERE o_orderkey % 30 IN (0, 1)) " +
        "SELECT * FROM (" +
        "SELECT 't1_t3' AS phase, 'insert' AS change_type, " +
        "count(*) AS n_groups, count(*) AS n_rows, " +
        "CAST(floor(sum(CAST(o_totalprice AS DECIMAL(27,6)))) AS BIGINT) " +
        "AS revenue FROM a " +
        "UNION ALL SELECT 't0_t2', 'insert', count(*), count(*), " +
        "CAST(floor(sum(CAST(o_totalprice AS DECIMAL(27,6)))) AS BIGINT) " +
        "FROM b) ORDER BY phase, change_type"),

    // timestamp time travel replays from the raw facts: ≤ 01-01 reads the
    // %4 slice (v1), ≤ 01-02 the %2 slice (v2), and 01-05 (past every
    // commit) the full table (v3)
    "m47_sql_timestamp_as_of" ->
      ("SELECT * FROM (" +
        "SELECT '2024-01-01' AS as_of, count(*) AS n_rows, " +
        "CAST(floor(sum(CAST(o_totalprice AS DECIMAL(27,6)))) AS BIGINT) " +
        "AS revenue FROM orders WHERE o_orderkey % 4 = 0 " +
        "UNION ALL SELECT '2024-01-02', count(*), " +
        "CAST(floor(sum(CAST(o_totalprice AS DECIMAL(27,6)))) AS BIGINT) " +
        "FROM orders WHERE o_orderkey % 2 = 0 " +
        "UNION ALL SELECT '2024-01-05', count(*), " +
        "CAST(floor(sum(CAST(o_totalprice AS DECIMAL(27,6)))) AS BIGINT) " +
        "FROM orders) ORDER BY as_of")
  )
}
