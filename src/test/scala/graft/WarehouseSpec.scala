package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Scd2 merge, ZoneMap skipping, PageRank — the round-10 library operators,
  * on crafted inputs where the expected answer is computable by hand.
  */
class WarehouseSpec extends AnyFunSuite {
  import TestSpark._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("readVersion refuses a partitioned-generation manifest instead of dropping columns") {
    import spark.implicits._
    import graft.sources.SnapshotTable
    val root = java.nio.file.Files.createTempDirectory("graft_partguard").toString
    val df = Seq((1L, 1994, 10.0), (2L, 1995, 20.0)).toDF("k", "yr", "x")
    SnapshotTable.commitPartitioned(df, root, Seq("yr"))
    // the partition column lives in directory names; a flat file read would
    // silently lose it (and any DML over it would commit the loss)
    val e = intercept[IllegalArgumentException](SnapshotTable.read(spark, root))
    assert(e.getMessage.contains("partitionedGenerations"), e.getMessage)
    // the generation-aware reader serves it with the column intact
    val gens = SnapshotTable.partitionedGenerations(root)
    assert(gens.nonEmpty && gens.head._2 == Seq("yr"))
    // plain (unpartitioned) snapshots are untouched by the guard
    val root2 = java.nio.file.Files.createTempDirectory("graft_partguard2").toString
    SnapshotTable.commit(df, root2)
    assert(SnapshotTable.read(spark, root2).count() == 2L)
  }

  test("m27 leaves the caller's MV-rewrite flag as it found it, set or unset") {
    val flag = graft.plans.GraftMvRewriteRule.Flag
    val m27 = SparkEntry.queries("m27_mv_auto_rewrite")
    try {
      spark.conf.set(flag, "true")
      val preset = m27(spark, sfDir).collect().toSeq
      assert(spark.conf.get(flag) == "true")
      spark.conf.unset(flag)
      val unset = m27(spark, sfDir).collect().toSeq
      assert(spark.conf.getOption(flag).isEmpty, s"flag now ${spark.conf.getOption(flag)}")
      assert(preset == unset)
    } finally spark.conf.unset(flag)
  }

  test("scd2: changed keys split into closed + current, others keep one open row") {
    val s = spark
    import s.implicits._
    val base = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "bal")
    // key 1 changes, key 2 updates to the SAME value (no new version),
    // key 3 has no update at all
    val updates = Seq(
      (1L, 11.0, ts("1997-05-01 00:00:00")),
      (2L, 20.0, ts("1997-06-01 00:00:00"))).toDF("k", "bal", "eff")
    val out = graft.operators.Scd2.merge(base, updates, "k", Seq("bal"), "eff",
        openFrom = lit("1992-01-01 00:00:00").cast("timestamp"),
        farFuture = lit("9999-12-31 00:00:00").cast("timestamp"))
      .orderBy("k", "valid_from")
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getTimestamp(2).toString,
        r.getTimestamp(3).toString, r.getInt(4)))
    assert(out.toSeq == Seq(
      (1L, 10.0, "1992-01-01 00:00:00.0", "1997-05-01 00:00:00.0", 0),
      (1L, 11.0, "1997-05-01 00:00:00.0", "9999-12-31 00:00:00.0", 1),
      (2L, 20.0, "1992-01-01 00:00:00.0", "9999-12-31 00:00:00.0", 1),
      (3L, 30.0, "1992-01-01 00:00:00.0", "9999-12-31 00:00:00.0", 1)))
  }

  test("scd2: keys new to the dimension insert an opening row at their own eff time") {
    val s = spark
    import s.implicits._
    val base = Seq((1L, 10.0)).toDF("k", "bal")
    val updates = Seq(
      (1L, 11.0, ts("1997-05-01 00:00:00")), // change
      (7L, 70.0, ts("1997-06-01 00:00:00"))  // brand-new key → insert
    ).toDF("k", "bal", "eff")
    val out = graft.operators.Scd2.merge(base, updates, "k", Seq("bal"), "eff",
        openFrom = lit("1992-01-01 00:00:00").cast("timestamp"),
        farFuture = lit("9999-12-31 00:00:00").cast("timestamp"))
      .orderBy("k", "valid_from")
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getTimestamp(2).toString,
        r.getTimestamp(3).toString, r.getInt(4)))
    assert(out.toSeq == Seq(
      (1L, 10.0, "1992-01-01 00:00:00.0", "1997-05-01 00:00:00.0", 0),
      (1L, 11.0, "1997-05-01 00:00:00.0", "9999-12-31 00:00:00.0", 1),
      (7L, 70.0, "1997-06-01 00:00:00.0", "9999-12-31 00:00:00.0", 1)))
  }

  test("scd2: duplicate update keys fail fast under assertUniqueUpdateKeys") {
    val s = spark
    import s.implicits._
    val base = Seq((1L, 10.0)).toDF("k", "bal")
    val updates = Seq(
      (1L, 11.0, ts("1997-05-01 00:00:00")),
      (1L, 12.0, ts("1997-06-01 00:00:00"))).toDF("k", "bal", "eff")
    intercept[IllegalArgumentException] {
      graft.operators.Scd2.merge(base, updates, "k", Seq("bal"), "eff",
        openFrom = lit("1992-01-01 00:00:00").cast("timestamp"),
        farFuture = lit("9999-12-31 00:00:00").cast("timestamp"),
        assertUniqueUpdateKeys = true)
    }
  }

  test("zone map: range overlapping no file yields an empty frame with the table schema") {
    val t = Tables(spark, sfDir)
    val zpath = s"${System.getProperty("java.io.tmpdir")}/graft_zm_spec_${Tables.pathKey(sfDir)}"
    graft.sources.ZoneMap.writeClustered(t.orders, zpath, "o_orderdate", nFiles = 8)
    val lo = lit("2050-01-01 00:00:00").cast("timestamp")
    val hi = lit("2050-12-31 00:00:00").cast("timestamp")
    val empty = graft.sources.ZoneMap.prunedRead(spark, zpath, "o_orderdate", lo, hi)
    assert(empty.count() == 0)
    assert(empty.schema == t.orders.schema)
  }

  test("scd2: null-safe change detection versions NULL transitions") {
    val s = spark
    import s.implicits._
    val base = Seq((1L, Option(10.0)), (2L, Option.empty[Double])).toDF("k", "bal")
    val updates = Seq(
      (1L, Option.empty[Double], ts("1997-05-01 00:00:00")), // 10.0 -> NULL: a change
      (2L, Option.empty[Double], ts("1997-06-01 00:00:00"))  // NULL -> NULL: not a change
    ).toDF("k", "bal", "eff")
    val out = graft.operators.Scd2.merge(base, updates, "k", Seq("bal"), "eff",
        openFrom = lit("1992-01-01 00:00:00").cast("timestamp"),
        farFuture = lit("9999-12-31 00:00:00").cast("timestamp"))
    assert(out.filter(col("k") === 1L).count() == 2)
    assert(out.filter(col("k") === 2L).count() == 1)
  }

  test("scd2: one-pass plan — each input scanned exactly once") {
    val df = SparkEntry.queries("m1_scd2_merge")(spark, sfDir)
    df.count()
    val scans = df.queryExecution.executedPlan.toString.linesIterator
      .count(_.contains("FileScan parquet"))
    assert(scans == 2, s"expected 2 scans (customer + orders), plan has $scans")
  }

  test("zone map: range query opens a strict subset of files, same answer as full scan") {
    val t = Tables(spark, sfDir)
    val zpath = s"${System.getProperty("java.io.tmpdir")}/graft_zm_spec_${Tables.pathKey(sfDir)}"
    graft.sources.ZoneMap.writeClustered(t.orders, zpath, "o_orderdate", nFiles = 8)
    val lo = lit("1997-01-01 00:00:00").cast("timestamp")
    val hi = lit("1997-06-30 23:59:59").cast("timestamp")
    val all = graft.sources.ZoneMap.stats(spark, zpath, "o_orderdate").count()
    val kept = graft.sources.ZoneMap.prunedFiles(spark, zpath, "o_orderdate", lo, hi)
    assert(all == 8, s"expected 8 clustered files, found $all")
    assert(kept.nonEmpty && kept.size < all,
      s"zone map should prune: kept ${kept.size} of $all")
    val pruned = graft.sources.ZoneMap.prunedRead(spark, zpath, "o_orderdate", lo, hi)
      .agg(count(lit(1)), sum(col("o_totalprice").cast(Tables.dec))).collect()(0)
    val full = t.orders
      .filter(col("o_orderdate") >= lo && col("o_orderdate") <= hi)
      .agg(count(lit(1)), sum(col("o_totalprice").cast(Tables.dec))).collect()(0)
    assert(pruned == full, s"pruned=$pruned full=$full")
  }

  test("snapshot table: atomic commits, time travel, and no torn reads on crash") {
    val s = spark
    import s.implicits._
    import graft.sources.SnapshotTable
    val root = java.nio.file.Files.createTempDirectory("graft_snap_spec").toString
    val v1 = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
    assert(SnapshotTable.commit(v1, root) == 1L)
    assert(SnapshotTable.read(s, root).collect().map(r => (r.getLong(0), r.getDouble(1)))
      .sorted.toSeq == Seq((1L, 10.0), (2L, 20.0)))
    val v2 = Seq((1L, 11.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v")
    assert(SnapshotTable.commit(v2, root) == 2L)
    // time travel: v1 still fully readable after v2 is current
    assert(SnapshotTable.readVersion(s, root, 1).count() == 2)
    assert(SnapshotTable.read(s, root).count() == 3)
    // CRASH between prepare and swap: data files + manifest for v3 exist on
    // disk, but readers must still resolve the complete v2 — never a torn
    // or partially-visible state
    val v3 = Seq((9L, 90.0)).toDF("k", "v")
    val staged = SnapshotTable.prepare(v3, root)
    assert(staged == 3L)
    assert(SnapshotTable.latestVersion(root).contains(2L), "crashed prepare leaked visibility")
    val seen = SnapshotTable.read(s, root).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    assert(seen == Seq((1L, 11.0), (2L, 20.0), (3L, 30.0)), s"torn read: $seen")
    // recovery: completing the swap publishes v3 atomically
    SnapshotTable.swap(root, staged)
    assert(SnapshotTable.read(s, root).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq == Seq((9L, 90.0)))
    // swapping to a version that was never prepared must refuse
    intercept[IllegalArgumentException] { SnapshotTable.swap(root, 99L) }
  }

  test("merge into: upsert/delete change feed applies in one pass, hand-checked") {
    val s = spark
    import s.implicits._
    import graft.operators.MergeInto
    val target = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val changes = Seq(
      (2L, "B", "upsert"),   // matched update
      (3L, "x", "delete"),   // matched delete
      (4L, "d", "upsert"),   // unmatched insert
      (9L, "x", "delete")    // unmatched delete: idempotent no-op
    ).toDF("k", "v", "op")
    val out = MergeInto.applyChanges(target, changes, "k")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq((1L, "a"), (2L, "B"), (4L, "d")))
    // ambiguous feeds are rejected loudly in debug mode
    val dup = Seq((2L, "B", "upsert"), (2L, "C", "upsert")).toDF("k", "v", "op")
    intercept[IllegalArgumentException] {
      MergeInto.applyChanges(target, dup, "k", assertUniqueChangeKeys = true)
    }
  }

  test("merge into: latestPerKey collapses a multi-op feed; delete wins a seq tie") {
    val s = spark
    import s.implicits._
    import graft.operators.MergeInto
    val feed = Seq(
      (1L, "a1", "upsert", 1L), (1L, "a2", "upsert", 2L), // last upsert wins
      (2L, "b1", "upsert", 5L), (2L, "bx", "delete", 5L), // tie: delete wins
      (3L, "c1", "delete", 1L), (3L, "c2", "upsert", 2L)  // resurrection
    ).toDF("k", "v", "op", "seq")
    val last = MergeInto.latestPerKey(feed, "k", "seq")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(last.toSeq == Seq((1L, "a2", "upsert"), (2L, "bx", "delete"),
      (3L, "c2", "upsert")))
    // end-to-end: collapsed feed applies cleanly
    val target = Seq((2L, "old"), (5L, "keep")).toDF("k", "v")
    val out = MergeInto.applyChanges(target,
        MergeInto.latestPerKey(feed, "k", "seq").drop("seq"), "k")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq((1L, "a2"), (3L, "c2"), (5L, "keep")))
  }

  test("snapshot table: expire vacuums old versions, current stays readable") {
    val s = spark
    import s.implicits._
    import graft.sources.SnapshotTable
    val root = java.nio.file.Files.createTempDirectory("graft_snap_exp").toString
    SnapshotTable.commit(Seq((1L, "v1")).toDF("k", "v"), root)
    SnapshotTable.commit(Seq((2L, "v2")).toDF("k", "v"), root, meta = "m2")
    SnapshotTable.commit(Seq((3L, "v3")).toDF("k", "v"), root)
    assert(SnapshotTable.expire(root, keepLast = 1) == Seq(1L, 2L))
    // current version untouched, fully readable
    assert(SnapshotTable.read(s, root).collect().map(_.getLong(0)).toSeq == Seq(3L))
    assert(SnapshotTable.latestVersion(root).contains(3L))
    // expired versions fail CLEANLY at manifest resolution (no torn reads)
    intercept[IllegalArgumentException] { SnapshotTable.readVersion(s, root, 1) }
    assert(SnapshotTable.versionMeta(root, 2).isEmpty, "expired meta must go too")
    // their data dirs are actually gone — the disk is reclaimed
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "data", "v1")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "data", "v2")))
    // keepLast=1 is the floor: the table can never expire its own LATEST
    intercept[IllegalArgumentException] { SnapshotTable.expire(root, keepLast = 0) }
    // idempotent: nothing left to expire
    assert(SnapshotTable.expire(root, keepLast = 1).isEmpty)
  }

  test("snapshot table: append commits share files; expire is reference-counted") {
    val s = spark
    import s.implicits._
    import graft.sources.SnapshotTable
    import java.nio.file.{Files => JF, Paths => JP}
    val root = java.nio.file.Files.createTempDirectory("graft_snap_app").toString
    SnapshotTable.commit(Seq((1L, "a")).toDF("k", "v"), root)
    // append writes ONLY the delta: v2 = v1's files + the new ones
    SnapshotTable.append(Seq((2L, "b")).toDF("k", "v"), root)
    assert(SnapshotTable.read(s, root).orderBy("k")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // vacuum v1: its manifest goes, but its FILES survive — v2 still
    // references them (the append-sharing case a naive per-version dir
    // delete would corrupt)
    assert(SnapshotTable.expire(root, keepLast = 1) == Seq(1L))
    intercept[IllegalArgumentException] { SnapshotTable.readVersion(s, root, 1) }
    assert(JF.exists(JP.get(root, "data", "v1")), "v1 files still referenced by v2")
    assert(SnapshotTable.read(s, root).orderBy("k")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // a full-rewrite commit drops the last reference; the next vacuum
    // reclaims both old version dirs
    SnapshotTable.commit(Seq((9L, "z")).toDF("k", "v"), root)
    assert(SnapshotTable.expire(root, keepLast = 1) == Seq(2L))
    assert(!JF.exists(JP.get(root, "data", "v1")), "v1 unreferenced -> reclaimed")
    assert(!JF.exists(JP.get(root, "data", "v2")), "v2 unreferenced -> reclaimed")
    assert(SnapshotTable.read(s, root).collect().map(_.getLong(0)).toSeq == Seq(9L))
  }

  test("snapshot table: compaction rewrites fragments into few files, time-travel intact") {
    val s = spark
    import s.implicits._
    import graft.sources.SnapshotTable
    import java.nio.file.{Files => JF, Paths => JP}
    val root = java.nio.file.Files.createTempDirectory("graft_snap_cmp").toString
    // fragmented table: 3 append batches, 4 files each
    SnapshotTable.commit((1L to 10L).toDF("k").repartition(4), root)
    SnapshotTable.append((11L to 20L).toDF("k").repartition(4), root)
    SnapshotTable.append((21L to 30L).toDF("k").repartition(4), root)
    val fragFiles = SnapshotTable.readVersion(s, root, 3).inputFiles.length
    assert(fragFiles == 12, s"expected 12 fragment files, got $fragFiles")
    // compact = rewrite the same rows into 2 files, commit as v4
    SnapshotTable.commit(SnapshotTable.read(s, root).repartition(2), root,
      meta = "compact")
    val compFiles = SnapshotTable.readVersion(s, root, 4).inputFiles.length
    assert(compFiles == 2, s"expected 2 compacted files, got $compFiles")
    assert(SnapshotTable.latestMeta(root).contains("compact"))
    // content-invariant, and the PRE-compaction version stays time-travelable
    assert(SnapshotTable.read(s, root).orderBy("k").collect().map(_.getLong(0))
      .toSeq == (1L to 30L))
    assert(SnapshotTable.readVersion(s, root, 3).orderBy("k").collect()
      .map(_.getLong(0)).toSeq == (1L to 30L))
    // vacuum to the compacted version only: every fragment dir is
    // unreferenced now and reclaimed; the table still reads in full
    assert(SnapshotTable.expire(root, keepLast = 1) == Seq(1L, 2L, 3L))
    (1 to 3).foreach { v =>
      assert(!JF.exists(JP.get(root, "data", s"v$v")), s"v$v fragments reclaimed")
    }
    assert(SnapshotTable.read(s, root).count() == 30L)
  }

  test("snapshot table: CAS commit — concurrent writers serialize, loser rebases") {
    val s = spark
    import s.implicits._
    import graft.sources.SnapshotTable
    val root = java.nio.file.Files.createTempDirectory("graft_snap_cas").toString
    SnapshotTable.commit(Seq((1L, 100.0)).toDF("k", "v"), root)
    // two writers read v1 and race their commits: exactly one wins the
    // version-slot reservation, the loser fails BEFORE writing any data
    val base = SnapshotTable.latestVersion(root).get
    val winner = SnapshotTable.commitIfUnchanged(
      Seq((1L, 100.0), (2L, 200.0)).toDF("k", "v"), root, base)
    assert(winner == 2L)
    intercept[java.util.ConcurrentModificationException] {
      SnapshotTable.commitIfUnchanged(
        Seq((1L, 100.0), (3L, 300.0)).toDF("k", "v"), root, base)
    }
    // no lost update: the loser REBASES — re-reads the winner's snapshot,
    // reapplies its change, retries against the new base — and both
    // writers' rows land
    val rebased = SnapshotTable.read(s, root)
      .unionByName(Seq((3L, 300.0)).toDF("k", "v"))
    assert(SnapshotTable.commitIfUnchanged(rebased, root, winner) == 3L)
    assert(SnapshotTable.read(s, root).orderBy("k")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // crash recovery: a reservation with no manifest (writer died between
    // reserve and swap) blocks the slot until released, then commits flow
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(root, "_snapshots", "v4.reserved"))
    intercept[java.util.ConcurrentModificationException] {
      SnapshotTable.commitIfUnchanged(Seq((9L, 9.0)).toDF("k", "v"), root, 3L)
    }
    assert(SnapshotTable.releaseStaleReservation(root) == Seq(4L))
    assert(SnapshotTable.commitIfUnchanged(
      Seq((9L, 9.0)).toDF("k", "v"), root, 3L) == 4L)
    // committed versions keep their reservation: the slot can never be won
    // again, and recovery never touches it
    assert(SnapshotTable.releaseStaleReservation(root).isEmpty)
  }

  test("snapshot table: orphan sweep reclaims debris + abandoned staging, touches no live byte") {
    val s = spark
    import s.implicits._
    import graft.sources.SnapshotTable
    import java.nio.file.{Files => JF, Paths => JP}
    val root = JF.createTempDirectory("graft_snap_orphan").toString
    SnapshotTable.commit(Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"), root)
    SnapshotTable.append(Seq((3L, 3.0)).toDF("k", "v"), root) // LATEST = 2
    val before = SnapshotTable.read(s, root).orderBy("k").collect().toSeq
    val v1Before = SnapshotTable.readVersion(s, root, 1L).count()
    // plant both orphan kinds: task-retry debris in a live version dir,
    // and a staged-but-never-swapped v3 from a crashed writer
    JF.write(JP.get(root, "data", "v1", "part-retry-debris.parquet"),
      "junk".getBytes("UTF-8"))
    SnapshotTable.prepare(Seq((9L, 9.0)).toDF("k", "v").coalesce(1), root)
    assert(JF.exists(JP.get(root, "_snapshots", "v3.manifest")))
    val removed = SnapshotTable.removeOrphans(root)
    assert(removed.contains("data/v1/part-retry-debris.parquet"),
      "the unreferenced part-file is swept")
    assert(removed.contains("_snapshots/v3.manifest"),
      "the abandoned staged manifest is swept")
    assert(!JF.exists(JP.get(root, "data", "v3")), "staged data dir gone")
    // reads were never polluted and are untouched by the sweep; time travel
    // to v1 still works (its manifest + listed files survive)
    assert(SnapshotTable.read(s, root).orderBy("k").collect().toSeq == before)
    assert(SnapshotTable.readVersion(s, root, 1L).count() == v1Before)
    // idempotent: a second sweep finds nothing
    assert(SnapshotTable.removeOrphans(root).isEmpty)
    // a crashed PARTITIONED writer leaves a staged dir with SUBDIRECTORIES
    // (and a mid-write crash leaves Spark's _temporary tree) — the sweep
    // must walk depth-first, not abort on a non-empty directory
    JF.createDirectories(JP.get(root, "data", "v3", "yr=1996"))
    JF.createDirectories(JP.get(root, "data", "v3", "_temporary", "0"))
    JF.write(JP.get(root, "data", "v3", "yr=1996", "part-a.parquet"),
      "junk".getBytes("UTF-8"))
    JF.write(JP.get(root, "_snapshots", "v3.manifest"),
      "data/v3/yr=1996/part-a.parquet".getBytes("UTF-8"))
    val removed2 = SnapshotTable.removeOrphans(root)
    assert(removed2.contains("data/v3/yr=1996/part-a.parquet"), removed2.toString)
    assert(!JF.exists(JP.get(root, "data", "v3")), "nested staged dir gone")
    // a retried prepare can re-stage the slot the sweep reclaimed
    assert(SnapshotTable.prepare(Seq((9L, 9.0)).toDF("k", "v"), root) == 3L)
  }

  test("snapshot table: orphan sweep reclaims sidecars of a writer that died before its manifest") {
    val s = spark
    import s.implicits._
    import graft.sources.SnapshotTable
    import java.nio.file.{Files => JF, Paths => JP}
    val root = JF.createTempDirectory("graft_snap_orphan_meta").toString
    SnapshotTable.commit(Seq((1L, 1.0)).toDF("k", "v"), root)
    SnapshotTable.append(Seq((2L, 2.0)).toDF("k", "v"), root) // LATEST = 2
    JF.write(JP.get(root, "_snapshots", "v3.meta"), "dead".getBytes("UTF-8"))
    JF.write(JP.get(root, "_snapshots", "v3.sizes"), "".getBytes("UTF-8"))
    val removed = SnapshotTable.removeOrphans(root)
    assert(removed == Seq("_snapshots/v3.meta", "_snapshots/v3.sizes"), removed.toString)
    assert(SnapshotTable.removeOrphans(root).isEmpty)
    assert(SnapshotTable.read(s, root).count() == 2L)
  }

  test("snapshot table: no writer kind adopts a dead writer's sidecars") {
    val s = spark
    import s.implicits._
    import graft.sources.{EvoField, SnapshotTable => ST}
    import java.nio.file.{Files => JF, Paths => JP}
    val base = Seq((1L, 1.0), (2L, 2.0))
    val own = Seq((7L, 7.0), (8L, 8.0))
    def frame(rows: Seq[(Long, Double)]) = rows.toDF("k", "v").coalesce(1)
    val fields = Seq(EvoField(1, "k", "bigint"), EvoField(2, "v", "double"))
    val src = JF.createTempDirectory("graft_snap_adopt_src").toString
    ST.commit(frame(own), src)
    // (writer, its own meta, its own schema, the rows its version holds);
    // every writer runs on a table whose v1 holds `base`, except the clone,
    // whose target has no commit yet
    val writers: Seq[(String, String => Long, Option[String],
        Option[Seq[EvoField]], Seq[(Long, Double)])] = Seq(
      ("commit", r => ST.commit(frame(own), r, meta = "mine"), Some("mine"), None, own),
      ("append", r => ST.append(frame(own), r), None, None, base ++ own),
      ("commitFiles", r => ST.commitFiles(r, ST.manifestFiles(r, 1L)), None, None, base),
      ("commitRewrite", r => ST.commitRewrite(frame(own), r, Nil), None, None, own),
      ("commitEvo", r => ST.commitEvo(frame(own), r, fields), None, Some(fields), own),
      ("appendEvo", r => ST.appendEvo(frame(own), r, fields), None, Some(fields), base ++ own),
      ("commitSchemaChange", r => ST.commitSchemaChange(r, fields, "alter"),
        Some("alter"), Some(fields), base),
      ("commitPartitioned", r => ST.commitPartitioned(frame(own), r, Seq("k")),
        Some("partspec:k"), None, own),
      ("cloneFrom", r => ST.cloneFrom(src, r), None, None, own),
      ("rollbackTo", r => ST.rollbackTo(r, 1L), Some("rollback:1"), None, base),
      ("commitIfUnchanged", r => ST.commitIfUnchanged(frame(own), r, 1L),
        None, None, own))
    writers.foreach { case (kind, write, meta, schema, rows) =>
      val root = JF.createTempDirectory(s"graft_snap_adopt_$kind").toString
      if (kind != "cloneFrom") ST.commit(frame(base), root)
      // a dead writer staged version n with every sidecar kind, never swapped
      val n = ST.prepare(frame(Seq((99L, 99.0))), root, meta = "dead")
      JF.write(JP.get(root, "_snapshots", s"v$n.schema"),
        "1,zz,bigint\n2,yy,double".getBytes("UTF-8"))
      JF.write(JP.get(root, "_snapshots", s"v$n.copied"), "dead.parquet".getBytes("UTF-8"))
      assert(write(root) == n, kind)
      assert(ST.versionMeta(root, n) == meta, kind)
      assert(ST.schemaAt(root, n) == schema, kind)
      assert(ST.copiedFiles(root).isEmpty, kind)
      val read =
        if (kind == "commitPartitioned") ST.partitionedGenerations(root).map {
          case (_, _, fs, dir) => s.read.option("basePath", dir)
            .parquet(fs.map(ST.resolveEntry(root, _)): _*).select("k", "v")
        }.reduce(_ unionByName _)
        else ST.readCurrent(s, root)
      assert(read.as[(Long, Double)].collect().toSeq.sorted == rows, kind)
    }
  }

  test("snapshot table: commit metadata becomes visible atomically with the data") {
    val s = spark
    import s.implicits._
    import graft.sources.SnapshotTable
    val root = java.nio.file.Files.createTempDirectory("graft_snap_meta").toString
    // the exactly-once pattern: each commit records the batch id it applied
    SnapshotTable.commit(Seq((1L, 1.0)).toDF("k", "v"), root, meta = "0")
    assert(SnapshotTable.latestMeta(root).contains("0"))
    // a PREPARED-but-not-swapped version must NOT surface its metadata —
    // a retry after this crash point still sees batch 0 as last applied,
    // re-stages the same version number, and applies exactly once
    val staged = SnapshotTable.prepare(Seq((2L, 2.0)).toDF("k", "v"), root, meta = "1")
    assert(SnapshotTable.latestMeta(root).contains("0"), "meta leaked before the swap")
    val restaged = SnapshotTable.prepare(Seq((2L, 2.0)).toDF("k", "v"), root, meta = "1")
    assert(restaged == staged, "retried prepare must re-stage the same version")
    SnapshotTable.swap(root, restaged)
    assert(SnapshotTable.latestMeta(root).contains("1"))
    assert(SnapshotTable.read(s, root).collect().map(_.getLong(0)).toSeq == Seq(2L))
    // versions without metadata stay metadata-free
    SnapshotTable.commit(Seq((3L, 3.0)).toDF("k", "v"), root)
    assert(SnapshotTable.latestMeta(root).isEmpty)
    assert(SnapshotTable.versionMeta(root, 2).contains("1")) // history preserved
  }

  test("pagerank: hand-computed 3-node fixed shape") {
    val s = spark
    import s.implicits._
    // A -> B (1.0), B -> C (1.0), C -> A (1.0): a cycle; uniform stays fixed
    val cycle = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 1L, 1.0)).toDF("src", "dst", "w")
    val pr = graft.plans.PageRank.run(cycle, iters = 5).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr.values.forall(v => math.abs(v - 1.0 / 3) < 1e-12), pr.toString)
  }

  test("pagerank: dangling-mass redistribution conserves mass on a graph with sinks") {
    val s = spark
    import s.implicits._
    // 1 -> 2, 1 -> 3, 2 -> 3; node 3 is a SINK. Without redistribution its
    // inflow leaks out of the system; with it, ranks match the exact
    // fixpoint of the corrected update and sum to 1.
    val edges = Seq((1L, 2L, 1.0), (1L, 3L, 1.0), (2L, 3L, 1.0)).toDF("src", "dst", "w")
    val iters = 30
    val d = 0.85
    // manual reference with uniform dangling spread
    var r = Map(1L -> 1.0 / 3, 2L -> 1.0 / 3, 3L -> 1.0 / 3)
    (1 to iters).foreach { _ =>
      val dm = r(3L)
      val base = (1 - d) / 3 + d * dm / 3
      r = Map(
        1L -> base,
        2L -> (base + d * r(1L) * 0.5),
        3L -> (base + d * (r(1L) * 0.5 + r(2L))))
    }
    val got = graft.plans.PageRank.run(edges, iters, d, redistributeDangling = true)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    r.foreach { case (k, v) =>
      assert(math.abs(got(k) - v) < 1e-9, s"node $k: ${got(k)} vs $v") }
    assert(math.abs(got.values.sum - 1.0) < 1e-9, s"mass not conserved: ${got.values.sum}")
    // and the default (scoring) mode on the same graph leaks as documented
    val leaky = graft.plans.PageRank.run(edges, iters, d)
      .collect().map(x => x.getDouble(1)).sum
    assert(leaky < 0.999, s"default mode should drop dangling mass, sum=$leaky")
  }

  test("pagerank: weighted star matches manual iteration and conserves mass") {
    val s = spark
    import s.implicits._
    // 1 -> 2 (w 3), 1 -> 3 (w 1), 2 -> 1 (w 1), 3 -> 1 (w 1): no dangling
    val edges = Seq((1L, 2L, 3.0), (1L, 3L, 1.0), (2L, 1L, 1.0), (3L, 1L, 1.0))
      .toDF("src", "dst", "w")
    val iters = 4
    val d = 0.85
    // manual reference
    var r = Map(1L -> 1.0 / 3, 2L -> 1.0 / 3, 3L -> 1.0 / 3)
    (1 to iters).foreach { _ =>
      val base = (1 - d) / 3
      r = Map(
        1L -> (base + d * (r(2L) * 1.0 + r(3L) * 1.0)),
        2L -> (base + d * (r(1L) * 0.75)),
        3L -> (base + d * (r(1L) * 0.25)))
    }
    val got = graft.plans.PageRank.run(edges, iters, d).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    r.foreach { case (k, v) => assert(math.abs(got(k) - v) < 1e-12, s"node $k: ${got(k)} vs $v") }
    assert(math.abs(got.values.sum - 1.0) < 1e-9) // no dangling => mass conserved
  }

  test("bloom index: point lookup opens a strict subset of files with no false negatives") {
    import graft.sources.BloomIndex
    val t = Tables(spark, sfDir)
    val bpath = s"${System.getProperty("java.io.tmpdir")}/graft_bloomidx_spec_${Tables.pathKey(sfDir)}"
    BloomIndex.writeIndexed(t.orders, bpath, "o_custkey", "o_orderkey", nFiles = 16)
    val allFiles = new java.io.File(bpath).listFiles()
      .count(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
    assert(allFiles == 16, s"expected 16 data files, got $allFiles")
    val keys = Seq("1", "7", "25")
    val pruned = BloomIndex.prunedFiles(spark, bpath, "o_custkey", keys)
    // the key is scattered (layout is on o_orderkey), yet the bloom index
    // must still drop files — the case a min/max zone map cannot prune
    assert(pruned.nonEmpty && pruned.size < allFiles,
      s"no pruning: ${pruned.size} of $allFiles files")
    // NO FALSE NEGATIVES: every file truly containing one of the keys fires
    val truth = spark.read.parquet(bpath)
      .filter(col("o_custkey").isin(1L, 7L, 25L))
      .select(col("_metadata.file_path")).distinct().collect()
      .map(_.getString(0)).toSet
    assert(truth.subsetOf(pruned.toSet),
      s"missed files: ${truth -- pruned.toSet}")
    // and the pruned read equals the full-scan filter exactly
    val got = BloomIndex.prunedRead(spark, bpath, "o_custkey", keys)
      .select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
    val want = t.orders.filter(col("o_custkey").isin(1L, 7L, 25L))
      .select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want && got.nonEmpty)
  }

  test("bloom index: an input regenerated in place with the same row count rebuilds the copy") {
    import graft.sources.BloomIndex
    val t = Tables(spark, sfDir)
    val tmp = System.getProperty("java.io.tmpdir")
    val src = s"$tmp/graft_bloom_regen_src_${Tables.pathKey(sfDir)}"
    val bpath = s"$tmp/graft_bloom_regen_spec_${Tables.pathKey(sfDir)}"
    Tables.rmrf(src); Tables.rmrf(bpath)
    val keys = Seq("1", "7", "25")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
    // write `df` as the input, index it into the one path, look the keys up
    def lookup(df: org.apache.spark.sql.DataFrame) = {
      df.write.mode("overwrite").parquet(src)
      BloomIndex.writeIndexed(spark.read.parquet(src), bpath, "o_custkey", "o_orderkey",
        nFiles = 4)
      ids(BloomIndex.prunedRead(spark, bpath, "o_custkey", keys))
    }
    val a = t.orders.select("o_orderkey", "o_custkey")
    val b = a.withColumn("o_custkey", col("o_custkey") + 1) // same count, other rows
    def truth(df: org.apache.spark.sql.DataFrame) =
      ids(df.filter(col("o_custkey").isin(1L, 7L, 25L)))
    assert(truth(a) != truth(b))
    assert(lookup(a) == truth(a))
    assert(lookup(b) == truth(b), "served the stale copy of the first input")
    // another frame over the very same input files is another input too
    BloomIndex.writeIndexed(
      spark.read.parquet(src).withColumn("o_custkey", col("o_custkey") - 1),
      bpath, "o_custkey", "o_orderkey", nFiles = 4)
    assert(ids(BloomIndex.prunedRead(spark, bpath, "o_custkey", keys)) == truth(a),
      "a second frame over the same files reused the first one's fingerprint")
    Tables.rmrf(src); Tables.rmrf(bpath)
  }

  test("deletion vectors: deletes never rewrite data files; reads equal the plain filter") {
    import graft.sources.{DeletionVectors, SnapshotTable}
    val t = Tables(spark, sfDir)
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_dv_spec_${Tables.pathKey(sfDir)}"
    val dvRoot = s"${root}_dv"
    Tables.rmrf(root); Tables.rmrf(dvRoot)
    val target = t.orders.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    SnapshotTable.commit(target.repartitionByRange(8, col("o_orderdate")), root)
    def fileState(): Map[String, (Long, Long)] = {
      val dir = new java.io.File(s"$root/data/v1")
      dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> (f.length, f.lastModified)).toMap
    }
    val before = fileState()
    val data = SnapshotTable.read(spark, root)
    val retention = col("o_orderdate") < lit("1996-01-01").cast("timestamp")
    val gdpr = col("o_custkey") % 97 === 0
    SnapshotTable.commit(DeletionVectors.build(data, retention), dvRoot)
    SnapshotTable.commit(DeletionVectors.merge(
      SnapshotTable.read(spark, dvRoot), DeletionVectors.build(data, gdpr)), dvRoot)
    assert(fileState() == before, "a delete commit touched an immutable data file")
    val dvs = SnapshotTable.read(spark, dvRoot)
    // merged popcount counts a doubly-deleted row ONCE: total n_deleted ==
    // the predicate union's cardinality
    val totDeleted = dvs.agg(sum(col("n_deleted"))).collect()(0).getLong(0)
    val wantDeleted = data.filter(retention || gdpr).count()
    assert(totDeleted == wantDeleted, s"dv counts $totDeleted, predicate union $wantDeleted")
    def keys(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
    val want = keys(data.filter(!(retention || gdpr)))
    assert(keys(DeletionVectors.applyTo(data, dvs)) == want,
      "merge-on-read != plain filter")
    // purge: hot files are a strict non-empty subset (retention concentrates
    // in the leading time-range file); the purge commit is METADATA-ONLY for
    // cold files (carried into v2's manifest verbatim, untouched on disk),
    // v1 stays time-travelable, and the post-purge view is row-identical
    val allFiles = DeletionVectors.stats(data, dvs)
      .select(col("file")).collect().map(_.getString(0)).toSeq.sorted
    val hot = DeletionVectors.purgeCandidates(data, dvs, threshold = 0.5)
    assert(hot.nonEmpty && hot.size < allFiles.size,
      s"expected a strict hot subset, got ${hot.size} of ${allFiles.size}")
    val rel = (p: String) => new java.net.URI(p).getPath.stripPrefix(s"$root/")
    val cold = allFiles.filterNot(hot.toSet).map(rel)
    val v2 = SnapshotTable.commitRewrite(
      DeletionVectors.applyTo(spark.read.parquet(hot: _*), dvs), root, cold)
    assert(v2 == 2L)
    assert(keys(DeletionVectors.applyTo(SnapshotTable.read(spark, root), dvs)) == want,
      "post-purge view != plain filter")
    assert(fileState() == before, "purge touched a v1 data file in place")
    // the pre-purge version still serves the pre-delete rows exactly
    assert(keys(SnapshotTable.readVersion(spark, root, 1L)) == keys(data),
      "v1 no longer time-travelable after the purge commit")
    // and a doubly-applied DV read over v2 remains idempotent: rewritten
    // files miss the DV join, cold files re-apply the same bitmap
    val again = DeletionVectors.applyTo(SnapshotTable.read(spark, root), dvs)
    assert(keys(again) == want)
  }

  test("field-id evolution: rename/widen/drop never rewrite old files; readEvo maps by id") {
    import graft.sources.{EvoField, SnapshotTable}
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val s = spark
    import s.implicits._
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_evo_spec_${System.nanoTime()}"
    val key = EvoField(1, "k", "bigint")
    SnapshotTable.commitEvo(
      Seq((1L, "A", 10), (2L, "B", 20)).toDF("k", "status", "price"),
      root, Seq(key, EvoField(2, "status", "string"), EvoField(3, "price", "int")))
    def v1Bytes(): Map[String, Seq[Byte]] =
      Files.list(Paths.get(root, "data", "v1")).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq)
        .toMap
    val before = v1Bytes()
    // v2: rename status -> st, widen price int -> bigint, drop nothing yet
    SnapshotTable.appendEvo(
      Seq((3L, "A", 30L)).toDF("k", "st", "price"),
      root, Seq(key, EvoField(2, "st", "string"), EvoField(3, "price", "bigint")))
    // v3: drop the renamed column entirely, add a fresh one under a NEW id
    SnapshotTable.appendEvo(
      Seq((4L, 40L, "x")).toDF("k", "price", "tag"),
      root, Seq(key, EvoField(3, "price", "bigint"), EvoField(5, "tag", "string")))
    assert(v1Bytes() == before, "pre-evolution data files must stay byte-identical")
    // v1's footers still carry the ORIGINAL physical schema (old name, int32)
    val v1File = Files.list(Paths.get(root, "data", "v1")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).next().toString
    val v1Schema = spark.read.parquet(v1File).schema
    assert(v1Schema.fieldNames.contains("status") &&
      v1Schema("price").dataType.typeName == "integer",
      s"old footer must keep old physical schema, got $v1Schema")
    val out = SnapshotTable.readEvo(spark, root)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.getString(2)))).toSeq
    assert(SnapshotTable.readEvo(spark, root).columns.toSeq == Seq("k", "price", "tag"),
      "dropped column must vanish; surviving columns under current names")
    assert(out == Seq((1L, 10L, None), (2L, 20L, None), (3L, 30L, None),
      (4L, 40L, Some("x"))),
      s"renamed/widened/added columns must resolve by field id, got $out")
  }

  test("bitmap_contains: bit probes, trailing-zero blobs, and out-of-range positions") {
    val rows = spark.sql(
      "SELECT bitmap_contains(bm, 0L) a, bitmap_contains(bm, 9L) b, " +
        "bitmap_contains(bm, 1L) c, bitmap_contains(bm, 10000L) d " +
        "FROM (SELECT bitmap_sketch(v) bm FROM VALUES (0L), (9L) t(v))").collect()(0)
    assert(rows.getBoolean(0) && rows.getBoolean(1), "set bits must probe true")
    assert(!rows.getBoolean(2), "unset bit inside the blob must probe false")
    assert(!rows.getBoolean(3), "position past the blob is implicitly unset")
    val empty = spark.sql("SELECT bitmap_contains(X'', 5L)").collect()(0)
    assert(!empty.getBoolean(0), "empty blob contains nothing")
  }

  test("m22: shallow clone copies no data, diverges independently, and its vacuum spares the source") {
    import graft.sources.SnapshotTable
    import java.nio.file.{Files, Paths}
    SparkEntry.queries("m22_shallow_clone")(spark, sfDir).collect()
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_m22_${Tables.pathKey(sfDir)}"
    // zero-copy: the clone's v1 wrote NO data directory of its own — its
    // manifest points (absolutely) into the source
    assert(!Files.exists(Paths.get(s"$base/clone/data/v1")),
      "shallow clone materialized data files")
    val m = new String(Files.readAllBytes(
      Paths.get(s"$base/clone/_snapshots/v1.manifest")), "UTF-8")
    assert(m.split("\n").forall(_.startsWith("/")),
      "clone manifest entries must be absolute (foreign) paths")
    // divergence: the clone's append is invisible to the source and
    // vice versa (residue sets {0,1,3} vs {0,1,2})
    val srcRows = SnapshotTable.read(spark, s"$base/src")
      .select((col("o_orderkey") % 5).as("r")).distinct()
      .collect().map(_.getLong(0)).toSet
    val cloneRows = SnapshotTable.read(spark, s"$base/clone")
      .select((col("o_orderkey") % 5).as("r")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(srcRows == Set(0L, 1L, 3L) && cloneRows == Set(0L, 1L, 2L))
    // the clone's vacuum never deletes foreign files: expire the clone to
    // its latest version, then the SOURCE must still read intact
    SnapshotTable.expire(s"$base/clone", keepLast = 1)
    assert(SnapshotTable.read(spark, s"$base/src").count() > 0,
      "clone vacuum deleted source data files")
    // and the clone itself still reads (its retained manifest carries the
    // foreign base files plus its own append)
    assert(SnapshotTable.read(spark, s"$base/clone")
      .select((col("o_orderkey") % 5).as("r")).distinct().count() == 3)
  }

  test("m21: expectations conserve rows and the committed table is violation-free") {
    import graft.sources.SnapshotTable
    // run the declared query — it (re)builds both SnapshotTables
    SparkEntry.queries("m21_expectations_quarantine")(spark, sfDir).collect()
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_m21_${Tables.pathKey(sfDir)}"
    val t = Tables(spark, sfDir)
    val committed = SnapshotTable.read(spark, s"$root/table")
    val quarantined = SnapshotTable.read(spark, s"$root/quarantine")
    // conservation: every input row lands in exactly one side
    assert(committed.count() + quarantined.count() == t.lineitem.count(),
      "committed + quarantined must equal the input")
    // the committed table must hold ZERO rows violating ANY rule
    val violating = committed.filter(
      col("l_quantity") > 45 || col("l_discount") > 0.08 ||
        col("l_tax") > 0.07 || !col("l_returnflag").isin("A", "N", "R"))
    assert(violating.count() == 0, "a violating row leaked into the table")
    // every quarantined row carries a reason from the declared rule list
    assert(quarantined.filter(col("__reason").isNull).count() == 0)
    val reasons = quarantined.select("__reason").distinct()
      .collect().map(_.getString(0)).toSet
    assert(reasons.subsetOf(Set("quantity_gt_45", "discount_gt_8pct",
      "tax_gt_7pct", "bad_returnflag")))
  }

  test("file-granular DML: UPDATE/DELETE rewrite only touched files, carry the rest") {
    import spark.implicits._
    import graft.plans.GraftDmlRegistry
    import graft.sources.SnapshotTable
    val root = java.nio.file.Files.createTempDirectory("graft_fgdml").toString + "/t"
    val name = "fgdml_t"
    GraftDmlRegistry.unregister(name)
    // 8 files, keys range-partitioned so a selective WHERE touches few
    (1L to 800L).map(i => (i, i * 1.0)).toDF("k", "v")
      .repartitionByRange(8, col("k")).sortWithinPartitions("k")
      .createOrReplaceTempView("fgdml_src")
    spark.sql(s"CREATE SNAPSHOT TABLE $name LOCATION '$root' AS " +
      "SELECT * FROM fgdml_src")
    GraftDmlRegistry.registerSnapshot(name, root) // idempotent
    val f1 = SnapshotTable.manifestFiles(root, 1).toSet
    assert(f1.size >= 4, s"fixture needs several files, got ${f1.size}")
    // UPDATE hits keys 1-50: at most 1-2 range files contain them
    spark.sql(s"UPDATE $name SET v = v + 1000 WHERE k <= 50")
    val f2 = SnapshotTable.manifestFiles(root, 2).toSet
    val carried = f1 & f2
    assert(carried.nonEmpty && carried.size >= f1.size - 2,
      s"UPDATE rewrote ${f1.size - carried.size} of ${f1.size} files for a " +
        "1-file predicate — file granularity lost")
    // content is the full conditional projection regardless of granularity
    val got = spark.sql(s"SELECT CAST(sum(CAST(v AS DECIMAL(27,6))) AS DOUBLE) " +
      s"AS sv, count(*) AS n FROM $name").head()
    assert(got.getLong(1) == 800L)
    assert(got.getDouble(0) == (1L to 800L).map(_.toDouble).sum + 50 * 1000.0)
    // DELETE the same way: untouched files carry
    spark.sql(s"DELETE FROM $name WHERE k > 760")
    val f3 = SnapshotTable.manifestFiles(root, 3).toSet
    assert((f2 & f3).size >= f2.size - 2,
      s"DELETE rewrote ${f2.size - (f2 & f3).size} of ${f2.size} files")
    assert(spark.sql(s"SELECT count(*) AS n FROM $name").head().getLong(0) == 760L)
    // an UPDATE matching nothing is a metadata-only commit (manifest carried)
    spark.sql(s"UPDATE $name SET v = 0 WHERE k < 0")
    assert(SnapshotTable.manifestFiles(root, 4).toSet == f3)
    // a NON-DETERMINISTIC predicate refuses loudly: the touched-files pass
    // and the rewrite would see different rows (the Delta rule)
    val e = intercept[Exception](
      spark.sql(s"UPDATE $name SET v = 0 WHERE rand() < 0.5").collect())
    assert(e.getMessage.contains("non-deterministic"), e.getMessage)
    val e2 = intercept[Exception](
      spark.sql(s"DELETE FROM $name WHERE rand() < 0.5").collect())
    assert(e2.getMessage.contains("non-deterministic"), e2.getMessage)
    GraftDmlRegistry.unregister(name)
  }

  test("keyed CDC: SET KEY validates; the feed reads only exchanged files; re-layouts cancel") {
    import spark.implicits._
    import graft.plans.GraftDmlRegistry
    import graft.sources.SnapshotTable
    val root = java.nio.file.Files.createTempDirectory("graft_keyedcdc").toString + "/t"
    val name = "keyedcdc_t"
    GraftDmlRegistry.unregister(name)
    (1L to 400L).map(i => (i, i * 1.0, s"t${i % 3}")).toDF("k", "v", "tag")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .createOrReplaceTempView("keyedcdc_src")
    spark.sql(s"CREATE SNAPSHOT TABLE $name LOCATION '$root' AS " +
      "SELECT * FROM keyedcdc_src")
    // SET KEY validates uniqueness: a duplicated key column refuses
    val dupRoot = java.nio.file.Files.createTempDirectory("graft_keydup").toString + "/t"
    SnapshotTable.commit(Seq((1L, 1.0), (1L, 2.0)).toDF("k", "v"), dupRoot)
    GraftDmlRegistry.registerSnapshot("keydup_t", dupRoot)
    val e = intercept[Exception](
      spark.sql("ALTER TABLE keydup_t SET KEY (k)").collect())
    assert(e.getMessage.contains("unique"), e.getMessage)
    GraftDmlRegistry.unregister("keydup_t")
    // unknown column refuses
    val e2 = intercept[Exception](
      spark.sql(s"ALTER TABLE $name SET KEY (nope)").collect())
    assert(e2.getMessage.contains("unknown column"), e2.getMessage)
    spark.sql(s"ALTER TABLE $name SET KEY (k)")
    assert(SnapshotTable.declaredKey(root).contains(Seq("k")))
    // UPDATE 30 keys, then assert the keyed feed's INPUTS are only the
    // exchanged files — the carried files never enter the diff
    spark.sql(s"UPDATE $name SET v = v * 2 WHERE k > 370")
    val f1 = SnapshotTable.manifestFiles(root, 1).toSet
    val f2 = SnapshotTable.manifestFiles(root, 2).toSet
    val exchanged = ((f1 -- f2) ++ (f2 -- f1))
      .map(SnapshotTable.resolveEntry(root, _))
      .map(p => java.nio.file.Paths.get(p).toAbsolutePath.normalize.toString)
    val feed = spark.sql(s"SELECT * FROM $name CHANGES BETWEEN 1 AND 2")
    val inputs = feed.inputFiles.map(f =>
      java.nio.file.Paths.get(new java.net.URI(f).getPath)
        .toAbsolutePath.normalize.toString).toSet
    assert(inputs.nonEmpty && inputs.subsetOf(exchanged),
      s"keyed feed read carried files: ${inputs -- exchanged}")
    // the feed content: one preimage + one postimage per updated key
    val rows = feed.collect().map(r =>
      (r.getLong(0), r.getDouble(1), r.getString(3))).toSet
    val want = (371L to 400L).flatMap(k => Seq(
      (k, k * 1.0, "update_preimage"), (k, k * 2.0, "update_postimage"))).toSet
    assert(rows == want, s"keyed feed diverged: ${rows.size} vs ${want.size}")
    // a PURE RE-LAYOUT (OPTIMIZE into 1 file) rewrites rows unchanged:
    // every key cancels in the join and the feed is EMPTY
    spark.sql(s"OPTIMIZE $name INTO 1 FILES")
    assert(spark.sql(s"SELECT * FROM $name CHANGES BETWEEN 2 AND 3").count() == 0L,
      "a content-neutral re-layout must emit no keyed changes")
    GraftDmlRegistry.unregister(name)
  }

  test("keyed-append guard: dup/NULL batch keys refuse; collisions refuse under the flag") {
    import spark.implicits._
    import graft.plans.GraftDmlRegistry
    import graft.sources.SnapshotTable
    val dir = java.nio.file.Files.createTempDirectory("graft_keyguard").toString
    val root = s"$dir/t"
    val name = "keyguard_t"
    GraftDmlRegistry.unregister(name)
    SnapshotTable.commit(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"), root)
    GraftDmlRegistry.registerSnapshot(name, root)
    try {
      spark.sql(s"ALTER TABLE $name SET KEY (k)")
      // WITHIN-BATCH duplicate: always refuses (one O(delta) agg), and the
      // refused version never publishes — the table is unchanged
      val e1 = intercept[Exception](
        spark.sql(s"INSERT INTO $name VALUES (5, 1.0), (5, 2.0)").collect())
      assert(e1.getMessage.contains("duplicate or NULL"), e1.getMessage)
      // the refused version is DISCARDED, not just unswapped: a staged
      // manifest would still be addressable by explicit version number
      // (CHANGES BETWEEN / VERSION AS OF), serving the refused rows
      assert(!SnapshotTable.versionExists(root, 2L),
        "a refused keyed append must discard its staged manifest")
      // NULL key: same guard (a declared key is non-null by contract) —
      // the unlisted key column NULL-fills, which must refuse
      val e2 = intercept[Exception](
        spark.sql(s"INSERT INTO $name (v) VALUES (6.0)").collect())
      assert(e2.getMessage.contains("duplicate or NULL"), e2.getMessage)
      assert(SnapshotTable.latestVersion(root).contains(1L),
        "a refused keyed append must not publish a version")
      // cross-version COLLISION: the writer's contract by default (the
      // lakehouse convention — no O(table) probe per append)...
      spark.sql(s"INSERT INTO $name VALUES (3, 30.0)")
      assert(SnapshotTable.latestVersion(root).contains(2L))
      // ...and a REFUSAL under the opt-in flag, probing only key columns
      spark.conf.set("spark.graft.validateKeyOnAppend", "true")
      try {
        val e3 = intercept[Exception](
          spark.sql(s"INSERT INTO $name VALUES (2, 99.0)").collect())
        assert(e3.getMessage.contains("EXISTING"), e3.getMessage)
        assert(SnapshotTable.latestVersion(root).contains(2L))
        // a non-colliding append still passes under the flag
        spark.sql(s"INSERT INTO $name VALUES (4, 40.0)")
        assert(SnapshotTable.latestVersion(root).contains(3L))
      } finally spark.conf.unset("spark.graft.validateKeyOnAppend")
      // COPY INTO rides the same guard: a landing file with an in-batch
      // duplicate key refuses and records nothing as loaded
      Seq((7L, 1.0), (7L, 2.0)).toDF("k", "v")
        .coalesce(1).write.parquet(s"$dir/landing_dup")
      val dupFile = new java.io.File(s"$dir/landing_dup").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$dir/landing"))
      java.nio.file.Files.copy(dupFile.toPath,
        java.nio.file.Paths.get(s"$dir/landing/${dupFile.getName}"))
      val e4 = intercept[Exception](
        spark.sql(s"COPY INTO $name FROM '$dir/landing'").collect())
      assert(e4.getMessage.contains("duplicate or NULL"), e4.getMessage)
      assert(SnapshotTable.copiedFiles(root).isEmpty,
        "a refused COPY INTO must not record its files as loaded")
    } finally GraftDmlRegistry.unregister(name)
  }

  test("CHANGES BETWEEN TIMESTAMP: hash-equals the version feed; undated/early bounds behave") {
    import spark.implicits._
    import graft.plans.GraftDmlRegistry
    import graft.sources.SnapshotTable
    val root = java.nio.file.Files.createTempDirectory("graft_tsfeed")
      .toString + "/t"
    val name = "tsfeed_t"
    GraftDmlRegistry.unregister(name)
    SnapshotTable.commit(Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"), root,
      meta = "2024-01-01")
    SnapshotTable.append(Seq((3L, 3.0)).toDF("k", "v"), root,
      meta = "2024-01-02")
    GraftDmlRegistry.registerSnapshot(name, root)
    try {
      // an UNDATED commit (op-tag meta, the SQL DML shape) between dated
      // ones: never a bound itself, but covered by any later dated bound
      spark.sql(s"INSERT INTO $name VALUES (4, 4.0)")               // v3
      SnapshotTable.append(Seq((5L, 5.0)).toDF("k", "v"), root,
        meta = "2024-01-04")                                         // v4
      // resolution: ≤ 01-02 → v2 (v3's 'insert:1' is not addressable);
      // ≤ 01-04 → v4; the window (v2, v4] therefore INCLUDES v3's rows
      assert(SnapshotTable.resolveAsOf(root, "2024-01-02").contains(2L))
      assert(SnapshotTable.resolveAsOf(root, "2024-01-05").contains(4L))
      assert(SnapshotTable.resolveAsOf(root, "2023-12-31").isEmpty)
      def rows(sql: String) = spark.sql(sql).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getString(2), r.getLong(3)))
        .toSet
      val ts = rows(s"SELECT k, v, _change_type, _n FROM $name CHANGES " +
        "BETWEEN TIMESTAMP '2024-01-02' AND TIMESTAMP '2024-01-04'")
      val vers = rows(
        s"SELECT k, v, _change_type, _n FROM $name CHANGES BETWEEN 2 AND 4")
      assert(ts == vers && ts == Set((4L, 4.0, "insert", 1L),
        (5L, 5.0, "insert", 1L)), s"ts=$ts vers=$vers")
      // a start bound before the first dated commit = the table's birth
      val birth = rows(s"SELECT k, v, _change_type, _n FROM $name CHANGES " +
        "BETWEEN TIMESTAMP '2023-12-31' AND TIMESTAMP '2024-01-01'")
      assert(birth == Set((1L, 1.0, "insert", 1L), (2L, 2.0, "insert", 1L)),
        birth.toString)
      // an END bound no dated version satisfies refuses loudly
      val e = intercept[Exception](spark.sql(
        s"SELECT * FROM $name CHANGES BETWEEN TIMESTAMP '2023-01-01' " +
          "AND TIMESTAMP '2023-06-01'").collect())
      assert(e.getMessage.contains("no version"), e.getMessage)
      // a MALFORMED bound refuses instead of silently misordering the
      // lexicographic comparison
      val e2 = intercept[Exception](spark.sql(
        s"SELECT * FROM $name CHANGES BETWEEN TIMESTAMP 'banana' " +
          "AND TIMESTAMP 'zzz'").collect())
      assert(e2.getMessage.contains("not a logical timestamp"), e2.getMessage)
      // the grammar inside a COMMENT is inert (the pre-pass maps only
      // non-comment regions) — this end bound would refuse if resolved
      val n = spark.sql(
        s"SELECT count(*) AS n FROM $name\n-- $name CHANGES BETWEEN " +
          "TIMESTAMP '2023-01-01' AND TIMESTAMP '2023-06-01'\n")
        .head().getLong(0)
      assert(n == 5L, s"commented grammar must stay inert (n=$n)")
      // TIMESTAMP AS OF (m47): ≤-semantics — the undated v3 is not
      // timestamp-addressable itself (AS OF 01-03 reads v2's 3 rows), and
      // becomes visible through the NEXT dated version (AS OF 01-04 reads
      // v4's snapshot, v3's row included); a probe before the first dated
      // commit refuses — there is no snapshot to read
      assert(spark.sql(s"SELECT count(*) AS n FROM $name " +
        "TIMESTAMP AS OF '2024-01-03'").head().getLong(0) == 3L)
      assert(spark.sql(s"SELECT count(*) AS n FROM $name " +
        "TIMESTAMP AS OF '2024-01-04'").head().getLong(0) == 5L)
      val e3 = intercept[Exception](spark.sql(
        s"SELECT * FROM $name TIMESTAMP AS OF '2023-01-01'").collect())
      assert(e3.getMessage.contains("no version"), e3.getMessage)
    } finally GraftDmlRegistry.unregister(name)
  }

  test("the declared key follows ALTER TABLE: rename remaps the sidecar, drop refuses") {
    import spark.implicits._
    import graft.plans.GraftDmlRegistry
    import graft.sources.SnapshotTable
    val root = java.nio.file.Files.createTempDirectory("graft_keyalter")
      .toString + "/t"
    val name = "keyalter_t"
    GraftDmlRegistry.unregister(name)
    SnapshotTable.commit(Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"), root)
    GraftDmlRegistry.registerSnapshot(name, root)
    try {
      spark.sql(s"ALTER TABLE $name SET KEY (k)")
      val declaredAt = SnapshotTable.keyDeclaredAt(root)
      // RENAME of a key column remaps table.key (same field id — the
      // validation still stands, @declared preserved) and the keyed verbs
      // keep working under the new name
      spark.sql(s"ALTER TABLE $name RENAME COLUMN k TO id")          // v2
      assert(SnapshotTable.declaredKey(root).contains(Seq("id")))
      assert(SnapshotTable.keyDeclaredAt(root) == declaredAt)
      // the leading comment must not defeat the verb dispatch (r20 review:
      // the bare-name rewrite would otherwise hand Spark an INSERT into a
      // temp view)
      spark.sql(s"-- nightly load\nINSERT INTO $name VALUES (3, 3.0)") // v3
      spark.sql(s"UPDATE $name SET v = v + 1 WHERE id = 2")           // v4
      val f34 = spark.sql(
        s"SELECT id, v, _change_type FROM $name CHANGES BETWEEN 3 AND 4")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
        .toSet
      assert(f34 == Set((2L, 2.0, "update_preimage"),
        (2L, 3.0, "update_postimage")), f34.toString)
      // the keyed-append guard still fires under the new name
      val e0 = intercept[Exception](
        spark.sql(s"INSERT INTO $name VALUES (3, 9.0), (3, 8.0)").collect())
      assert(e0.getMessage.contains("duplicate or NULL"), e0.getMessage)
      // DROP of a key column refuses with the real reason
      val e = intercept[Exception](
        spark.sql(s"ALTER TABLE $name DROP COLUMN id").collect())
      assert(e.getMessage.contains("declared"), e.getMessage)
    } finally GraftDmlRegistry.unregister(name)
  }

  test("plain-table reshape, identical sidecars, and failed CAS commits behave (r20 review fixes)") {
    import spark.implicits._
    import graft.sources.{EvoField, SnapshotTable}
    // (1) a PLAIN table reshaped by a library-level append (renamed column,
    // no field-id metadata) must REFUSE the change feed — the fast path
    // would silently NULL-fill, the multiset fallback would misread
    val d1 = java.nio.file.Files.createTempDirectory("graft_reshape").toString
    SnapshotTable.commit(Seq((1L, 1.0)).toDF("k", "v"), s"$d1/t")
    SnapshotTable.append(Seq((2L, 2.0)).toDF("k", "v2"), s"$d1/t") // reshaped!
    val e1 = intercept[Exception](
      SnapshotTable.changesBetween(spark, s"$d1/t", 1, 2).collect())
    assert(e1.getMessage.contains("field-id evolution metadata"), e1.getMessage)
    // (2) a CONTENT-IDENTICAL schema sidecar is not a boundary: a rewrite
    // that re-writes the same fields (a recompute pipeline's habit) must
    // serve the ordinary multiset diff, not refuse as a schema-crossing
    val d2 = java.nio.file.Files.createTempDirectory("graft_samegen").toString
    val fields = Seq(EvoField(1, "k", "bigint"), EvoField(2, "v", "double"))
    SnapshotTable.commitEvo(Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"),
      s"$d2/t", fields)
    SnapshotTable.commitEvo(Seq((1L, 1.0), (2L, 5.0)).toDF("k", "v"),
      s"$d2/t", fields) // rewrite WITH an identical sidecar
    val f12 = SnapshotTable.changesBetween(spark, s"$d2/t", 1, 2).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(f12 == Set((2L, 2.0, "delete"), (2L, 5.0, "insert")), f12.toString)
    // ...and inside a CROSSING window, a post-ALTER rewrite carrying a
    // sidecar identical to the ALTER's must not be treated as a second
    // boundary (the old bounds logic refused it as 'rewrote files WHILE
    // changing schema')
    val fields3 = fields :+ EvoField(3, "note", "string")
    SnapshotTable.commitSchemaChange(s"$d2/t", fields3, meta = "alter")  // v3
    SnapshotTable.commitEvo(Seq((1L, 1.0, "x"), (2L, 5.0, "y"))
      .toDF("k", "v", "note"), s"$d2/t", fields3)                        // v4
    val f14 = SnapshotTable.changesBetween(spark, s"$d2/t", 1, 4).collect()
      .map(r => (r.getLong(0), r.getDouble(1),
        Option(r.getString(2)).getOrElse("-"), r.getString(3))).toSet
    assert(f14 == Set(
      (2L, 2.0, "-", "delete"), (2L, 5.0, "-", "insert"),   // (1,2] projected
      (1L, 1.0, "-", "delete"), (2L, 5.0, "-", "delete"),   // (3,4] rewrite
      (1L, 1.0, "x", "insert"), (2L, 5.0, "y", "insert")), f14.toString)
    // (3) a FAILED CAS commit releases its reservation: the same writer's
    // retry gets the honest 'rebase' error again (not a bogus
    // already-reserved ConcurrentModificationException), and a corrected
    // retry commits
    val d3 = java.nio.file.Files.createTempDirectory("graft_casfail").toString
    SnapshotTable.commit(Seq((1L, 1.0)).toDF("k", "v"), s"$d3/t")
    val stale1 = intercept[IllegalArgumentException](
      SnapshotTable.commitIfUnchanged(Seq((9L, 9.0)).toDF("k", "v"),
        s"$d3/t", baseVersion = 0))
    assert(stale1.getMessage.contains("rebase"))
    val stale2 = intercept[IllegalArgumentException](
      SnapshotTable.commitIfUnchanged(Seq((9L, 9.0)).toDF("k", "v"),
        s"$d3/t", baseVersion = 0))
    assert(stale2.getMessage.contains("rebase"),
      s"retry must re-reserve, not deadlock: $stale2")
    assert(SnapshotTable.commitIfUnchanged(Seq((9L, 9.0)).toDF("k", "v"),
      s"$d3/t", baseVersion = 1) == 2L)
  }

  test("keyed feed is not retroactive: windows starting before the declaration fall back keyless") {
    import spark.implicits._
    import graft.plans.GraftDmlRegistry
    import graft.sources.SnapshotTable
    val root = java.nio.file.Files.createTempDirectory("graft_keyretro")
      .toString + "/t"
    val name = "keyretro_t"
    GraftDmlRegistry.unregister(name)
    // v1 holds DUPLICATE keys — legal history, the key does not exist yet
    SnapshotTable.commit(
      Seq((1L, 1.0), (1L, 2.0), (2L, 5.0)).toDF("k", "v"), root)
    // v2 rewrites to a unique-keyed state; the declaration validates v2
    SnapshotTable.commit(Seq((1L, 3.0), (2L, 5.0)).toDF("k", "v"), root)
    GraftDmlRegistry.registerSnapshot(name, root)
    try {
      spark.sql(s"ALTER TABLE $name SET KEY (k)")
      assert(SnapshotTable.keyDeclaredAt(root) == 2L)
      // the keyed kernel REFUSES a pre-declaration window start (duplicate
      // keys there would fan out the key join into wrong multiplicities)
      val e = intercept[Exception](
        SnapshotTable.keyedChangesBetween(spark, root, 1, 2).collect())
      assert(e.getMessage.contains("predates the key declaration"),
        e.getMessage)
      // ...and SQL routes that window to the KEYLESS multiset diff, whose
      // multiplicities are exact: two (1, *) shapes deleted, one inserted
      val f12 = spark.sql(
        s"SELECT k, v, _change_type, _n FROM $name CHANGES BETWEEN 1 AND 2")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2),
          r.getLong(3))).toSet
      assert(f12 == Set((1L, 1.0, "delete", 1L), (1L, 2.0, "delete", 1L),
        (1L, 3.0, "insert", 1L)), f12.toString)
      // windows starting AT/after the declaration serve keyed semantics
      spark.sql(s"UPDATE $name SET v = v + 1 WHERE k = 2")
      val f23 = spark.sql(
        s"SELECT k, v, _change_type FROM $name CHANGES BETWEEN 2 AND 3")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
        .toSet
      assert(f23 == Set((2L, 5.0, "update_preimage"),
        (2L, 6.0, "update_postimage")), f23.toString)
    } finally GraftDmlRegistry.unregister(name)
  }
}
