package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions: the library's functions resolve in a session built with
  * the standard extension mechanism, without any per-query register calls. */
class ExtensionsSpec extends AnyFunSuite {
  import TestSpark._

  test("a session built with GraftExtensions resolves cosine_sim and hll_approx") {
    spark.sparkContext // ensure the shared context exists
    // getOrCreate returns the active session (extensions would be ignored),
    // so clear the active/default slots, build a fresh session over the
    // SAME SparkContext, and restore the shared session afterwards.
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      try {
        // every injected function resolves: the extension is the one
        // registration path (no per-query register calls anywhere)
        val injected = Seq("cosine_sim", "hll_approx", "hll_sketch", "hll_union",
          "hll_estimate", "hll_union_pair", "hist_sketch", "hist_union",
          "hist_quantile", "freq_sketch", "freq_union", "freq_items",
          "bloom_sketch", "bloom_union", "bloom_contains", "bitmap_sketch",
          "bitmap_union", "bitmap_count", "bitmap_and_pair", "bitmap_contains",
          "lev_bounded")
        assert(injected.distinct.size == 21)
        injected.foreach(f => assert(s2.catalog.functionExists(f), s"$f is not injected"))
        val cos = s2.sql(
          "SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c")
          .head().getDouble(0)
        assert(math.abs(cos - 1.0) < 1e-12)
        val approx = s2.range(1000)
          .selectExpr("hll_approx(id) AS n").head().getLong(0)
        assert(math.abs(approx - 1000.0) / 1000.0 <= 0.02, s"hll said $approx")
        // planner strategies arrive through the same injection: the rn_native
        // pattern plans through GraftTopKPerKeyExec with NO experimental
        // registration on this fresh session
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions._
        val topk = s2.range(100)
          .withColumn("g", col("id") % 10)
          .withColumn("rn_native",
            row_number().over(Window.partitionBy("g").orderBy(col("id").desc)))
          .filter(col("rn_native") <= 2)
        assert(topk.queryExecution.executedPlan.toString.contains("GraftTopKPerKey"))
        assert(topk.count() == 20)
      } finally {
        // s2 shares the context; do not stop() it
      }
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("pure-SQL quickstart: the whole sketch/kernel surface works through spark.sql only") {
    // The README walkthrough, executable: a PySpark/SQL user configures
    // spark.sql.extensions=graft.GraftExtensions, points temp views at
    // their parquet, and uses every graft function WITHOUT touching Scala —
    // no register() calls, no Dataset API, no imports.
    spark.sparkContext
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      s2.sql(s"CREATE OR REPLACE TEMP VIEW documents USING parquet OPTIONS (path '$sfDir/documents.parquet')")
      s2.sql(s"CREATE OR REPLACE TEMP VIEW embeddings USING parquet OPTIONS (path '$sfDir/embeddings.parquet')")

      // 1. persistable per-group HLL sketches, re-aggregated with set algebra
      val hll = s2.sql(
        """WITH per_lang AS (
          |  SELECT lang, hll_sketch(doc_id) AS sk, count(DISTINCT doc_id) AS exact
          |  FROM documents GROUP BY lang)
          |SELECT hll_estimate(hll_union(sk)) AS est, sum(exact) AS exact
          |FROM per_lang""".stripMargin).head()
      val (est, exact) = (hll.getLong(0), hll.getLong(1))
      assert(math.abs(est - exact.toDouble) / exact <= 0.02, s"hll $est vs exact $exact")

      // 2. mergeable histogram -> quantile
      val q50 = s2.sql(
        """SELECT hist_quantile(hist_union(sk), 0.5) AS med FROM (
          |  SELECT lang, hist_sketch(n_chars, 0.0D, 4096.0D, 256) AS sk
          |  FROM documents GROUP BY lang)""".stripMargin).head().getDouble(0)
      assert(q50 > 0 && q50 < 4096, s"median $q50 out of range")

      // 3. heavy hitters over tokens
      val hh = s2.sql(
        """SELECT freq_items(freq_union(sk)) AS items FROM (
          |  SELECT source, freq_sketch(lang, 8) AS sk
          |  FROM documents GROUP BY source)""".stripMargin)
        .head().getMap[String, Long](0)
      assert(hh.nonEmpty, "no heavy hitters")

      // 4. bloom membership: every member answers true (no false negatives)
      val misses = s2.sql(
        """WITH blob AS (SELECT bloom_sketch(lang, 65536, 5) AS b FROM documents)
          |SELECT count(*) AS missed FROM documents, blob
          |WHERE NOT bloom_contains(b, lang)""".stripMargin).head().getLong(0)
      assert(misses == 0, s"$misses bloom false negatives")

      // 5. banded edit distance agrees with the built-in within the bound
      val levBad = s2.sql(
        """SELECT count(*) AS bad FROM (
          |  SELECT levenshtein(substring(a.text, 1, 12), substring(b.text, 1, 12)) AS d,
          |         lev_bounded(substring(a.text, 1, 12), substring(b.text, 1, 12), 3) AS db
          |  FROM documents a JOIN documents b
          |    ON a.doc_id < 40 AND b.doc_id < 40 AND a.doc_id < b.doc_id)
          |WHERE (d <= 3 AND db <> d) OR (d > 3 AND db <> 4)""".stripMargin)
        .head().getLong(0)
      assert(levBad == 0, s"$levBad lev_bounded disagreements")

      // 6. codegen cosine over real embedding columns
      val cos = s2.sql(
        """SELECT cosine_sim(transform(a.embedding, x -> CAST(x AS DOUBLE)),
          |                  transform(b.embedding, x -> CAST(x AS DOUBLE))) AS c
          |FROM embeddings a JOIN embeddings b ON a.vec_id = 0 AND b.vec_id = 0""".stripMargin)
        .head().getDouble(0)
      assert(math.abs(cos - 1.0) < 1e-9, s"self-cosine $cos")

      s2.sql("DROP VIEW IF EXISTS documents")
      s2.sql("DROP VIEW IF EXISTS embeddings")
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("SQL DML statements reach the snapshot table through plain spark.sql") {
    // the shared session is built withExtensions, so the injected parser is
    // already active — this is exactly the pure-SQL user's surface
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_dmlspec").toString
    val name = "dmlspec_t"
    val seed = Seq((1L, 10.0, "a"), (2L, 20.0, "b"), (3L, 30.0, "c"))
      .toDF("k", "price", "tag")
    graft.sources.SnapshotTable.commit(seed, root)
    graft.plans.GraftDmlRegistry.registerSnapshot(name, root)
    try {
      Seq((2L, 21.0, "b2", "upsert"), (3L, 0.0, "c", "delete"),
        (4L, 40.0, "d", "upsert"))
        .toDF("k", "price", "tag", "op")
        .createOrReplaceTempView("dmlspec_chg")
      val m = spark.sql(
        s"MERGE INTO $name USING dmlspec_chg ON $name.k = dmlspec_chg.k " +
          "WHEN MATCHED AND op = 'delete' THEN DELETE " +
          "WHEN MATCHED THEN UPDATE SET * " +
          "WHEN NOT MATCHED THEN INSERT *").head()
      assert(m.getLong(0) == 2L && m.getLong(1) == 3L) // v2: {1 kept, 2 updated, 4 inserted}
      val u = spark.sql(s"UPDATE $name SET price = price + 5 WHERE k = 1").head()
      assert(u.getLong(0) == 3L && u.getLong(1) == 1L)
      val d = spark.sql(s"DELETE FROM $name WHERE tag = 'b2'").head()
      assert(d.getLong(0) == 4L && d.getLong(1) == 1L)
      // three-valued DELETE: a NULL predicate keeps the row (k=1's tag is
      // 'a', nullif makes the predicate NULL for it — not deleted)
      val d0 = spark.sql(
        s"DELETE FROM $name WHERE length(nullif(tag, tag)) > 0").head()
      assert(d0.getLong(1) == 0L, "NULL-predicate rows must not delete")
      // INSERT INTO: full-width VALUES + column-listed with NULL fill
      val i1 = spark.sql(s"INSERT INTO $name VALUES (9, 90.0, 'i')").head()
      assert(i1.getLong(1) == 1L)
      val i2 = spark.sql(s"INSERT INTO $name (k) SELECT 10 AS k").head()
      assert(i2.getLong(1) == 1L)
      assert(spark.sql(s"SELECT price FROM $name WHERE k = 10")
        .head().isNullAt(0), "unlisted INSERT columns must NULL-fill")
      val cleanup = spark.sql(s"DELETE FROM $name WHERE k >= 9").head()
      assert(cleanup.getLong(1) == 2L)
      // a string literal containing the registered name is NOT rewritten
      assert(spark.sql(s"SELECT '$name' AS s").head().getString(0) == name)
      // per-column MERGE mixing a conditional UPDATE with INSERT * (the
      // full source row inserts by name)
      Seq((4L, 1.0, "dx"), (6L, 60.0, "f")).toDF("k", "price", "tag")
        .createOrReplaceTempView("dmlspec_chg2")
      spark.sql(
        s"MERGE INTO $name USING dmlspec_chg2 ON $name.k = dmlspec_chg2.k " +
          s"WHEN MATCHED THEN UPDATE SET price = $name.price + dmlspec_chg2.price " +
          "WHEN NOT MATCHED THEN INSERT *").collect()
      val afterM = spark.sql(s"SELECT k, price, tag FROM $name ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
      assert(afterM == Seq((1L, 15.0, "a"), (4L, 41.0, "d"), (6L, 60.0, "f")),
        s"per-column merge with INSERT * produced $afterM")
      // DESCRIBE HISTORY: the version/operation ledger in pure SQL
      val hist = spark.sql(s"DESCRIBE HISTORY $name")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(hist.size >= 6 && hist.head == ((1L, "")), // seed had no meta
        s"unexpected history: $hist")
      assert(hist.exists(_._2.startsWith("merge:")) &&
        hist.exists(_._2.startsWith("update:")) &&
        hist.exists(_._2.startsWith("insert:")) &&
        hist.exists(_._2.startsWith("delete:")), s"ledger misses ops: $hist")
      // every other DESCRIBE still delegates to Spark untouched
      assert(spark.sql("DESCRIBE QUERY SELECT 1 AS one").collect().nonEmpty)
      // final state through the bare registered name (post per-column merge)
      val fin = spark.sql(s"SELECT k, price FROM $name ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(fin == Seq((1L, 15.0), (4L, 41.0), (6L, 60.0)))
      // history through VERSION AS OF — v1 seed, v2 post-merge
      assert(spark.sql(s"SELECT count(*) AS n FROM $name VERSION AS OF 1")
        .head().getLong(0) == 3L)
      assert(spark.sql(s"SELECT price FROM $name VERSION AS OF 2 WHERE k = 2")
        .head().getDouble(0) == 21.0)
      // the statement path really is OUR command, not Spark's v2 DML
      val qe = spark.sql(s"DELETE FROM $name WHERE 1 = 0")
      assert(qe.queryExecution.analyzed.toString.contains("GraftDeleteCommand"))
      // unregistered targets delegate verbatim to Spark's parser/analyzer
      intercept[Exception](spark.sql("UPDATE nosuch_table_xyz SET a = 1").collect())
      // statements with no registered names in them parse untouched
      assert(spark.sql("SELECT 1 AS one").head().getInt(0) == 1)
    } finally graft.plans.GraftDmlRegistry.unregister(name)
  }

  test("SQL maintenance verbs: CTAS, OPTIMIZE bin-pack/ZORDER, VACUUM, RESTORE") {
    import spark.implicits._
    import graft.sources.SnapshotTable
    val dir = java.nio.file.Files.createTempDirectory("graft_maintspec").toString
    val root = s"$dir/t"
    val name = "maintspec_t"
    graft.plans.GraftDmlRegistry.unregister(name)
    try {
      // CTAS: v1, registered, readable through the bare name
      (1L to 100L).map(i => (i, i * 2.0)).toDF("k", "v").repartition(5)
        .createOrReplaceTempView("maintspec_src")
      val c = spark.sql(s"CREATE SNAPSHOT TABLE $name LOCATION '$root' " +
        "AS SELECT * FROM maintspec_src").head()
      assert(c.getLong(0) == 1L && c.getLong(1) == 100L)
      assert(SnapshotTable.manifestFiles(root, 1L).size == 5)
      assert(spark.sql(s"SELECT count(*) AS n FROM $name").head().getLong(0) == 100L)
      // CTAS refuses a taken name and a non-empty location
      intercept[Exception](spark.sql(
        s"CREATE SNAPSHOT TABLE $name LOCATION '$dir/other' AS SELECT 1 AS x").collect())
      graft.plans.GraftDmlRegistry.unregister("maintspec_t2")
      intercept[Exception](spark.sql(
        s"CREATE SNAPSHOT TABLE maintspec_t2 LOCATION '$root' AS SELECT 1 AS x").collect())
      // ordinary CREATE still delegates to Spark untouched
      spark.sql("CREATE TEMPORARY VIEW maintspec_plainview AS SELECT 1 AS x")
      assert(spark.sql("SELECT x FROM maintspec_plainview").head().getInt(0) == 1)

      // one BIG file (append of 10k rows as a single file) + the 5 small
      (101L to 10100L).map(i => (i, i * 2.0)).toDF("k", "v").repartition(1)
        .createOrReplaceTempView("maintspec_big")
      spark.sql(s"INSERT INTO $name SELECT * FROM maintspec_big").collect()
      val bigFile = SnapshotTable.manifestFiles(root, 2L)
        .find(_.startsWith("data/v2/")).get
      val bigBytes = java.nio.file.Files.size(java.nio.file.Paths.get(root, bigFile))
      val smallest = SnapshotTable.manifestFiles(root, 2L)
        .map(f => java.nio.file.Files.size(java.nio.file.Paths.get(root, f))).min
      assert(bigBytes > smallest, "fixture assumption: the 10k-row file is biggest")

      // bin-pack: files under the bound rewrite into 2; the big file CARRIES
      // OVER by path — zero bytes of it move
      val o = spark.sql(s"OPTIMIZE $name SMALLER THAN $bigBytes BYTES " +
        "INTO 2 FILES").head()
      assert(o.getLong(0) == 3L, s"optimize committed v${o.getLong(0)}")
      assert(o.getLong(1) == 6L && o.getLong(2) == 5L && o.getLong(3) == 3L,
        s"bin-pack counts: before=${o.getLong(1)} rewritten=${o.getLong(2)} after=${o.getLong(3)}")
      assert(SnapshotTable.manifestFiles(root, 3L).contains(bigFile),
        "the over-bound file must carry over into the new manifest untouched")
      assert(spark.sql(s"SELECT count(*) AS n, sum(v) AS s FROM $name").head()
        .getLong(0) == 10100L, "optimize must not change content")

      // no-op: nothing under 1 byte — no version committed
      val noop = spark.sql(s"OPTIMIZE $name SMALLER THAN 1 BYTES INTO 2 FILES").head()
      assert(noop.getLong(0) == 3L && noop.getLong(2) == 0L)
      assert(SnapshotTable.latestVersion(root).contains(3L))

      // ZORDER rewrite: range-partitioned on the interleaved key, so the
      // per-file z ranges are pairwise disjoint (what min/max stats prune on)
      val oz = spark.sql(s"OPTIMIZE $name ZORDER BY (k, v) INTO 4 FILES").head()
      assert(oz.getLong(0) == 4L && oz.getLong(3) == 4L)
      val zExpr = (0 until 16).map { i =>
        s"shiftleft(shiftrightunsigned(CAST(k AS BIGINT), $i) % 2, ${2 * i + 1}) + " +
          s"shiftleft(shiftrightunsigned(CAST(v AS BIGINT), $i) % 2, ${2 * i})"
      }.mkString("(", " + ", ")")
      val ranges = SnapshotTable.manifestFiles(root, 4L).map { f =>
        val r = spark.read.parquet(s"$root/$f")
          .selectExpr(s"min($zExpr) AS lo", s"max($zExpr) AS hi").head()
        (r.getLong(0), r.getLong(1))
      }.sortBy(_._1)
      ranges.sliding(2).foreach {
        case Seq((_, hi), (lo2, _)) =>
          assert(hi <= lo2, s"z ranges overlap: $ranges")
        case _ =>
      }
      assert(spark.sql(s"SELECT count(*) AS n FROM $name").head()
        .getLong(0) == 10100L, "zorder must not change content")

      // a bad commit, then RESTORE: metadata-only undo (no data dir for v6)
      spark.sql(s"DELETE FROM $name WHERE k <= 10000").collect() // v5, "bad"
      assert(spark.sql(s"SELECT count(*) AS n FROM $name").head().getLong(0) == 100L)
      val r = spark.sql(s"RESTORE $name TO VERSION AS OF 4").head()
      assert(r.getLong(0) == 6L && r.getLong(1) == 10100L)
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(root, "data", "v6")),
        "restore must be metadata-only — no new data files")
      assert(spark.sql(s"SELECT count(*) AS n FROM $name").head()
        .getLong(0) == 10100L)

      // VACUUM: keep 2 → v1..v4 expire; time travel past the horizon fails;
      // DESCRIBE HISTORY shrinks to the retained window
      val vac = spark.sql(s"VACUUM $name RETAIN 2 VERSIONS").head()
      assert(vac.getLong(1) == 4L, s"expired ${vac.getLong(1)} versions")
      intercept[Exception](
        spark.sql(s"SELECT count(*) AS n FROM $name VERSION AS OF 1").collect())
      val hist = spark.sql(s"DESCRIBE HISTORY $name")
        .collect().map(_.getLong(0)).toSeq
      assert(hist == Seq(5L, 6L), s"history after vacuum: $hist")
      // the restored content survives the vacuum (v6 references v4's files,
      // which the reference-counted expiry must keep)
      assert(spark.sql(s"SELECT count(*) AS n FROM $name").head()
        .getLong(0) == 10100L)

      // SHOW SNAPSHOT TABLES lists the registered name with its version;
      // Spark's own SHOW TABLES still delegates untouched
      val shown = spark.sql("SHOW SNAPSHOT TABLES")
        .collect().map(r => (r.getString(0), r.getLong(2))).toMap
      assert(shown.get(name).contains(
        graft.sources.SnapshotTable.latestVersion(root).get), shown)
      assert(spark.sql("SHOW TABLES").columns.nonEmpty)

      // unregistered maintenance targets delegate to Spark's parser → error
      intercept[Exception](spark.sql("OPTIMIZE nosuch_xyz INTO 2 FILES").collect())
      intercept[Exception](spark.sql("VACUUM nosuch_xyz RETAIN 2 VERSIONS").collect())
      intercept[Exception](spark.sql("RESTORE nosuch_xyz TO VERSION AS OF 1").collect())
    } finally {
      graft.plans.GraftDmlRegistry.unregister(name)
      graft.plans.GraftDmlRegistry.unregister("maintspec_t2")
    }
  }

  test("COPY INTO: by-name idempotency and a ledger that survives VACUUM") {
    import spark.implicits._
    import graft.sources.SnapshotTable
    val dir = java.nio.file.Files.createTempDirectory("graft_copyspec").toString
    val root = s"$dir/t"; val landing = s"$dir/landing"
    val name = "copyspec_t"
    graft.plans.GraftDmlRegistry.unregister(name)
    SnapshotTable.commit(Seq((0L, 0.0)).toDF("k", "v"), root)
    graft.plans.GraftDmlRegistry.registerSnapshot(name, root)
    try {
      (1L to 40L).map(i => (i, i * 1.0)).toDF("k", "v").repartition(2)
        .write.parquet(landing)
      val c1 = spark.sql(s"COPY INTO $name FROM '$landing'").head()
      assert(c1.getLong(1) == 2L && c1.getLong(2) == 40L)
      // retry loads nothing — the crash/schedule re-run guarantee
      val c2 = spark.sql(s"COPY INTO $name FROM '$landing'").head()
      assert(c2.getLong(1) == 0L && c2.getLong(2) == 0L)
      // churn versions past the copy commit, then VACUUM it away: the
      // LEDGER must survive (re-loading old landing files would be silent
      // row duplication)
      spark.sql(s"INSERT INTO $name VALUES (100, 1.0)").collect()
      spark.sql(s"INSERT INTO $name VALUES (101, 1.0)").collect()
      spark.sql(s"VACUUM $name RETAIN 2 VERSIONS").collect()
      assert(!SnapshotTable.versionExists(root, 2L), "copy commit expired")
      val c3 = spark.sql(s"COPY INTO $name FROM '$landing'").head()
      assert(c3.getLong(1) == 0L,
        "vacuum forgot the copy ledger — old files would double-load")
      assert(spark.sql(s"SELECT count(*) AS n FROM $name").head()
        .getLong(0) == 43L)
      // CRASH RECOVERY: a sidecar staged for an UNPUBLISHED version (load
      // crashed between sidecar write and swap) must NOT count as loaded —
      // the retried COPY INTO re-loads those files
      (200L to 205L).map(i => (i, 1.0)).toDF("k", "v").repartition(1)
        .write.parquet(s"$dir/wave2")
      val w2 = new java.io.File(s"$dir/wave2").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(w2.toPath,
        java.nio.file.Paths.get(landing, w2.getName))
      val staged = SnapshotTable.latestVersion(root).get + 1
      java.nio.file.Files.write(
        java.nio.file.Paths.get(root, "_snapshots", s"v$staged.copied"),
        w2.getName.getBytes("UTF-8"))
      val c4 = spark.sql(s"COPY INTO $name FROM '$landing'").head()
      assert(c4.getLong(1) == 1L && c4.getLong(2) == 6L,
        "a crashed (unswapped) load's sidecar permanently skipped its files")
      // a non-directory FROM fails loudly; unregistered names delegate
      intercept[Exception](
        spark.sql(s"COPY INTO $name FROM '$dir/nosuch'").collect())
      intercept[Exception](
        spark.sql("COPY INTO nosuch_copy_t FROM '/tmp'").collect())
      // SHOW with a trailing comment still parses as ours
      assert(spark.sql("SHOW SNAPSHOT TABLES -- refresh the list")
        .collect().exists(_.getString(0) == name))
    } finally graft.plans.GraftDmlRegistry.unregister(name)
  }

  test("per-column MERGE: NULL-key rows pass through, duplicate source keys refuse, CASE/JOIN-ON grammar parses") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_mergespec").toString
    val name = "mergespec_t"
    graft.plans.GraftDmlRegistry.unregister(name)
    val seed = Seq((Option(1L), 10.0, "a"), (Option(2L), 20.0, "b"))
      .toDF("k", "price", "tag")
    graft.sources.SnapshotTable.commit(seed, root)
    graft.plans.GraftDmlRegistry.registerSnapshot(name, root)
    try {
      // a NULL-key target row (reachable via INSERT's NULL fill)
      spark.sql(s"INSERT INTO $name (price) VALUES (5.0)").collect()
      Seq((2L, 2.0, "b2"), (9L, 90.0, "i")).toDF("k", "price", "tag")
        .createOrReplaceTempView("mergespec_chg")
      // standard MERGE: the NULL-key row matches nothing and must survive
      // UNCHANGED — not be dropped from kept and re-emitted as INSERT junk
      spark.sql(
        s"MERGE INTO $name USING mergespec_chg ON $name.k = mergespec_chg.k " +
          s"WHEN MATCHED THEN UPDATE SET price = $name.price + mergespec_chg.price " +
          "WHEN NOT MATCHED THEN INSERT (k, price, tag) " +
          "VALUES (mergespec_chg.k, mergespec_chg.price, 'n')").collect()
      val rows = spark.sql(
        s"SELECT k, price, tag FROM $name ORDER BY k NULLS FIRST")
        .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
          r.getDouble(1), if (r.isNullAt(2)) null else r.getString(2))).toSeq
      assert(rows == Seq((-1L, 5.0, null), (1L, 10.0, "a"), (2L, 22.0, "b"),
        (9L, 90.0, "n")), s"unexpected table state: $rows")
      // CASE WHEN inside an UPDATE SET expression is not a clause boundary
      spark.sql(
        s"MERGE INTO $name USING mergespec_chg ON $name.k = mergespec_chg.k " +
          s"WHEN MATCHED THEN UPDATE SET tag = CASE WHEN mergespec_chg.price > 50 " +
          "THEN 'hi' ELSE 'lo' END " +
          "WHEN NOT MATCHED THEN INSERT (k) VALUES (mergespec_chg.k)").collect()
      assert(spark.sql(s"SELECT tag FROM $name WHERE k = 9").head()
        .getString(0) == "hi")
      // a USING (subquery) with its own JOIN ... ON splits at the RIGHT ON
      spark.sql("SELECT 2 AS k UNION ALL SELECT 4 AS k")
        .createOrReplaceTempView("mergespec_dim")
      spark.sql(
        s"MERGE INTO $name USING (SELECT c.k, c.price FROM mergespec_chg c " +
          s"JOIN mergespec_dim d ON c.k = d.k) s ON $name.k = s.k " +
          "WHEN MATCHED THEN UPDATE SET price = s.price * 10 " +
          "WHEN NOT MATCHED THEN INSERT (k, price) VALUES (s.k, s.price)").collect()
      assert(spark.sql(s"SELECT price FROM $name WHERE k = 2").head()
        .getDouble(0) == 20.0)
      // BY SOURCE with UNQUALIFIED refs: the bare name means the TARGET
      // (the source side is all NULL on those rows) — `v = v * 2` must
      // double, `AND price > X` must consult the target's price
      Seq((6L, 60.0, "f")).toDF("k", "price", "tag")
        .createOrReplaceTempView("mergespec_keep")
      spark.sql(
        s"MERGE INTO $name USING mergespec_keep ON $name.k = mergespec_keep.k " +
          "WHEN MATCHED THEN UPDATE SET tag = 'kept' " +
          "WHEN NOT MATCHED BY SOURCE AND price > 15 THEN UPDATE SET price = price * 2 " +
          "WHEN NOT MATCHED THEN INSERT *").collect()
      val bySrc = spark.sql(
        s"SELECT k, price FROM $name WHERE k IS NOT NULL ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      // k=2 (price 20 > 15) doubled to 40; k=1 (price 10) untouched;
      // k=9 (90) doubled; k=6 is source-only → INSERT * adds it verbatim
      assert(bySrc == Seq((1L, 10.0), (2L, 40.0), (6L, 60.0), (9L, 180.0)),
        s"by-source unqualified refs misresolved: $bySrc")

      // a DELETE-ONLY conditional MERGE is valid per-column MERGE — the
      // marker-shaped condition must not be claimed by the CDC classifier
      val delOnly = spark.sql(
        s"MERGE INTO $name USING mergespec_keep ON $name.k = mergespec_keep.k " +
          s"WHEN MATCHED AND $name.tag = 'f' THEN DELETE").head()
      assert(delOnly.getLong(0) > 0L)
      assert(spark.sql(s"SELECT count(*) AS n FROM $name WHERE k = 6")
        .head().getLong(0) == 0L, "conditional delete-only MERGE did not apply")

      // duplicate source keys: the standard MERGE cardinality error
      Seq((1L, 1.0), (1L, 2.0)).toDF("k", "price")
        .createOrReplaceTempView("mergespec_dup")
      val e = intercept[Exception](spark.sql(
        s"MERGE INTO $name USING mergespec_dup ON $name.k = mergespec_dup.k " +
          "WHEN MATCHED THEN UPDATE SET price = mergespec_dup.price " +
          "WHEN NOT MATCHED THEN INSERT (k) VALUES (mergespec_dup.k)").collect())
      assert(e.getMessage.contains("multiple rows"), e.getMessage)
    } finally graft.plans.GraftDmlRegistry.unregister(name)
  }

  test("zorderKey round-robins bits across ALL listed columns") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq((1L, 0L, 0L), (0L, 1L, 0L), (0L, 0L, 1L), (2L, 0L, 4L))
      .toDF("a", "b", "c")
    // k=3: bit i of column j lands at position i*3 + (2-j) — every column
    // keeps locality (a pairwise fold would drop the earlier columns' high
    // bits and cluster almost solely on the last column)
    val z3 = graft.plans.GraftOptimizeCommand.zorderKey(
      Seq(col("a"), col("b"), col("c")))
    assert(df.select(z3.as("z")).collect().map(_.getLong(0)).toSeq ==
      Seq(4L, 2L, 1L, 96L)) // (2,0,4): a bit1→pos5=32, c bit2→pos6=64
    // k=2 stays the f13 layout: first column odd bits, second even
    val z2 = graft.plans.GraftOptimizeCommand.zorderKey(Seq(col("a"), col("b")))
    assert(df.select(z2.as("z")).collect().map(_.getLong(0)).toSeq ==
      Seq(2L, 1L, 0L, 8L))
  }

  test("SQL MV DDL: CREATE serves, stale source refuses, REFRESH restores, DROP forgets") {
    import spark.implicits._
    import graft.plans.{GraftMvDdlRegistry, GraftMvRewriteRule, MvRegistry}
    val dir = java.nio.file.Files.createTempDirectory("graft_mvddl").toString
    val srcDir = s"$dir/src"; val mvPath = s"$dir/mv"
    val name = "mvddl_v"
    // the shared test session is built withExtensions, so the rewrite rule
    // is injected; the flag gates it
    MvRegistry.clear(); GraftMvDdlRegistry.remove(name)
    (1L to 50L).map(i => (i, i % 5, i * 1.0)).toDF("k", "grp", "x")
      .write.parquet(srcDir)
    def refreshView(): Unit =
      spark.read.parquet(srcDir).createOrReplaceTempView("mvddl_src")
    refreshView()
    val defSql = "SELECT grp, count(*) AS n, " +
      "CAST(sum(CAST(x AS DECIMAL(27,6))) AS DOUBLE) AS sx " +
      "FROM mvddl_src GROUP BY grp"
    try {
      val c = spark.sql(
        s"CREATE MATERIALIZED VIEW $name LOCATION '$mvPath' AS $defSql").head()
      assert(c.getLong(0) == 5L)
      spark.conf.set(GraftMvRewriteRule.Flag, "true")
      def planOf(): String = {
        val df = spark.sql(defSql); df.collect()
        df.queryExecution.executedPlan.toString
      }
      // fresh: served from the MV parquet, source scan gone
      val p1 = planOf()
      assert(p1.contains("/mv") && !p1.contains("/src"),
        s"CREATE did not serve from the MV:\n$p1")
      // duplicate CREATE refuses
      intercept[Exception](spark.sql(
        s"CREATE MATERIALIZED VIEW $name LOCATION '$dir/mv2' AS $defSql").collect())
      // source changes → fingerprint refuses → raw scan, CORRECT totals
      Seq((51L, 0L, 100.0)).toDF("k", "grp", "x").write.mode("append").parquet(srcDir)
      refreshView()
      val p2 = planOf()
      assert(p2.contains("/src") && !p2.contains("/mv"),
        s"stale MV still served:\n$p2")
      assert(spark.sql(defSql).agg(org.apache.spark.sql.functions.sum("n"))
        .head().getLong(0) == 51L)
      // REFRESH rebuilds + re-fingerprints → served again, new totals
      val r = spark.sql(s"REFRESH MATERIALIZED VIEW $name").head()
      assert(r.getLong(0) == 5L)
      val p3 = planOf()
      assert(p3.contains("/mv") && !p3.contains("/src"),
        s"REFRESH did not restore serving:\n$p3")
      assert(spark.sql(defSql).agg(org.apache.spark.sql.functions.sum("n"))
        .head().getLong(0) == 51L, "refreshed MV lost rows")
      // SHOW MATERIALIZED VIEWS lists it until DROP forgets it
      assert(spark.sql("SHOW MATERIALIZED VIEWS").collect()
        .exists(_.getString(0) == name))
      // DROP forgets: raw scan again; a second DROP has no registered name
      // and delegates to Spark's parser (which has no such statement)
      assert(spark.sql(s"DROP MATERIALIZED VIEW $name").head().getLong(0) == 1L)
      assert(!spark.sql("SHOW MATERIALIZED VIEWS").collect()
        .exists(_.getString(0) == name))
      val p4 = planOf()
      assert(p4.contains("/src") && !p4.contains("/mv"), s"dropped MV served:\n$p4")
      intercept[Exception](spark.sql(s"DROP MATERIALIZED VIEW $name").collect())
      // Spark's own REFRESH TABLE still delegates untouched
      spark.sql("REFRESH TABLE mvddl_src")
    } finally {
      spark.conf.set(GraftMvRewriteRule.Flag, "false")
      MvRegistry.clear(); GraftMvDdlRegistry.remove(name)
    }
  }

  test("session_window auto-rewrite is conf-gated and shape-exact") {
    import org.apache.spark.sql.functions._
    val srcDir = java.nio.file.Files.createTempDirectory("graft_swspec").toString
    import spark.implicits._
    Seq((1L, java.sql.Timestamp.valueOf("2020-01-01 00:00:00")))
      .toDF("user_id", "ts").write.mode("overwrite").parquet(srcDir)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "user_id BIGINT, ts TIMESTAMP")
    def q = spark.readStream.schema(schema).parquet(srcDir)
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    def hasTws(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collectFirst {
        case n if n.nodeName == "TransformWithState" => n
      }.isDefined
    val flag = graft.plans.GraftSessionRewriteRule.Flag
    assert(!hasTws(q)) // default off
    spark.conf.set(flag, "true")
    try {
      assert(hasTws(q)) // exact shape rewrites
      // a non-count aggregate over the same session grouping is NOT ours
      val other = spark.readStream.schema(schema).parquet(srcDir)
        .withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(max(col("ts")).as("m"))
      assert(!hasTws(other))
      // static (non-streaming) session_window keeps the built-in
      val batch = spark.read.schema(schema).parquet(srcDir)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"))
      assert(!hasTws(batch))
      assert(batch.count() == 1)
    } finally spark.conf.unset(flag)
  }

  test("conf-gated rule rewrites levenshtein thresholds to the banded kernel") {
    spark.sparkContext // ensure the shared context exists (builder reuses it)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      import org.apache.spark.sql.functions._
      // derived from range, not a LocalRelation — ConvertToLocalRelation
      // would otherwise evaluate the filter at optimization time and leave
      // nothing to inspect
      val df = s2.range(300).select(
        substring(md5(col("id").cast("string")), 1, 6).as("a"),
        substring(md5((col("id") * 7).cast("string")), 1, 6).as("b"))
      def q = df.filter(levenshtein(col("a"), col("b")) <= 3)

      val flag = graft.plans.GraftLevBoundedRule.Flag
      s2.conf.set(flag, "false")
      val off = q
      val offRows = off.count()
      assert(!off.queryExecution.optimizedPlan.toString.contains("lev_bounded"))

      s2.conf.set(flag, "true")
      try {
        val on = q
        assert(on.queryExecution.optimizedPlan.toString.contains("lev_bounded"),
          on.queryExecution.optimizedPlan.toString)
        assert(on.count() == offRows)
        // a bare projection (no comparison) keeps the exact built-in
        val bare = df.select(levenshtein(col("a"), col("b")).as("d"))
        assert(!bare.queryExecution.optimizedPlan.toString.contains("lev_bounded"))
      } finally s2.conf.unset(flag)
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("per-column MERGE computes the source subquery exactly once") {
    import spark.implicits._
    import graft.sources.SnapshotTable
    val dir = java.nio.file.Files.createTempDirectory("graft_once").toString
    val name = "oncespec_t"
    graft.plans.GraftDmlRegistry.unregister(name)
    SnapshotTable.commit(
      (1L to 50L).map(i => (i, i * 1.0)).toDF("k", "v"), s"$dir/t")
    graft.plans.GraftDmlRegistry.registerSnapshot(name, s"$dir/t")
    try {
      // every source-row evaluation rings the accumulator: the old eager
      // duplicate-key pre-check was a SEPARATE pass over the source (2×
      // per row), and without exchange reuse the kept/inserts union arms
      // would each re-run the scan — exactly once per row pins both
      val acc = spark.sparkContext.longAccumulator("oncespec_evals")
      spark.udf.register("oncespec_tick", (k: Long) => { acc.add(1); k })
      (20L to 80L).map(i => (i, i * 2.0)).toDF("k0", "v")
        .createOrReplaceTempView("oncespec_raw")
      spark.sql(
        s"MERGE INTO $name USING " +
          s"(SELECT oncespec_tick(k0) AS k, v FROM oncespec_raw) AS s " +
          s"ON $name.k = s.k " +
          "WHEN MATCHED THEN UPDATE SET v = s.v " +
          "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)").collect()
      assert(acc.value == 61L,
        s"source evaluated ${acc.value} times for 61 rows — the merge " +
          "must consume ONE computation of the source subquery")
      assert(spark.sql(s"SELECT count(*) AS n FROM $name").head()
        .getLong(0) == 80L)
    } finally graft.plans.GraftDmlRegistry.unregister(name)
  }

  test("CHANGES BETWEEN: O(delta) append lineage, multiset rewrite diff, schema-change refusal") {
    import spark.implicits._
    import graft.sources.SnapshotTable
    val dir = java.nio.file.Files.createTempDirectory("graft_cdc").toString
    val name = "cdcspec_t"
    graft.plans.GraftDmlRegistry.unregister(name)
    // duplicate row-shapes on purpose: (7, 'x') twice — multiplicity matters
    SnapshotTable.commit(
      (Seq((1L, "a"), (2L, "b"), (7L, "x"), (7L, "x"))).toDF("k", "tag"),
      s"$dir/t")
    graft.plans.GraftDmlRegistry.registerSnapshot(name, s"$dir/t")
    try {
      spark.sql(s"INSERT INTO $name VALUES (3, 'c'), (7, 'x')") // v2 append
      // APPEND lineage: the feed reads ONLY the delta files — O(delta)
      val feed12 = SnapshotTable.changes(spark, s"$dir/t", 1, 2)
      assert(feed12.inputFiles.forall(_.contains("/data/v2/")),
        s"append-lineage feed read beyond the delta: ${feed12.inputFiles.toSeq}")
      val f12 = feed12.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSet
      assert(f12 == Set((3L, "c", "insert", 1L), (7L, "x", "insert", 1L)), f12)
      // rewrite lineage through SQL: delete one of the duplicate (7,'x')
      // rows... a keyless DELETE removes BOTH; use UPDATE to fork one shape
      spark.sql(s"UPDATE $name SET tag = 'y' WHERE k = 2") // v3 rewrite
      val f23 = spark.sql(
        s"SELECT k, tag, _change_type, _n FROM $name CHANGES BETWEEN 2 AND 3")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSet
      assert(f23 == Set((2L, "b", "delete", 1L), (2L, "y", "insert", 1L)), f23)
      // multiplicity: dropping ONE copy of a duplicated shape via rewrite
      SnapshotTable.commit(
        spark.sql(s"SELECT * FROM $name").where("k <> 7")
          .union(Seq((7L, "x")).toDF("k", "tag")), s"$dir/t") // v4: 3->1 copy
      val f34 = spark.sql(
        s"SELECT k, tag, _change_type, _n FROM $name CHANGES BETWEEN 3 AND 4")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSet
      assert(f34 == Set((7L, "x", "delete", 2L)), f34)
      // identical versions diff to the empty feed (RESTORE-style lineage)
      assert(SnapshotTable.changes(spark, s"$dir/t", 4, 4).count() == 0)
      // DESCRIBE DETAIL: version/file-count from the manifest, byte total
      // from the sizes sidecar (metadata-only), column count from schema
      val det = spark.sql(s"DESCRIBE DETAIL $name").head()
      assert(det.getLong(0) == 4L)
      assert(det.getLong(1) ==
        SnapshotTable.manifestFiles(s"$dir/t", 4L).size.toLong)
      assert(det.getLong(2) ==
        SnapshotTable.manifestFiles(s"$dir/t", 4L)
          .map(SnapshotTable.fileSizes(s"$dir/t", 4L)).sum)
      assert(det.getLong(3) == 2L)
      intercept[Exception](spark.sql("DESCRIBE DETAIL nosuch_detail_t").collect())
      // crossing an ADDITIVE schema change now SERVES (m44): the window
      // splits at the boundary and projects to the v2 schema. The
      // metadata-only ALTER itself moves no data, so (4,5] is the EMPTY
      // feed — under the NEW schema
      spark.sql(s"ALTER TABLE $name ADD COLUMN extra string") // v5
      val f45 = spark.sql(s"SELECT * FROM $name CHANGES BETWEEN 4 AND 5")
      assert(f45.columns.toSeq == Seq("k", "tag", "extra", "_change_type", "_n"),
        f45.columns.mkString(","))
      assert(f45.count() == 0L)
      // a window SPANNING the ALTER serves the pre-ALTER changes with the
      // added column NULL-filled (field-id projection)
      val f35 = spark.sql(s"SELECT k, tag, extra, _change_type, _n " +
          s"FROM $name CHANGES BETWEEN 3 AND 5").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))).toSet
      assert(f35 == Set((7L, "x", null, "delete", 2L)), f35)
      // crossing a DROP refuses loudly — the dropped column's values
      // cannot be replayed under the target schema
      spark.sql(s"ALTER TABLE $name DROP COLUMN tag") // v6
      val e = intercept[Exception](
        spark.sql(s"SELECT * FROM $name CHANGES BETWEEN 4 AND 6").collect())
      assert(e.getMessage.contains("DROP"), e.getMessage)
    } finally graft.plans.GraftDmlRegistry.unregister(name)
  }

  test("shallow clones compose with DESCRIBE DETAIL, OPTIMIZE, and the table stream") {
    import spark.implicits._
    import graft.sources.SnapshotTable
    val dir = java.nio.file.Files.createTempDirectory("graft_clonesql").toString
    SnapshotTable.commit(
      (1L to 200L).map(i => (i, i * 1.0)).toDF("k", "v").repartition(3),
      s"$dir/src")
    SnapshotTable.cloneFrom(s"$dir/src", s"$dir/clone")
    val name = "clonespec_t"
    graft.plans.GraftDmlRegistry.unregister(name)
    graft.plans.GraftDmlRegistry.registerSnapshot(name, s"$dir/clone")
    try {
      // foreign (absolute) manifest entries resolve through every new verb:
      // sizes come from the clone's sidecar, bytes match the source's
      val det = spark.sql(s"DESCRIBE DETAIL $name").head()
      assert(det.getLong(1) == 3L && det.getLong(2) > 0L, det.toString)
      // the table stream reads the clone's foreign entries (one batch)
      val q = spark.readStream.format("graft.sources.GraftTableStream")
        .option("path", s"$dir/clone").load()
        .writeStream.format("memory").queryName("clonespec_stream")
        .option("checkpointLocation", s"$dir/ck")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      assert(spark.table("clonespec_stream").count() == 200L)
      // OPTIMIZE bin-packs the clone: foreign files rewrite into LOCAL
      // files (the clone materializes what it compacts — correct: the
      // source's files are not the clone's to rewrite)
      val o = spark.sql(s"OPTIMIZE $name INTO 1 FILES").head()
      assert(o.getLong(3) == 1L, o.toString)
      assert(spark.sql(s"SELECT count(*) AS n FROM $name").head()
        .getLong(0) == 200L)
    } finally graft.plans.GraftDmlRegistry.unregister(name)
  }

  test("metastore: SQL-created tables and MVs survive a restart (registry wipe + reload)") {
    import spark.implicits._
    import graft.plans.{GraftDmlRegistry, GraftMetastore, GraftMvDdlRegistry,
      GraftMvRewriteRule, MvRegistry}
    val dir = java.nio.file.Files.createTempDirectory("graft_metaspec").toString
    val name = "metaspec_t"; val mv = "metaspec_v"
    GraftDmlRegistry.unregister(name)
    GraftMvDdlRegistry.remove(mv); MvRegistry.unregister(mv)
    if (!spark.experimental.extraOptimizations.contains(GraftMvRewriteRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ GraftMvRewriteRule
    spark.conf.set(GraftMetastore.DirKey, s"$dir/meta")
    try {
      (1L to 60L).map(i => (i, i % 5, i * 1.5)).toDF("k", "g", "v")
        .createOrReplaceTempView("metaspec_src")
      spark.sql(s"CREATE SNAPSHOT TABLE $name LOCATION '$dir/t' AS " +
        "SELECT * FROM metaspec_src")
      val defSql = s"SELECT g, count(*) AS n, " +
        s"CAST(floor(sum(CAST(v AS DECIMAL(27,6)))) AS BIGINT) AS sv " +
        s"FROM $name GROUP BY g"
      spark.sql(s"CREATE MATERIALIZED VIEW $mv LOCATION '$dir/mv' AS $defSql")
      // both catalog files exist and are line-oriented metadata
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$dir/meta/tables.catalog")))
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$dir/meta/mvs.catalog")))

      // ---- restart: wipe the in-JVM registries for these names ----
      GraftDmlRegistry.unregister(name)
      GraftMvDdlRegistry.remove(mv); MvRegistry.unregister(mv)
      GraftMetastore.forget(s"$dir/meta")
      assert(GraftDmlRegistry.rootOf(name).isEmpty)

      // first statement reloads the catalog: the table resolves again
      assert(spark.sql(s"SELECT count(*) AS n FROM $name").head()
        .getLong(0) == 60L)
      assert(GraftMvDdlRegistry.get(mv).isDefined, "MV definition reloaded")
      // the reloaded MV SERVES: flag on, the plan reads the MV parquet
      // and no source scan survives
      spark.conf.set(GraftMvRewriteRule.Flag, "true")
      try {
        val served = spark.sql(defSql)
        val inputs = served.inputFiles.toSeq
        assert(inputs.nonEmpty && inputs.forall(_.contains(s"$dir/mv")),
          s"MV parquet is not the only input: $inputs")
        assert(served.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
          == (0L to 4L).map(g => g -> 12L).toMap)
      } finally spark.conf.set(GraftMvRewriteRule.Flag, "false")
      // DESCRIBE HISTORY through the reloaded name
      assert(spark.sql(s"DESCRIBE HISTORY $name").collect().length == 1)
      // DROP MV removes the catalog line: a second restart must NOT recall it
      spark.sql(s"DROP MATERIALIZED VIEW $mv").collect()
      GraftMetastore.forget(s"$dir/meta")
      spark.sql("SHOW SNAPSHOT TABLES").collect() // any statement reloads
      assert(GraftMvDdlRegistry.get(mv).isEmpty, "dropped MV resurrected")
      // DROP SNAPSHOT TABLE detaches the NAME (data stays on disk) and
      // removes the catalog line — no resurrection across a restart
      assert(spark.sql(s"DROP SNAPSHOT TABLE $name").head().getLong(0) == 1L)
      GraftMetastore.forget(s"$dir/meta")
      spark.sql("SHOW SNAPSHOT TABLES").collect()
      assert(GraftDmlRegistry.rootOf(name).isEmpty, "dropped table resurrected")
      assert(graft.sources.SnapshotTable.latestVersion(s"$dir/t").isDefined,
        "DROP must not delete the snapshot data")
      // ATTACH form: adopt the surviving root back under the name — it
      // re-enters the catalog and survives yet another restart
      val att = spark.sql(
        s"CREATE SNAPSHOT TABLE $name LOCATION '$dir/t'").head()
      assert(att.getLong(0) == 1L) // existing v1 adopted, nothing rewritten
      GraftDmlRegistry.unregister(name)
      GraftMetastore.forget(s"$dir/meta")
      assert(spark.sql(s"SELECT count(*) AS n FROM $name").head()
        .getLong(0) == 60L, "attached table lost across restart")
      // attaching an empty root is a loud error, not a silent registration
      intercept[Exception](spark.sql(
        s"CREATE SNAPSHOT TABLE metaspec_empty LOCATION '$dir/nosuch'").collect())
    } finally {
      spark.conf.unset(GraftMetastore.DirKey)
      GraftDmlRegistry.unregister(name)
      GraftMvDdlRegistry.remove(mv); MvRegistry.unregister(mv)
    }
  }

  test("metastore: concurrent CREATE/DROP writers never lose a catalog line") {
    import graft.plans.GraftMetastore
    // the r19 lost-update guard: every writer read-modify-writes under the
    // cross-process catalog lock, so an interleaved storm of upserts and
    // removes (8 writers × 24 keys, each writer also dropping a third of
    // its own keys) must land on EXACTLY the surviving key set — a single
    // lost update drops another writer's key from the final file
    val dir = java.nio.file.Files.createTempDirectory("graft_metarace").toString
    spark.conf.set(GraftMetastore.DirKey, s"$dir/meta")
    try {
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (0 until 8).map { t =>
        new Thread(() => {
          try (0 until 24).foreach { i =>
            val nm = s"race_t${t}_$i"
            GraftMetastore.recordTable(spark, nm, s"$dir/root/$nm")
            if (i % 3 == 0) GraftMetastore.removeTable(spark, nm)
          } catch { case e: Throwable => errs.add(e); () }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(errs.isEmpty, s"writer threads failed: ${errs.peek()}")
      val lines = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/meta/tables.catalog")), "UTF-8")
        .split("\n").filter(_.nonEmpty)
      val expect = (for { t <- 0 until 8; i <- 0 until 24 if i % 3 != 0 }
        yield s"race_t${t}_$i").toSet
      assert(lines.map(_.split("\t")(0)).toSet == expect,
        s"catalog lost/gained lines: ${lines.length} vs ${expect.size}")
    } finally spark.conf.unset(GraftMetastore.DirKey)
  }

  test("metastore: a malformed tables.catalog line is skipped, not load-fatal") {
    import spark.implicits._
    import graft.plans.{GraftDmlRegistry, GraftMetastore}
    val dir = java.nio.file.Files.createTempDirectory("graft_metabad").toString
    val name = "metabad_t"
    GraftDmlRegistry.unregister(name)
    spark.conf.set(GraftMetastore.DirKey, s"$dir/meta")
    try {
      graft.sources.SnapshotTable.commit(
        (1L to 7L).toDF("k"), s"$dir/t")
      GraftMetastore.recordTable(spark, name, s"$dir/t")
      // corrupt the catalog with a truncated line (no tab) BEFORE the
      // valid entry — pre-r19 this MatchError'd the whole load and every
      // statement after it
      val p = java.nio.file.Paths.get(s"$dir/meta/tables.catalog")
      val good = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      java.nio.file.Files.write(p, s"corrupt_line_without_tab\n$good".getBytes("UTF-8"))
      GraftDmlRegistry.unregister(name)
      GraftMetastore.forget(s"$dir/meta")
      assert(spark.sql(s"SELECT count(*) AS n FROM $name").head().getLong(0) == 7L,
        "valid entry after the malformed line must still load")
    } finally {
      spark.conf.unset(GraftMetastore.DirKey)
      GraftDmlRegistry.unregister(name)
    }
  }

  test("metastore: two sessions load two different dirs concurrently (per-dir guard)") {
    import spark.implicits._
    import graft.plans.{GraftDmlRegistry, GraftMetastore}
    val dirs = Seq("a", "b").map { tag =>
      val d = java.nio.file.Files.createTempDirectory(s"graft_meta2_$tag").toString
      graft.sources.SnapshotTable.commit((1L to 5L).toDF("k"), s"$d/t")
      (tag, d)
    }
    val names = dirs.map { case (tag, d) =>
      val nm = s"meta2dir_$tag"
      GraftDmlRegistry.unregister(nm)
      // seed each dir's catalog directly, then load through a fresh session
      val sess = spark.newSession()
      sess.conf.set(GraftMetastore.DirKey, s"$d/meta")
      GraftMetastore.recordTable(sess, nm, s"$d/t")
      GraftDmlRegistry.unregister(nm)
      GraftMetastore.forget(s"$d/meta")
      (nm, sess)
    }
    try {
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = names.map { case (nm, sess) =>
        new Thread(() => {
          try assert(sess.sql(s"SELECT count(*) AS n FROM $nm").head().getLong(0) == 5L)
          catch { case e: Throwable => errs.add(e); () }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(errs.isEmpty, s"concurrent two-dir load failed: ${errs.peek()}")
    } finally names.foreach { case (nm, sess) =>
      sess.conf.unset(GraftMetastore.DirKey)
      GraftDmlRegistry.unregister(nm)
    }
  }

  test("ALTER TABLE: add/rename/widen/drop resolve per generation; unsafe changes refuse") {
    import spark.implicits._
    import graft.plans.GraftDmlRegistry
    val dir = java.nio.file.Files.createTempDirectory("graft_alterspec").toString
    val name = "alterspec_t"
    GraftDmlRegistry.unregister(name)
    try {
      (1L to 20L).map(i => (i, i.toInt, s"r$i")).toDF("k", "small", "tag")
        .createOrReplaceTempView("alterspec_src")
      spark.sql(s"CREATE SNAPSHOT TABLE $name LOCATION '$dir/t' AS " +
        "SELECT * FROM alterspec_src")
      spark.sql(s"ALTER TABLE $name ADD COLUMN score double")
      // generation 1 null-fills the added column
      assert(spark.sql(s"SELECT count(score) AS n FROM $name").head()
        .getLong(0) == 0L)
      spark.sql(s"INSERT INTO $name VALUES (100, 7, 'new', 2.5)")
      spark.sql(s"ALTER TABLE $name RENAME COLUMN tag TO label")
      // both generations answer under the NEW name; old bytes untouched
      assert(spark.sql(
        s"SELECT count(*) AS n FROM $name WHERE label IN ('r3', 'new')")
        .head().getLong(0) == 2L)
      // DML through the renamed name composes with evolution
      spark.sql(s"UPDATE $name SET score = 0.0 WHERE score IS NULL")
      assert(spark.sql(s"SELECT count(score) AS n FROM $name").head()
        .getLong(0) == 21L)
      // widen int -> bigint: the old generation upcasts at read
      spark.sql(s"ALTER TABLE $name ALTER COLUMN small TYPE bigint")
      assert(spark.sql(s"SELECT sum(small) AS s FROM $name").head()
        .getLong(0) == (1 to 20).sum + 7L)
      assert(spark.table(s"__graft_snap_${name}_latest").schema("small")
        .dataType.typeName == "long")
      spark.sql(s"ALTER TABLE $name DROP COLUMN label")
      assert(!spark.sql(s"SELECT * FROM $name").columns.contains("label"))
      // time travel resolves the schema IN EFFECT at that version
      assert(spark.sql(s"SELECT tag FROM $name VERSION AS OF 1")
        .collect().length == 20)
      // history records each alter as a metadata-only commit
      val ops = spark.sql(s"DESCRIBE HISTORY $name")
        .collect().map(_.getString(1)).toSeq
      assert(ops.count(_.startsWith("alter:")) == 4, ops.toString)
      // refusals: narrowing widen, unknown/duplicate column, last column
      intercept[Exception](spark.sql(
        s"ALTER TABLE $name ALTER COLUMN small TYPE int").collect())
      intercept[Exception](spark.sql(
        s"ALTER TABLE $name RENAME COLUMN nosuch TO x").collect())
      intercept[Exception](spark.sql(
        s"ALTER TABLE $name ADD COLUMN score double").collect())
      // unregistered names delegate to Spark's parser untouched
      intercept[Exception](spark.sql(
        "ALTER TABLE nosuch_alter_t ADD COLUMN c string").collect())
    } finally GraftDmlRegistry.unregister(name)
  }

  test("OPTIMIZE plans from the sizes sidecar; staging clears a dead COPY's ledger; COPY enforces schemas") {
    import spark.implicits._
    import graft.sources.SnapshotTable
    val dir = java.nio.file.Files.createTempDirectory("graft_sizespec").toString
    val root = s"$dir/t"; val name = "sizespec_t"
    graft.plans.GraftDmlRegistry.unregister(name)
    SnapshotTable.commit(
      (1L to 400L).map(i => (i, i * 1.0)).toDF("k", "v").repartition(4), root)
    graft.plans.GraftDmlRegistry.registerSnapshot(name, root)
    try {
      // tamper the sidecar: record the first file as huge — OPTIMIZE must
      // believe the METADATA (carry it untouched), proving the planner
      // never stats the filesystem for sized entries
      val sizesPath = java.nio.file.Paths.get(root, "_snapshots", "v1.sizes")
      val lines = new String(java.nio.file.Files.readAllBytes(sizesPath), "UTF-8")
        .split("\n").toSeq
      val victim = lines.head.split("\t")(0)
      java.nio.file.Files.write(sizesPath,
        (s"$victim\t999999999" +: lines.tail).mkString("\n").getBytes("UTF-8"))
      val o = spark.sql(
        s"OPTIMIZE $name SMALLER THAN 1000000 BYTES INTO 1 FILES").head()
      assert(o.getLong(2) == 3L, s"rewrote ${o.getLong(2)} files, not 3 — " +
        "bin-packing consulted the filesystem instead of the sizes sidecar")
      assert(SnapshotTable.manifestFiles(root, o.getLong(0)).contains(victim),
        "the metadata-large file was not carried over")

      // dead COPY ledger: stage a sidecar at the NEXT version (a load that
      // crashed between sidecar write and swap), then commit a DIFFERENT
      // statement at that version — the orphan must be cleared, or the
      // landing file below would be silently skipped forever
      val landing = s"$dir/landing"
      (500L to 509L).map(i => (i, 1.0)).toDF("k", "v").repartition(1)
        .write.parquet(landing)
      val f = new java.io.File(landing).listFiles()
        .filter(_.getName.endsWith(".parquet")).head.getName
      java.nio.file.Files.write(java.nio.file.Paths.get(root, "_snapshots",
        s"v${SnapshotTable.latestVersion(root).get + 1}.copied"), f.getBytes("UTF-8"))
      spark.sql(s"INSERT INTO $name VALUES (999, 9.9)").collect()
      assert(!SnapshotTable.copiedFiles(root).contains(f),
        "INSERT adopted the dead COPY's ledger — landing file lost")
      val c = spark.sql(s"COPY INTO $name FROM '$landing'").head()
      assert(c.getLong(1) == 1L && c.getLong(2) == 10L)

      // schema enforcement: a drifted landing file fails loudly
      val bad = s"$dir/bad"
      Seq((1L, "oops")).toDF("k", "v").write.parquet(bad) // v: string, not double
      val e1 = intercept[Exception](
        spark.sql(s"COPY INTO $name FROM '$bad'").collect())
      assert(e1.getMessage.contains("not loadable"), e1.getMessage)
      val extra = s"$dir/extra"
      Seq((1L, 1.0, 5L)).toDF("k", "v", "zz").write.parquet(extra)
      val e2 = intercept[Exception](
        spark.sql(s"COPY INTO $name FROM '$extra'").collect())
      assert(e2.getMessage.contains("absent from the target"), e2.getMessage)
      val missing = s"$dir/missing"
      Seq(Tuple1(1L)).toDF("k").write.parquet(missing)
      val e3 = intercept[Exception](
        spark.sql(s"COPY INTO $name FROM '$missing'").collect())
      assert(e3.getMessage.contains("missing target column"), e3.getMessage)
      // an upcastable landing file (int-keyed) loads fine
      val ok = s"$dir/ok"
      Seq((601, 6.0)).toDF("k", "v").write.parquet(ok)
      assert(spark.sql(s"COPY INTO $name FROM '$ok'").head().getLong(2) == 1L)
      // the r18 ADVICE class, pinned to the MEASURED reader matrix:
      // long -> double passes Cast.canUpCast but the forced-schema scan
      // refuses it (53-bit mantissa) — COPY INTO must refuse HERE with the
      // schema-enforcement wording, not die mid-scan; date -> timestamp_ntz
      // IS reader-widenable and must load
      val root2 = s"$dir/t2"
      SnapshotTable.commit(Seq(Tuple1(1L)).toDF("k")
        .withColumn("t", org.apache.spark.sql.functions.lit("2024-01-01 00:00:00")
          .cast("timestamp_ntz"))
        .withColumn("d", org.apache.spark.sql.functions.lit(1.5)), root2)
      graft.plans.GraftDmlRegistry.registerSnapshot("copyts_t", root2)
      try {
        val badLong = s"$dir/badlong"
        Seq(Tuple1(2L)).toDF("k")
          .withColumn("t", org.apache.spark.sql.functions.lit("2024-01-02 00:00:00")
            .cast("timestamp_ntz"))
          .withColumn("d", org.apache.spark.sql.functions.lit(7L)) // long, target double
          .write.parquet(badLong)
        val e4 = intercept[Exception](
          spark.sql(s"COPY INTO copyts_t FROM '$badLong'").collect())
        assert(e4.getMessage.contains("not loadable"), e4.getMessage)
        val okDate = s"$dir/okdate"
        Seq(Tuple1(3L)).toDF("k")
          .withColumn("t", org.apache.spark.sql.functions.lit("2024-01-03").cast("date"))
          .withColumn("d", org.apache.spark.sql.functions.lit(2.5))
          .write.parquet(okDate)
        assert(spark.sql(s"COPY INTO copyts_t FROM '$okDate'").head().getLong(2) == 1L)
      } finally graft.plans.GraftDmlRegistry.unregister("copyts_t")
    } finally graft.plans.GraftDmlRegistry.unregister(name)
  }
}
