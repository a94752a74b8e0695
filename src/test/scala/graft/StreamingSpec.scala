package graft

import org.scalatest.funsuite.AnyFunSuite

/** I1–I8 semantics under Trigger.AvailableNow over the chunked source. */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val totalEvents = Tables(spark, sfDir).events.count()

  test("i15: ListState across micro-batches equals the batch top-5-by-recency") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val streamed = SparkEntry.queries("i15_stream_recent_list")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val batch = Tables(spark, sfDir).events
      .select(col("user_id"), col("event_id"), col("ts"),
        floor(col("value") * lit(1000000d)).cast("long").as("v"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_kept"), sum(col("v")).as("vs"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch)
  }

  test("chunkedSource: two concurrent callers on an empty root build once and both read 4 complete chunks") {
    // two i-band streams of one Dag pass stage the same source at once; the
    // staging lock must make the second caller wait for, then reuse, the
    // first caller's chunks instead of wiping them mid-build
    val name = s"conc_src_${System.nanoTime()}"
    val root = Tables.scratch(name, sfDir)
    Tables.rmrf(root)
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    val start = new java.util.concurrent.CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[(Seq[String], Long)]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq.fill(2)(new Thread(() =>
      try {
        start.await()
        val base = operators.StreamingQueries.chunkedSource(spark, sfDir, "events", name) { t =>
          builds.incrementAndGet()
          operators.StreamingQueries.idQuartiles(t.events, "event_id")
        }
        val chunks = new java.io.File(base).list().filter(_.startsWith("chunk_")).sorted.toSeq
        results.add((chunks, spark.read.parquet(chunks.map(c => s"$base/$c"): _*).count()))
      } catch { case e: Throwable => errors.add(e) }))
    try {
      threads.foreach(_.start())
      start.countDown()
      threads.foreach(_.join())
      assert(errors.isEmpty, s"a concurrent caller failed: ${errors.peek()}")
      assert(builds.get == 1, "the staged build must run exactly once")
      val expected = (0 until 4).map(i => f"chunk_$i%02d.parquet")
      results.forEach { case (chunks, n) =>
        assert(chunks == expected)
        assert(n == totalEvents)
      }
      assert(results.size == 2)
    } finally Tables.rmrf(root)
  }

  test("i23: pinned-version serving + exactly-once appends grow the index by exactly the novel docs") {
    import org.apache.spark.sql.functions._
    import graft.sources.SnapshotTable
    val verdicts = SparkEntry.queries("i23_stream_index_dedup")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // the batch single-shot answer (g49 shares the oracle) must agree
    val batch = SparkEntry.queries("g49_incremental_dedup")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(verdicts === batch,
      "per-batch verdicts against the pinned index must equal the single-shot answer")
    // final index = v1 (existing corpus) + one append per batch holding
    // exactly that batch's novel docs — nothing lost, nothing doubled
    val idxRoot = s"${operators.StreamingQueries.ckptRoot}/graft_snap_i23_${Tables.pathKey(sfDir)}"
    val existing = Tables(spark, sfDir).documents
      .filter(col("doc_id") % 5 =!= 0)
      .withColumn("toks", split(lower(col("text")), " "))
      .filter(size(col("toks")) >= 3).count()
    val novel = verdicts.count(_._2 == 0L)
    val finalIdx = SnapshotTable.read(spark, idxRoot).count()
    assert(finalIdx == existing + novel,
      s"index grew to $finalIdx, want $existing existing + $novel novel")
    // every version's metadata carries the applied batch id — the replay
    // guard's ledger is complete and strictly increasing
    val latest = SnapshotTable.latestVersion(idxRoot).get
    val metas = (1L to latest).flatMap(v => SnapshotTable.versionMeta(idxRoot, v))
      .map(_.toLong)
    assert(metas == metas.sorted && metas.distinct == metas,
      s"applied-batch ledger must be strictly increasing, got $metas")
  }

  test("i16: MapState across micro-batches equals the batch per-type counts") {
    import org.apache.spark.sql.functions._
    val streamed = SparkEntry.queries("i16_stream_map_counts")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val batch = Tables(spark, sfDir).events
      .groupBy(col("user_id"), col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed === batch)
  }

  test("i18: timer sessions equal batch sessions closed by the final watermark") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val streamed = SparkEntry.queries("i18_stream_timer_sessions")(spark, sfDir)
      .select(col("user_id"), unix_micros(col("s_start").cast("timestamp")).as("a"),
        unix_micros(col("s_end").cast("timestamp")).as("b"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val gapUs = 30L * 60 * 1000000
    val ev = Tables(spark, sfDir).events
      .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("us"), col("event_id"))
    val mx = ev.agg(max(col("us"))).head().getLong(0)
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val sessions = ev
      .withColumn("brk",
        when(lag(col("us"), 1).over(w).isNull ||
          col("us") - lag(col("us"), 1).over(w) > gapUs, 1L).otherwise(0L))
      .withColumn("sid", sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("us")).as("a"), max(col("us")).as("b"), count(lit(1)).as("n"))
    val closed = sessions.filter(col("b") + gapUs <= mx)
      .select("user_id", "a", "b", "n")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed === closed)
    // timer-only evidence: a user's chronologically-LAST session has no later
    // event of that user to close it — if emitted, only handleExpiredTimer
    // could have done so. There must be at least one such session.
    val lastStart = sessions.groupBy("user_id").agg(max(col("a")).as("a_last"))
    val timerOnly = sessions.join(lastStart, Seq("user_id"))
      .filter(col("a") === col("a_last") && col("b") + gapUs <= mx)
    assert(timerOnly.count() > 0, "no session in the fixture can prove timer firing")
  }

  test("i1: complete-mode tumbling counts cover every event") {
    val n = SparkEntry.queries("i1_stream_tumbling")(spark, sfDir)
      .agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)
    assert(n == totalEvents)
  }

  test("i1 leaves no memory-sink temp view on the caller's session") {
    SparkEntry.queries("i1_stream_tumbling")(spark, sfDir).collect()
    val views = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_i1_"))
    assert(views.isEmpty, s"leaked sink views: ${views.toSeq}")
  }

  test("a second i1 run compiles no new classes; the caller's session keeps no isolation conf") {
    // each stream runs on a session clone; with its own artifact
    // classloader every start recompiled the same generated classes
    val key = "spark.sql.artifact.isolation.enabled"
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    SparkEntry.queries("i1_stream_tumbling")(spark, sfDir).collect()
    val before = compiles.getCount
    SparkEntry.queries("i1_stream_tumbling")(spark, sfDir).collect()
    assert(compiles.getCount - before == 0, "classes compiled by a second i1 run")
    assert(spark.conf.getAll.get(key).isEmpty)
  }

  test("a StreamingQueryListener on the caller's session sees i1 start, progress and terminate") {
    // guards the choice to start streams on the caller's session: a stream
    // started on a clone reports nothing to the caller's listeners
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import StreamingQueryListener._
    val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    val progress = new java.util.concurrent.atomic.AtomicInteger(0)
    val terminated = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        if (Option(e.name).exists(_.startsWith("graft_i1_"))) { ids.add(e.id); () }
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (ids.contains(e.progress.id)) { progress.incrementAndGet(); () }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (ids.contains(e.id)) { terminated.incrementAndGet(); () }
    }
    spark.streams.addListener(listener)
    try {
      SparkEntry.queries("i1_stream_tumbling")(spark, sfDir).collect()
      // the listener bus is asynchronous
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (terminated.get() == 0 && System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.streams.removeListener(listener)
    assert(ids.size == 1, s"started events: ${ids.size}")
    assert(progress.get() >= 1, "no progress event")
    assert(terminated.get() == 1, s"terminated events: ${terminated.get()}")
  }

  test("checkpoint manager: of two racing fail-if-exists renames to one name exactly one wins") {
    import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
    val root = java.nio.file.Files.createTempDirectory("graft_cm_race")
    val cm = new graft.streaming.LocalFsCheckpointFileManager(
      new Path(root.toString), new org.apache.hadoop.conf.Configuration())
    try (0 until 300).foreach { i =>
      val dst = new Path(s"$root/$i")
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val outcome = new Array[String](2)
      val writers = (0 until 2).map { w =>
        val tmp = root.resolve(s".$i.$w.tmp")
        java.nio.file.Files.write(tmp, s"w$w".getBytes("UTF-8"))
        new Thread(() => {
          barrier.await()
          outcome(w) =
            try { cm.renameTempFile(new Path(tmp.toString), dst, false); "won" }
            catch { case _: FileAlreadyExistsException => "lost" }
        })
      }
      writers.foreach(_.start())
      writers.foreach(_.join())
      assert(outcome.toSeq.sorted == Seq("lost", "won"), s"round $i: ${outcome.toSeq}")
      val winner = outcome.indexOf("won")
      assert(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$root/$i")),
        "UTF-8") == s"w$winner")
    } finally Tables.rmrf(root.toString)
  }

  test("NoForkLocalFileSystem: a sticky-bit permission reaches the parent implementation") {
    import org.apache.hadoop.fs.Path
    import org.apache.hadoop.fs.permission.FsPermission
    val fs = new NoForkLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), new org.apache.hadoop.conf.Configuration())
    val dir = java.nio.file.Files.createTempDirectory("graft_sticky")
    try {
      fs.setPermission(new Path(dir.toString),
        new FsPermission(Integer.parseInt("1777", 8).toShort))
      val mode = java.nio.file.Files.getAttribute(dir, "unix:mode").asInstanceOf[Int]
      assert((mode & Integer.parseInt("7777", 8)) == Integer.parseInt("1777", 8),
        f"mode ${mode & 4095}%o")
      // plain modes stay on the fork-free path with the same bits
      fs.setPermission(new Path(dir.toString),
        new FsPermission(Integer.parseInt("750", 8).toShort))
      val plain = java.nio.file.Files.getAttribute(dir, "unix:mode").asInstanceOf[Int]
      assert((plain & Integer.parseInt("7777", 8)) == Integer.parseInt("750", 8),
        f"mode ${plain & 4095}%o")
    } finally Tables.rmrf(dir.toString)
  }

  test("i4: append mode with watermark drops late chunks") {
    val n = SparkEntry.queries("i4_stream_watermark_late")(spark, sfDir)
      .agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)
    assert(n > 0 && n < totalEvents, s"expected some-but-not-all events, got $n/$totalEvents")
  }

  test("i5: in-stream duplicates are collapsed") {
    val n = SparkEntry.queries("i5_stream_dedup")(spark, sfDir)
      .agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)
    // each event duplicated ×2 in-stream; dedup must never exceed the original count
    assert(n > 0 && n <= totalEvents, s"dedup emitted $n of $totalEvents")
  }

  test("i6: stateful per-user counters account for every event") {
    val total = SparkEntry.queries("i6_stream_stateful")(spark, sfDir)
      .agg(org.apache.spark.sql.functions.sum("n_total")).head().getLong(0)
    assert(total == totalEvents)
  }

  test("i6: idle-user state expires via the event-time timer") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, Trigger}
    import spark.implicits._
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[(Long, java.sql.Timestamp)](spark)
      // base offset keeps event times strictly above the initial watermark
      // (epoch 0), which would otherwise drop the first batch as late
      def ts(min: Long) = new java.sql.Timestamp((1000 + min) * 60000L)
      val q = in.toDS().toDF("user_id", "ts")
        .withWatermark("ts", "0 seconds")
        .as[(Long, java.sql.Timestamp)]
        .groupByKey(_._1)
        .transformWithState(
          new graft.streaming.UserCounterProcessor(10L * 60 * 1000), // 10 min idle
          TimeMode.EventTime(),
          OutputMode.Update())
        .toDF("user_id", "n")
      val name = s"i6_expiry_${System.nanoTime()}"
      val sq = q.writeStream.format("memory").queryName(name)
        .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
      try {
        // state-store observability: numRowsTotal from the progress events
        // makes eviction QUANTITATIVE (the store physically shrank), not
        // just behavioral (the tombstone row below)
        def stateRows(): Long = {
          val ps = sq.recentProgress
            .filter(p => p.stateOperators != null && p.stateOperators.nonEmpty)
          ps.last.stateOperators.map(_.numRowsTotal).sum
        }
        def stateMem(): Long = {
          val ps = sq.recentProgress
            .filter(p => p.stateOperators != null && p.stateOperators.nonEmpty)
          ps.last.stateOperators.map(_.memoryUsedBytes).sum
        }
        // batch 1: both users active
        in.addData((1L, ts(0)), (2L, ts(0)))
        sq.processAllAvailable()
        val rowsAfterB1 = stateRows()
        assert(rowsAfterB1 >= 2, s"expected >=2 state rows (2 users), got $rowsAfterB1")
        assert(stateMem() > 0, "state store reports no memory in use")
        // batch 2: only user 2 — watermark moves to min 30, past user 1's
        // min-10 timer → user 1 evicted (tombstone), state cleared
        in.addData((2L, ts(30)))
        sq.processAllAvailable()
        val rowsAfterEvict = stateRows()
        assert(rowsAfterEvict < rowsAfterB1,
          s"eviction did not shrink the store: $rowsAfterB1 -> $rowsAfterEvict")
        // batch 3: user 1 returns — counter must restart from scratch
        in.addData((1L, ts(31)))
        sq.processAllAvailable()
        assert(stateRows() > rowsAfterEvict,
          "returning user did not re-create state")
        val rows = spark.table(name).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        assert(rows.contains((1L, -1L)), s"no eviction tombstone for user 1: ${rows.toSeq}")
        // the post-expiry count restarted at 1, proving state was dropped
        val afterExpiry = rows.filter(r => r._1 == 1L && r._2 >= 0).map(_._2)
        assert(afterExpiry.sorted.toSeq == Seq(1L, 1L), s"user 1 counts: ${afterExpiry.toSeq}")
        // user 2 was never evicted and kept accumulating
        assert(rows.filter(_._1 == 2L).map(_._2).max == 2L)
      } finally sq.stop()
    } finally prevProvider match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("i13: snapshot-committed stream equals the batch aggregate; batch ids ride the versions") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("i13_stream_snapshot")(spark, sfDir)
      .agg(sum("n")).head().getLong(0)
    assert(out == totalEvents, s"snapshot table covers $out of $totalEvents events")
    // the sink table's version history IS the applied-batch ledger:
    // 4 chunks at 2 files/trigger -> 2 versions, metas "0" and "1"
    import graft.sources.SnapshotTable
    val root = s"${operators.StreamingQueries.ckptRoot}/graft_snap_i13_${Tables.pathKey(sfDir)}"
    val latest = SnapshotTable.latestVersion(root)
    assert(latest.contains(2L), s"expected 2 committed versions, got $latest")
    assert(SnapshotTable.versionMeta(root, 1).contains("0"))
    assert(SnapshotTable.versionMeta(root, 2).contains("1"))
    // time travel into the mid-stream state: version 1 holds only batch 0
    val v1 = SnapshotTable.read(spark, root, 1)
      .agg(sum("n")).head().getLong(0)
    assert(v1 > 0 && v1 < totalEvents, s"v1 should be a strict prefix, got $v1")
  }

  test("i11: streaming HLL estimates equal the batch aggregation window-for-window") {
    import org.apache.spark.sql.functions._
    val streamed = SparkEntry.queries("i11_stream_hll")(spark, sfDir)
      .collect().map(r => (r.get(0).toString -> r.getString(1), r.getLong(2))).toMap
    assert(streamed.nonEmpty)
    val batch = Tables(spark, sfDir).events
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(expr("hll_approx(user_id)").as("approx_users"))
      .select(col("window.start").cast("timestamp_ntz").as("w_start"),
        col("event_type"), col("approx_users"))
      .collect().map(r => (r.get(0).toString -> r.getString(1), r.getLong(2))).toMap
    // every emitted (closed) window matches the batch sketch exactly — the
    // registers survived the state-store round-trip bit-for-bit
    streamed.foreach { case (k, est) =>
      assert(batch.get(k).contains(est), s"$k: streamed $est vs batch ${batch.get(k)}")
    }
    // and only the final (unclosed-at-watermark) windows are withheld
    assert(streamed.size < batch.size && streamed.size >= batch.size - 5)
  }

  test("i9: stream-stream join emits bounded click-purchase pairs") {
    val rows = SparkEntry.queries("i9_stream_stream_join")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // upper bound: can never exceed clicks × purchases of the same user
    val byUser = Tables(spark, sfDir).events
      .groupBy("user_id").pivot("event_type", Seq("click", "purchase")).count()
      .na.fill(0L).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    rows.foreach { r =>
      val (c, p) = byUser(r.getLong(0))
      assert(r.getLong(1) <= c * p, s"user ${r.getLong(0)}: ${r.getLong(1)} > $c*$p")
    }
  }

  test("i8: one batch per source chunk") {
    val batches = SparkEntry.queries("i8_stream_sink")(spark, sfDir).count()
    assert(batches == 4)
  }

  // The two crafted-stream tests below prove the i4/i5 MECHANICS (watermark
  // late-drop; within-watermark dedup) on MemoryStream inputs, independent of
  // the events fixture — so a driver-side fixture regeneration can break the
  // i* queries without also blinding the semantics coverage.

  test("watermark mechanics: rows behind the advanced watermark are dropped (fixture-free)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val in = MemoryStream[(Long, java.sql.Timestamp)](spark)
    def ts(min: Long) = new java.sql.Timestamp((1000 + min) * 60000L)
    val q = in.toDS().toDF("id", "ts")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes")).agg(count(lit(1)).as("n"))
    val name = s"wm_drop_${System.nanoTime()}"
    val sq = q.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData((1L, ts(0)), (2L, ts(5)))   // window [0,10)
      sq.processAllAvailable()
      in.addData((3L, ts(40)))               // watermark -> min 30: [0,10) closes
      sq.processAllAvailable()
      in.addData((4L, ts(2)))                // behind watermark — must be dropped
      sq.processAllAvailable()
      in.addData((5L, ts(60)))               // close [40,50) too
      sq.processAllAvailable()
      val emitted = spark.table(name).collect()
        .map(r => (r.getStruct(0).getTimestamp(0).getTime / 60000L - 1000, r.getLong(1)))
        .toMap
      // the late row 4 did NOT bump the closed [0,10) window's count
      assert(emitted.get(0L).contains(2L), s"closed window recount: $emitted")
      assert(emitted.get(40L).contains(1L), emitted.toString)
    } finally sq.stop()
  }

  test("dedup mechanics: dropDuplicatesWithinWatermark collapses cross-batch copies (fixture-free)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val in = MemoryStream[(Long, java.sql.Timestamp)](spark)
    def ts(min: Long) = new java.sql.Timestamp((1000 + min) * 60000L)
    val q = in.toDS().toDF("id", "ts")
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("id")
      .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
    val name = s"dedup_wm_${System.nanoTime()}"
    val sq = q.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData((1L, ts(0)), (2L, ts(1)), (1L, ts(2))) // in-batch dup of id 1
      sq.processAllAvailable()
      in.addData((2L, ts(3)), (3L, ts(4)))              // cross-batch dup of id 2
      sq.processAllAvailable()
      in.addData((9L, ts(600)))                          // advance watermark, flush
      sq.processAllAvailable()
      val n = spark.table(name).collect()
        .map(r => (r.getStruct(0).getTimestamp(0).getTime / 60000L, r.getLong(1)))
        .toMap
      // ids 1,2,3 survive exactly once, all in the hour window containing
      // min 1000 (hour-aligned -> starts at min 960)
      assert(n.get(960L).contains(3L), s"dedup within watermark failed: $n")
    } finally sq.stop()
  }

  test("i17 mechanics: left-outer join null-pads unmatched rows after the watermark (fixture-free)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val left = MemoryStream[(Long, Long, java.sql.Timestamp)](spark)  // purchases
    val right = MemoryStream[(Long, Long, java.sql.Timestamp)](spark) // clicks
    def ts(min: Long) = new java.sql.Timestamp((1000 + min) * 60000L)
    val l = left.toDS().toDF("p_id", "p_user", "p_ts").withWatermark("p_ts", "10 minutes")
    val r = right.toDS().toDF("c_id", "c_user", "c_ts").withWatermark("c_ts", "10 minutes")
    val q = l.join(r,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
        col("c_ts") <= col("p_ts"),
      "left_outer")
    val name = s"outer_join_${System.nanoTime()}"
    val sq = q.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // user 1: purchase at min 20 with a click at min 15 (in-window match);
      // user 2: purchase at min 20, click at min 5 (OUTSIDE the 10-min
      // window); user 3: purchase at min 20, no click at all
      right.addData((100L, 1L, ts(15)), (101L, 2L, ts(5)))
      left.addData((1L, 1L, ts(20)), (2L, 2L, ts(20)), (3L, 3L, ts(20)))
      sq.processAllAvailable()
      // matched row emits eagerly; outer rows must NOT have emitted yet —
      // the engine cannot rule out a future click before the watermark moves
      val eager = spark.table(name).collect()
      assert(eager.length == 1 && eager.head.getLong(0) == 1L,
        s"expected only the matched purchase eagerly, got ${eager.toSeq}")
      // advance both watermarks far past min 30 → outer rows flush
      right.addData((199L, 9L, ts(200)))
      left.addData((99L, 9L, ts(200)))
      sq.processAllAvailable()
      val rows = spark.table(name).collect()
        .map(r => (r.getLong(0), Option(r.get(3)).map(_.toString)))
        .toMap
      assert(rows(1L).isDefined, "matched purchase lost its click")
      assert(rows.contains(2L) && rows(2L).isEmpty,
        s"out-of-window purchase must null-pad: $rows")
      assert(rows.contains(3L) && rows(3L).isEmpty,
        s"clickless purchase must null-pad: $rows")
    } finally sq.stop()
  }

  test("i14 mechanics: simhash band filter rejects near-identical, passes novel (fixture-free)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val in = MemoryStream[(Long, java.sql.Timestamp, String)](spark)
    def ts(min: Long) = new java.sql.Timestamp((1000 + min) * 60000L)
    val fps = in.toDS().toDF("doc_id", "ts", "text")
      .select(col("doc_id"), col("ts"), lower(col("text")).as("txt"))
      .as[(Long, java.sql.Timestamp, String)]
      .map { case (id, t, txt) => (id, t, graft.functions.TextFunctions.simhash64(txt)) }
      .toDF("doc_id", "ts", "fp")
    val bands = fps.select(col("doc_id"), col("ts"),
        posexplode(array((0 until 4).map(i =>
          shiftrightunsigned(col("fp"), i * 16).bitwiseAND(lit(0xffffL))): _*))
          .as(Seq("band", "bval")))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("band", "bval")
    val name = s"i14_mech_${System.nanoTime()}"
    val sq = bands.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      val doc = "the quick brown fox jumps over the lazy dog and keeps on running far away"
      in.addData((1L, ts(0), doc))
      sq.processAllAvailable()
      // near-identical copy (one word tweaked) + a genuinely novel doc
      in.addData((2L, ts(1), doc.replace("lazy", "hazy")),
        (3L, ts(2), "completely different content about distributed query engines and shuffles"))
      sq.processAllAvailable()
      val newBands = spark.table(name).groupBy("doc_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(newBands(1L) == 4L, s"first doc must claim all 4 bands: $newBands")
      assert(newBands.getOrElse(2L, 0L) < 3L,
        s"near-dup copy must share >=2 bands with the original: $newBands")
      assert(newBands(3L) >= 3L, s"novel doc must pass: $newBands")
    } finally sq.stop()
  }

  test("i10: rate source replays deterministically across checkpoint restarts") {
    // 3 AvailableNow rounds over one checkpoint = batches 0..2, each 2000
    // rows stamped k·1 min — so the windowed aggregate is exactly computable:
    // [00:00,00:02) gets batches 0+1 (values 0..3999), [00:02,00:04) batch 2
    // (values 4000..5999). Any drift here means the resume path re-read or
    // skipped a batch.
    val rows = SparkEntry.queries("i10_stream_rate")(spark, sfDir).collect()
      .map(r => (r.getAs[java.time.LocalDateTime]("w_start").toString,
        r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq(
      ("1970-01-01T00:00", 4000L, 7998000L),
      ("1970-01-01T00:02", 2000L, 9999000L)), rows.toSeq.toString)
  }

  test("restart recovery: timer + counter state survive a NEW query instance on the same checkpoint") {
    // The i-band proves within-run semantics; this proves PROCESS-LEVEL
    // recovery: stop the stateful query mid-stream, start a brand-new query
    // instance on the same checkpoint, and both the per-user counters and
    // the registered event-time timers must resume exactly where they were —
    // the post-restart emissions equal those of an uninterrupted run fed the
    // identical batch sequence.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, Trigger}
    import spark.implicits._
    def ts(min: Long) = new java.sql.Timestamp((1000 + min) * 60000L)
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_restart_tws_${System.nanoTime()}"
    try {
      def pipeline(in: MemoryStream[(Long, java.sql.Timestamp)]) =
        in.toDS().toDF("user_id", "ts")
          .withWatermark("ts", "0 seconds")
          .as[(Long, java.sql.Timestamp)]
          .groupByKey(_._1)
          .transformWithState(
            new graft.streaming.UserCounterProcessor(10L * 60 * 1000),
            TimeMode.EventTime(),
            OutputMode.Update())
          .toDF("user_id", "n")
      // foreachBatch sink: unlike the memory sink it supports checkpoint
      // recovery, which is the whole point of this test
      def start(in: MemoryStream[(Long, java.sql.Timestamp)], ckpt: String,
          buf: java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]) =
        pipeline(in).writeStream.outputMode("update")
          .foreachBatch { (df: DataFrame, _: Long) =>
            df.collect().foreach(r => buf.add((r.getLong(0), r.getLong(1))))
            ()
          }
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.ProcessingTime(0)).start()
      import scala.jdk.CollectionConverters._

      // ---- run A: interrupted. batch 1, STOP, new instance, batch 2 ----
      val inA = MemoryStream[(Long, java.sql.Timestamp)](spark)
      val ckptA = s"$base/ckptA"
      val buf1 = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
      val sq1 = start(inA, ckptA, buf1)
      try {
        inA.addData((1L, ts(0)), (2L, ts(0)))
        sq1.processAllAvailable()
      } finally sq1.stop() // simulated crash/redeploy point
      // NEW query instance (new plan object, new sink buffer) on ckptA
      val buf2 = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
      val sq2 = start(inA, ckptA, buf2)
      val afterRestart =
        try {
          // watermark moves to min 40 → user 1's min-10 idle timer fires
          // (tombstone -1) and user 2 keeps counting — BOTH require the
          // pre-restart state and timer registrations to have survived
          inA.addData((2L, ts(40)))
          sq2.processAllAvailable()
          buf2.asScala.toSeq
        } finally sq2.stop()
      assert(afterRestart.contains((2L, 2L)),
        s"user 2's counter did not resume from checkpointed state: $afterRestart")
      assert(afterRestart.contains((1L, -1L)),
        s"user 1's pre-restart timer did not fire after restart: $afterRestart")

      // ---- run B: uninterrupted, identical batch sequence ----
      val inB = MemoryStream[(Long, java.sql.Timestamp)](spark)
      val bufB = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
      val sqB = start(inB, s"$base/ckptB", bufB)
      val uninterrupted =
        try {
          inB.addData((1L, ts(0)), (2L, ts(0)))
          sqB.processAllAvailable()
          inB.addData((2L, ts(40)))
          sqB.processAllAvailable()
          bufB.asScala.toSeq
        } finally sqB.stop()
      // total output across the restart == the uninterrupted run's output
      val runA = (buf1.asScala.toSeq ++ afterRestart).sorted
      assert(runA == uninterrupted.sorted,
        s"restarted emissions $runA != uninterrupted ${uninterrupted.sorted}")
    } finally {
      prevProvider match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      Tables.rmrf(base)
    }
  }

  test("restart recovery: snapshot sink resumes exactly-once in a NEW query instance") {
    // i13's transactional sink across a process-level restart: instance 1
    // applies batch 0 and stops; instance 2 on the SAME checkpoint applies
    // only the newly-arrived file as batch 1 (the applied-batch ledger in
    // the version metadata continues unbroken); instance 3 with nothing new
    // commits nothing. Final table == the batch aggregate over all input.
    import graft.sources.SnapshotTable
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_restart_snap_${System.nanoTime()}"
    val srcDir = s"$base/src"; val root = s"$base/snap"; val ckpt = s"$base/ckpt"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    try {
      def addChunk(id: Int, rows: Seq[(Long, Long)]): Unit = {
        val stage = s"$base/stage_$id"
        rows.toDF("k", "v").coalesce(1).write.mode("overwrite").parquet(stage)
        val part = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
          .filter(_.toString.endsWith(".parquet")).findFirst().get()
        java.nio.file.Files.move(part,
          java.nio.file.Paths.get(srcDir, f"chunk_$id%02d.parquet"))
        ()
      }
      def runInstance(): Unit = {
        val q = spark.readStream.schema("k LONG, v LONG").parquet(srcDir)
        val sq = q.writeStream.outputMode("append")
          .foreachBatch { (df: DataFrame, batchId: Long) =>
            val applied = SnapshotTable.latestMeta(root).map(_.toLong).getOrElse(-1L)
            if (batchId > applied) {
              val delta = df.groupBy("k").agg(sum("v").as("v"))
              val merged =
                if (SnapshotTable.latestVersion(root).isDefined)
                  delta.unionByName(SnapshotTable.read(df.sparkSession, root))
                    .groupBy("k").agg(sum("v").as("v"))
                else delta
              SnapshotTable.commit(merged, root, meta = batchId.toString)
              ()
            }
          }
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        sq.awaitTermination()
      }
      addChunk(0, Seq((1L, 10L), (2L, 20L)))
      runInstance() // instance 1: batch 0 → version 1
      assert(SnapshotTable.latestVersion(root).contains(1L))
      assert(SnapshotTable.versionMeta(root, 1).contains("0"))
      addChunk(1, Seq((1L, 5L), (3L, 7L)))
      runInstance() // NEW instance, same checkpoint: only the new file, batch 1
      assert(SnapshotTable.latestVersion(root).contains(2L),
        "restart replayed or skipped instead of resuming at the next batch")
      assert(SnapshotTable.versionMeta(root, 2).contains("1"),
        "applied-batch ledger broke across the restart")
      runInstance() // instance 3: no new input → must commit NOTHING
      assert(SnapshotTable.latestVersion(root).contains(2L),
        "an idle restart re-committed state")
      val got = SnapshotTable.read(spark, root).orderBy("k")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == Seq((1L, 15L), (2L, 20L), (3L, 7L)),
        s"post-restart table diverged from the batch aggregate: $got")
    } finally {
      Tables.rmrf(base)
    }
  }

  test("i22 mechanics: seeded sessions merge, close-on-event, and close-by-timer (fixture-free)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, unix_micros}
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, Trigger}
    import spark.implicits._
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val gapUs = 10L * 60 * 1000000 // 10 min
      def ts(min: Long) = new java.sql.Timestamp((1000 + min) * 60000L)
      def us(min: Long) = (1000 + min) * 60000000L
      // warehouse-computed open sessions: (user, start, last, n)
      val bootstrap = Seq(
        (1L, us(0), us(5), 2L),  // will be EXTENDED by a min-8 stream event
        (2L, us(0), us(4), 2L),  // will be CLOSED by a min-40 stream event
        (3L, us(0), us(2), 1L))  // silent user: only the TIMER can close it
        .toDS().groupByKey(_._1).mapValues(r => (r._2, r._3, r._4))
      val in = MemoryStream[(Long, java.sql.Timestamp, Long)](spark)
      val q = in.toDS().toDF("user_id", "ts", "event_id")
        .withWatermark("ts", "0 seconds")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"))
        .as[(Long, Long, Long)]
        .groupByKey(_._1)
        .transformWithState(
          new graft.streaming.SessionTimerProcessor(gapUs),
          TimeMode.EventTime(), OutputMode.Append(), bootstrap)
        .toDF("user_id", "s_start_us", "s_end_us", "n_events")
      val name = s"i22_boot_${System.nanoTime()}"
      val sq = q.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
      try {
        // batch 1 (watermark still 0): u1@8 extends its seed (gap holds),
        // u2@40 proves the gap against its seed → close-on-event
        in.addData((1L, ts(8), 100L), (2L, ts(40), 101L))
        sq.processAllAvailable()
        // batch 2 advances the watermark to 40: u3's seeded timer (min 12)
        // and u1's re-armed timer (min 18) fire
        in.addData((9L, ts(61), 102L))
        sq.processAllAvailable()
        // batch 3 advances the watermark to 61: u2's reopened session
        // (timer min 50) fires; u9/u8 stay open and must NOT be emitted
        in.addData((8L, ts(62), 103L))
        sq.processAllAvailable()
        val got = spark.table(name).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
        val want = Set(
          (1L, us(0), us(8), 3L),  // seed (n=2) + one streamed event, seamless
          (2L, us(0), us(4), 2L),  // the seed emitted verbatim by the gap proof
          (2L, us(40), us(40), 1L),
          (3L, us(0), us(2), 1L))  // emitted with NO stream input for the key
        assert(got == want, s"bootstrap emissions diverged: $got")
      } finally sq.stop()
    } finally prevProvider match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("table stream: startingVersion tails the delta; rewrite lineage refuses") {
    import spark.implicits._
    import graft.sources.SnapshotTable
    val dir = java.nio.file.Files.createTempDirectory("graft_tstream").toString
    val root = s"$dir/t"
    SnapshotTable.commit((1L to 10L).map(i => (i, "v1")).toDF("k", "tag"), root)
    SnapshotTable.append((11L to 15L).map(i => (i, "v2")).toDF("k", "tag"), root)
    // startingVersion=1: the stream tails AFTER v1 — first batch is the
    // v2 delta only (5 rows), not the 15-row table
    val q1 = spark.readStream.format("graft.sources.GraftTableStream")
      .option("path", root).option("startingVersion", "1").load()
      .writeStream.format("memory").queryName("tstream_tail")
      .option("checkpointLocation", s"$dir/ck1")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q1.awaitTermination()
    val tail = spark.table("tstream_tail").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(tail == (11L to 15L).map((_, "v2")).toSet, tail.toString)
    // a REWRITE commit breaks append lineage: the stream must fail loudly,
    // never silently re-emit or skip
    SnapshotTable.commit((1L to 8L).map(i => (i, "rw")).toDF("k", "tag"), root)
    val q2 = spark.readStream.format("graft.sources.GraftTableStream")
      .option("path", root).option("startingVersion", "2").load()
      .writeStream.format("memory").queryName("tstream_rw")
      .option("checkpointLocation", s"$dir/ck2")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    val e = intercept[Exception](q2.awaitTermination())
    assert(e.getMessage.contains("append-only") ||
      Option(e.getCause).exists(_.getMessage.contains("append-only")), e.toString)
  }

  test("i30 change feed: resume emits only the rewrite diff; the feed replays to v3; ALTER mid-stream refuses") {
    import org.apache.spark.sql.functions._
    import graft.sources.SnapshotTable
    val agg = SparkEntry.queries("i30_stream_change_feed")(spark, sfDir).collect()
    // the resumed campaign (c2) carries ONLY the rewrite version's changes —
    // the checkpoint really did resume (no v1/v2 replay, no loss)
    val c2 = agg.filter(_.getString(0) == "c2")
    assert(c2.nonEmpty && c2.forall(_.getLong(1) == 3L),
      s"c2 must carry only commit_version 3: ${agg.mkString(", ")}")
    assert(c2.map(_.getString(2)).sorted.toSeq == Seq("delete", "insert"))
    // CDC soundness: applying the raw change ledger as a signed multiset
    // (insert +_n / delete -_n) reproduces the final table EXACTLY — the
    // m42 v1⊎feed==v2 property, across the streamed campaign boundary
    val key = Tables.pathKey(sfDir)
    val out = s"${operators.StreamingQueries.ckptRoot}/graft_out_i30_$key"
    val root = s"${operators.StreamingQueries.ckptRoot}/graft_snap_i30_$key"
    val raw = spark.read.option("recursiveFileLookup", "true").parquet(out)
    val applied = raw.groupBy(col("o_orderkey"), col("o_totalprice"))
      .agg(sum(when(col("_change_type") === "insert", col("_n"))
        .otherwise(-col("_n"))).as("n")).filter(col("n") =!= 0)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    val fin = SnapshotTable.read(spark, root)
      .groupBy(col("o_orderkey"), col("o_totalprice"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(applied == fin, s"feed does not replay to the final table " +
      s"(${applied.size} shapes vs ${fin.size})")
    // schema tracking (r20, Delta's schemaTrackingLocation): a restart on
    // the SAME checkpoint after an ADDITIVE ALTER re-pins to the new
    // generation and CONTINUES — the pre-ALTER backlog serves through the
    // m44 field-id projection (extra NULL-filled), post-ALTER versions
    // carry their values, and the checkpointed progress is never abandoned
    import spark.implicits._
    val dir2 = java.nio.file.Files.createTempDirectory("graft_cdfalter").toString
    val root2 = s"$dir2/t"
    SnapshotTable.commit((1L to 6L).map(i => (i, i * 1.0)).toDF("k", "v"), root2)
    def run(tag: String): Unit = {
      // foreachBatch sink: the memory sink refuses checkpoint recovery,
      // and the RESUME is exactly what this pin exercises
      val sq = spark.readStream.format("graft.sources.GraftTableStream")
        .option("path", root2).option("readChangeFeed", "true").load()
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          df.write.mode("overwrite").parquet(f"$dir2/out/${tag}_b$id%04d")
          ()
        }
        .option("checkpointLocation", s"$dir2/ck")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      sq.awaitTermination()
    }
    run("cdfalter_1") // drains v1 and pins its schema generation
    assert(spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir2/out").count() == 6L)
    // a PRE-ALTER backlog version the first campaign never saw...
    SnapshotTable.append((7L to 8L).map(i => (i, i * 1.0)).toDF("k", "v"), root2)
    // ...then the additive ALTER (v3, metadata-only)...
    val f = SnapshotTable.ensureEvoSchema(spark, root2)
    SnapshotTable.commitSchemaChange(root2,
      f :+ graft.sources.EvoField(f.map(_.id).max + 1, "extra", "bigint"),
      meta = "ALTER ADD extra")
    // ...and a post-ALTER append carrying the new column (v4)
    SnapshotTable.appendEvo((9L to 9L).map(i => (i, i * 1.0, i * 10L))
      .toDF("k", "v", "extra"), root2, SnapshotTable.ensureEvoSchema(spark, root2))
    run("cdfalter_2") // SAME checkpoint: re-pins, serves v2 projected + v4
    // campaign-2 files only (campaign 1's predate `extra`): columns are
    // k, v, extra, _change_type, _n, _commit_version under the new pin
    val tracked = spark.read.parquet(s"$dir2/out/cdfalter_2_b*")
      .select("k", "v", "extra", "_change_type", "_commit_version")
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getString(3),
        r.getLong(4))).toSet
    assert(tracked == Set((7L, 7.0, -1L, "insert", 2L),
      (8L, 8.0, -1L, "insert", 2L), (9L, 9.0, 90L, "insert", 4L)),
      s"schema-tracked resume diverged: $tracked")
    // DROP still refuses loudly on restart — old change rows cannot be
    // replayed without the dropped column
    val f2 = SnapshotTable.ensureEvoSchema(spark, root2)
    SnapshotTable.commitSchemaChange(root2, f2.filterNot(_.name == "extra"),
      meta = "ALTER DROP extra")
    SnapshotTable.append((10L to 10L).map(i => (i, i * 1.0)).toDF("k", "v"),
      root2)
    val e = intercept[Exception](run("cdfalter_3"))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains("DROP") &&
      m.contains("FRESH checkpoint")), e.toString)
    // and a FRESH checkpoint from version 0 refuses as well: the pre-DROP
    // backlog cannot be PROJECTED to the pinned post-DROP generation either
    // (the projection is gated by the same additivity check as the re-pin)
    val e2 = intercept[Exception] {
      val sq = spark.readStream.format("graft.sources.GraftTableStream")
        .option("path", root2).option("readChangeFeed", "true").load()
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          df.write.mode("overwrite").parquet(f"$dir2/out_fresh/b$id%04d")
          ()
        }
        .option("checkpointLocation", s"$dir2/ck_fresh")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      sq.awaitTermination()
    }
    assert(msgs(e2).exists(_.contains("DROP")), e2.toString)
  }

  test("table stream admission control: maxVersionsPerBatch bounds catch-up batches under AvailableNow") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.sources.SnapshotTable
    val dir = java.nio.file.Files.createTempDirectory("graft_tsadm").toString
    val root = s"$dir/t"
    SnapshotTable.commit((1L to 5L).map(i => (i, "v1")).toDF("k", "tag"), root)
    SnapshotTable.append((6L to 9L).map(i => (i, "v2")).toDF("k", "tag"), root)
    SnapshotTable.append((10L to 12L).map(i => (i, "v3")).toDF("k", "tag"), root)
    val sq = spark.readStream.format("graft.sources.GraftTableStream")
      .option("path", root).option("maxVersionsPerBatch", "1").load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        df.write.mode("overwrite").parquet(f"$dir/out/b$id%04d")
        ()
      }
      .option("checkpointLocation", s"$dir/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    sq.awaitTermination()
    // one batch per VERSION (the single-batch fallback could never produce
    // this), and the union is the full table — bounded catch-up, no loss
    val batches = new java.io.File(s"$dir/out").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(batches.length == 3, s"expected 3 one-version batches: ${batches.toSeq}")
    val perBatch = batches.map(b =>
      spark.read.parquet(s"$dir/out/$b").count()).toSeq
    assert(perBatch == Seq(5L, 4L, 3L), perBatch.toString)
    assert(spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/out").select("k").distinct().count() == 12L)
  }

  test("row feed refuses a plain-table reshaped append; maxVersionsPerBatch validates") {
    import graft.sources.{GraftTableStream, SnapshotTable}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_rowreshape").toString
    val root = s"$dir/t"
    SnapshotTable.commit((1L to 3L).map(i => (i, i * 1.0)).toDF("k", "v"), root)
    // a library-level append under a RENAMED column (no field-id metadata):
    // the per-file generation check is vacuous (None == None) — the footer
    // check must refuse, never silently NULL-fill emitted rows
    SnapshotTable.append(Seq((4L, 4.0)).toDF("k", "v2"), root)
    val e = intercept[Exception] {
      val sq = spark.readStream.format("graft.sources.GraftTableStream")
        .option("path", root).load()
        .writeStream.format("memory").queryName("rowreshape_t")
        .option("checkpointLocation", s"$dir/ck")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      sq.awaitTermination()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("reshaped without field-id")), e.toString)
    // a non-positive or non-numeric maxVersionsPerBatch refuses at
    // construction instead of silently stalling (null latestOffset forever)
    val e2 = intercept[Exception](GraftTableStream.maxVersions(
      Map("maxVersionsPerBatch" -> "0")))
    assert(e2.getMessage.contains("positive"), e2.getMessage)
    val e3 = intercept[Exception](GraftTableStream.maxVersions(
      Map("maxVersionsPerBatch" -> "lots")))
    assert(e3.getMessage.contains("maxVersionsPerBatch"), e3.getMessage)
  }

  test("startingTimestamp tails changes committed after the as-of snapshot") {
    import graft.sources.SnapshotTable
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tsstart").toString
    val root = s"$dir/t"
    SnapshotTable.commit((1L to 3L).map(i => (i, "d1")).toDF("k", "tag"), root,
      meta = "2024-01-01")
    SnapshotTable.append((4L to 5L).map(i => (i, "d2")).toDF("k", "tag"), root,
      meta = "2024-01-02")
    SnapshotTable.append((6L to 6L).map(i => (i, "d3")).toDF("k", "tag"), root,
      meta = "2024-01-03")
    // as-of 01-01 = v1: the stream tails v2+v3 only (exclusive start
    // bound, the CHANGES BETWEEN convention)
    val q = spark.readStream.format("graft.sources.GraftTableStream")
      .option("path", root).option("startingTimestamp", "2024-01-01").load()
      .writeStream.format("memory").queryName("tsstart_tail")
      .option("checkpointLocation", s"$dir/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("tsstart_tail").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((4L, "d2"), (5L, "d2"), (6L, "d3")), got.toString)
    // a timestamp before the first dated commit = the table's birth
    val q2 = spark.readStream.format("graft.sources.GraftTableStream")
      .option("path", root).option("startingTimestamp", "2023-12-31").load()
      .writeStream.format("memory").queryName("tsstart_birth")
      .option("checkpointLocation", s"$dir/ck2")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(spark.table("tsstart_birth").count() == 6L)
  }

  test("CDF default admission is BOUNDED (100 versions/batch); row feed defaults unbounded; 'all' opts out") {
    import graft.sources.{GraftTableStream, SnapshotTable}
    import org.apache.spark.sql.connector.read.streaming.{ReadLimit, ReadMaxFiles}
    import spark.implicits._
    // option-parse level: the change feed's default is the bounded limit
    // (its getBatch unions one plan per version — an unbounded catch-up
    // from version 0 of a long table is a driver-side planning bomb); the
    // row feed stays unbounded (one plan regardless of version count) and
    // maxVersionsPerBatch=all is the explicit opt-out
    assert(GraftTableStream.maxVersions(Map("readChangeFeed" -> "true"))
      .contains(GraftTableStream.DefaultCdfMaxVersionsPerBatch))
    assert(GraftTableStream.DefaultCdfMaxVersionsPerBatch == 100)
    assert(GraftTableStream.maxVersions(Map.empty).isEmpty)
    assert(GraftTableStream.maxVersions(
      Map("readChangeFeed" -> "true", "maxVersionsPerBatch" -> "all")).isEmpty)
    assert(GraftTableStream.maxVersions(
      Map("readChangeFeed" -> "true", "maxVersionsPerBatch" -> "7")).contains(7))
    // source level: a live CDF source created WITHOUT the option reports
    // the bounded default to the engine, and its latestOffset honors it
    val dir = java.nio.file.Files.createTempDirectory("graft_cdfadm").toString
    val root = s"$dir/t"
    SnapshotTable.commit(Seq((1L, 1.0)).toDF("k", "v"), root)
    (2 to 4).foreach(i =>
      SnapshotTable.append(Seq((i.toLong, i * 1.0)).toDF("k", "v"), root))
    val src = new GraftTableStream().createSource(spark.sqlContext,
      s"$dir/meta", None, "graft-table",
      Map("path" -> root, "readChangeFeed" -> "true"))
      .asInstanceOf[org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl]
    src.getDefaultReadLimit match {
      case f: ReadMaxFiles =>
        assert(f.maxFiles() == GraftTableStream.DefaultCdfMaxVersionsPerBatch)
      case other => fail(s"expected the bounded default, got $other")
    }
    // a limit of 2 admits versions (0, 2] first — bounded catch-up
    val end = src.latestOffset(null, ReadLimit.maxFiles(2))
    assert(end.json.trim.toLong == 2L, end.toString)
    // and the default limit admits everything here (4 < 100)
    val end2 = src.latestOffset(null, src.getDefaultReadLimit)
    assert(end2.json.trim.toLong == 4L, end2.toString)
  }

  test("row feed: restart after a schema change refuses at construction (pin-vs-plan guard)") {
    import graft.sources.SnapshotTable
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_rowalter").toString
    val root = s"$dir/t"
    SnapshotTable.commit((1L to 4L).map(i => (i, i.toInt)).toDF("k", "v"), root)
    def run(tag: String): Unit = {
      val sq = spark.readStream.format("graft.sources.GraftTableStream")
        .option("path", root).load()
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          df.write.mode("overwrite").parquet(f"$dir/out/${tag}_b$id%04d")
          ()
        }
        .option("checkpointLocation", s"$dir/ck")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      sq.awaitTermination()
    }
    run("row_1")
    // a WIDENING type ALTER is metadata-only: a pre-ALTER backlog version
    // would pass a naive per-version generation check while the restarted
    // plan (analyzed under the CURRENT schema) binds old int rows into a
    // bigint column by position — the r19 ADVICE finding. The restart must
    // refuse at construction, loudly.
    SnapshotTable.append((5L to 6L).map(i => (i, i.toInt)).toDF("k", "v"), root)
    val f = SnapshotTable.ensureEvoSchema(spark, root)
    SnapshotTable.commitSchemaChange(root,
      f.map(x => if (x.name == "v") x.copy(typ = "bigint") else x),
      meta = "ALTER widen v")
    val e = intercept[Exception](run("row_2"))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains("row feed cannot re-shape") &&
      m.contains("FRESH checkpoint")), e.toString)
  }

  test("CDF stream on a KEYED table emits update pre/postimage pairs across a rewrite") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.sources.SnapshotTable
    val dir = java.nio.file.Files.createTempDirectory("graft_cdfkeyed").toString
    val root = s"$dir/t"
    val name = "cdfkeyed_t"
    graft.plans.GraftDmlRegistry.unregister(name)
    SnapshotTable.commit(
      (1L to 200L).map(i => (i, i * 1.0)).toDF("k", "v")
        .repartitionByRange(4, col("k")).sortWithinPartitions("k"), root)
    graft.plans.GraftDmlRegistry.registerSnapshot(name, root)
    try {
      spark.sql(s"ALTER TABLE $name SET KEY (k)")
      def run(tag: String): Unit = {
        val sq = spark.readStream.format("graft.sources.GraftTableStream")
          .option("path", root).option("readChangeFeed", "true").load()
          .writeStream
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
            df.write.mode("overwrite").parquet(f"$dir/out/${tag}_b$id%04d")
            ()
          }
          .option("checkpointLocation", s"$dir/ck")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        sq.awaitTermination()
      }
      run("c1") // v1: 200 keyed inserts
      spark.sql(s"UPDATE $name SET v = v * 2 WHERE k > 190") // v2 rewrite
      run("c2") // resumes: the KEYED diff, not a refusal, not a multiset
      val c2 = spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$dir/out").filter(col("_commit_version") === 2L)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
      val want = (191L to 200L).flatMap(k => Seq(
        (k, k * 1.0, "update_preimage"), (k, k * 2.0, "update_postimage"))).toSet
      assert(c2 == want,
        s"keyed CDF stream diverged: got ${c2.size} rows vs ${want.size}")
    } finally graft.plans.GraftDmlRegistry.unregister(name)
  }

  test("keyed CDF stream tracks an additive ALTER across a restart (m43×m44×i30)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.sources.SnapshotTable
    val dir = java.nio.file.Files.createTempDirectory("graft_cdfkeyedevo").toString
    val root = s"$dir/t"
    val name = "cdfkeyedevo_t"
    graft.plans.GraftDmlRegistry.unregister(name)
    SnapshotTable.commit(
      (1L to 100L).map(i => (i, i * 1.0)).toDF("k", "v")
        .repartitionByRange(4, col("k")).sortWithinPartitions("k"), root)
    graft.plans.GraftDmlRegistry.registerSnapshot(name, root)
    try {
      spark.sql(s"ALTER TABLE $name SET KEY (k)")
      def run(tag: String): Unit = {
        val sq = spark.readStream.format("graft.sources.GraftTableStream")
          .option("path", root).option("readChangeFeed", "true").load()
          .writeStream
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
            df.write.mode("overwrite").parquet(f"$dir/out/${tag}_b$id%04d")
            ()
          }
          .option("checkpointLocation", s"$dir/ck")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        sq.awaitTermination()
      }
      run("c1") // drains v1
      // an UNDRAINED keyed rewrite (v2), then the additive ALTER (v3) and
      // a post-ALTER keyed insert carrying the new column (v4)
      spark.sql(s"UPDATE $name SET v = v * 2 WHERE k > 98")        // v2
      spark.sql(s"ALTER TABLE $name ADD COLUMN note string")        // v3
      spark.sql(s"INSERT INTO $name VALUES (101, 101.0, 'new')")    // v4
      run("c2") // SAME checkpoint: re-pins, keyed backlog projects, keyed
                // post-ALTER insert carries its column
      val c2 = spark.read.parquet(s"$dir/out/c2_b*")
        .select("k", "v", "note", "_change_type", "_commit_version")
        .collect().map(r => (r.getLong(0), r.getDouble(1),
          Option(r.getString(2)).getOrElse("-"), r.getString(3),
          r.getLong(4))).toSet
      val want = (99L to 100L).flatMap(k => Seq(
        (k, k * 1.0, "-", "update_preimage", 2L),
        (k, k * 2.0, "-", "update_postimage", 2L))).toSet ++
        Set((101L, 101.0, "new", "insert", 4L))
      assert(c2 == want, s"keyed tracked resume diverged: $c2")
    } finally graft.plans.GraftDmlRegistry.unregister(name)
  }

  test("i24's window probe serves query 0 exactly g71's driver-probed top-10") {
    import org.apache.spark.sql.functions.col
    // two probe paths over one persisted index: i24 ranks cells per query
    // in a SQL window, g71 on the driver (Ann.topCells) — same cut
    val i24 = SparkEntry.queries("i24_stream_ann_serve")(spark, sfDir)
      .filter(col("q_id") === 0).orderBy("rn").collect()
      .map(r => (r.getAs[Long]("b_id"), r.getAs[Double]("cos"))).toSeq
    val g71 = SparkEntry.queries("g71_ann_index_serve")(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos"))).toSeq
    assert(g71.size == 10, s"g71 served ${g71.size} rows")
    assert(i24 == g71, s"i24 q_id 0 diverged from g71:\n$i24\n$g71")
  }

  test("i28 sharded ANN serving: disjoint shards, concurrent queries, i24-identical answer") {
    val sharded = SparkEntry.queries("i28_stream_ann_shard_serve")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val single = SparkEntry.queries("i24_stream_ann_serve")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    // scale-out is correctness-neutral: the union of the 4 shard ledgers
    // equals the single-stream answer row-for-row
    assert(sharded == single,
      s"shard union diverged from single-stream: ${sharded.size} vs ${single.size}")
    assert(sharded.nonEmpty)
    // the ledger tree really is per-shard (s0..s3 subtrees), and each
    // shard's q_ids are exactly its hash slice — disjoint by construction
    val out = s"${operators.StreamingQueries.ckptRoot}/graft_out_i28_${Tables.pathKey(sfDir)}"
    val shardDirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(shardDirs == Set("s0", "s1", "s2", "s3"), shardDirs.toString)
    (0 until 4).foreach { k =>
      val ids = spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$out/s$k").select("q_id").distinct()
        .collect().map(_.getLong(0)).toSet
      assert(ids.forall(id => id % (37L * 4) == 37L * k),
        s"shard $k served foreign q_ids: ${ids.filterNot(id => id % 148 == 37L * k)}")
    }
  }
}
