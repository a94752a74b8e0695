package graft.operators

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.{QueryModule, Tables}
import graft.functions.{TextFunctions => TF}
import graft.sources.{Ann, IvfIndex}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.classic.GraftSqlBridge
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}

/** SURVEY §2 I (Structured Streaming I1–I8, +i9 stream-stream join, +i10
  * rate source). File-fed queries whose output depends on micro-batch
  * boundaries (i4 late-drop, i6/i8 per-batch emissions, i11–i14) are
  * rows-only (✘ oracle) with semantics asserted in StreamingSpec. Queries
  * whose FINAL output is chunking-independent carry full value oracles:
  * single-batch complete-mode aggregations (i1/i2), single-batch joins
  * (i7/i9), watermark-determined append sets (i3/i5/i18), state fixpoints
  * (i15/i16), and the deterministic generator source (i10).
  *
  * Scale notes (100 TB): these are the same plans a production job would run
  * — file-source backpressure via maxFilesPerTrigger, event-time watermarks
  * bounding all state, session/tumbling aggregation state partitioned by
  * group key, and stream-static joins broadcasting the static dim.
  */
object StreamingQueries extends QueryModule {

  /** Streaming-source schema after chunk materialization (ts already µs). */
  private val chunkSchema =
    "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING"

  /** Streaming-source schema for the chunked documents source (i14). */
  private val docChunkSchema =
    "doc_id LONG, ts TIMESTAMP, text STRING"

  /** Stage fixture `table` as 4 single-file parquet chunks `chunk_00..03`
    * under the `name` scratch dir: `split` turns the table (in the stream's
    * schema) into the 4 chunks in arrival order. Each chunk is moved into
    * place 5 ms after the previous one, so modification order == chunk
    * order for the file source. Built once per fixture stamp through
    * [[Tables.staged]], whose per-root lock lets concurrent streams share
    * one staging. */
  private[graft] def chunkedSource(s: SparkSession, dir: String, table: String,
      name: String)(split: Tables => Seq[DataFrame]): String = {
    val base = Tables.scratch(name, dir)
    Tables.staged(base, Tables.stamp(s"$dir/$table.parquet")) {
      split(Tables(s, dir)).zipWithIndex.foreach { case (chunk, i) =>
        val tmpDir = s"$base/stage_$i"
        chunk.coalesce(1).write.mode("overwrite").parquet(tmpDir)
        val part = Files.list(Paths.get(tmpDir)).filter(_.toString.endsWith(".parquet"))
          .findFirst().get()
        Files.move(part, Paths.get(base, f"chunk_$i%02d.parquet"), StandardCopyOption.REPLACE_EXISTING)
        Thread.sleep(5)
      }
    }
  }

  /** `df` cut into 4 quartiles of `id`. */
  private[graft] def idQuartiles(df: DataFrame, id: String): Seq[DataFrame] = {
    val ids = df.agg(max(col(id))).head().getLong(0)
    (0 until 4).map { i =>
      val lo = ids * i / 4
      val hi = if (i == 3) ids + 1 else ids * (i + 1) / 4
      df.filter(col(id) >= lo && col(id) < hi)
    }
  }

  private def streamEvents(t: Tables): DataFrame =
    t.events.withColumn("ts", col("ts").cast("timestamp"))

  /** Events chunked by event_id quartile — each chunk spans the full time
    * range, so every batch after the first carries events behind the
    * watermark (genuine late data). */
  private[graft] def eventsById(s: SparkSession, dir: String): String =
    chunkedSource(s, dir, "events", "stream_src")(t =>
      idQuartiles(streamEvents(t), "event_id"))

  /** Documents chunked by doc_id quartile with a synthetic event time
    * (epoch + doc_id minutes) — id order IS arrival order, so the watermark
    * advances monotonically and the band-dedup state resolves duplicates to
    * the earliest chunk. */
  private def docsById(s: SparkSession, dir: String): String =
    chunkedSource(s, dir, "documents", "docstream_src")(t => idQuartiles(
      t.documents.select(col("doc_id"),
        timestamp_seconds(col("doc_id") * 60).cast("timestamp").as("ts"),
        col("text")), "doc_id"))

  /** Events chunked by EVENT-TIME quartile — arrival order == time order,
    * so the watermark advances monotonically and no row is ever late.
    * Required by the timer sessionizer (i18): a late row would be
    * watermark-dropped and break its batch-oracle parity. The ntile runs
    * once at setup over the fixture (a single-partition sort — setup cost,
    * not operator cost; a production job's ingest is already time-ordered). */
  private def eventsByTs(s: SparkSession, dir: String): String =
    chunkedSource(s, dir, "events", "tstream_src") { t =>
      val q = streamEvents(t).withColumn("q",
        ntile(4).over(Window.orderBy(col("ts"), col("event_id"))) - 1)
      (0 until 4).map(i => q.filter(col("q") === i).drop("q"))
    }

  /** perBatch=true replays `filesPerTrigger` chunks per micro-batch
    * (watermark/late-data semantics need batch boundaries — i4/i8 keep 1
    * file per trigger; operators that only need *some* boundary use 2,
    * halving the per-micro-batch state-store overhead); false ingests
    * everything in one batch — cheapest for the complete-mode aggregations
    * that need no boundaries at all. */
  private def stream(s: SparkSession, dir: String, perBatch: Boolean = true,
      filesPerTrigger: Int = 1): DataFrame = {
    val r = s.readStream.schema(chunkSchema)
    (if (perBatch) r.option("maxFilesPerTrigger", filesPerTrigger.toString) else r)
      .parquet(eventsById(s, dir))
  }

  /** How a stream's sink is configured (format, mode, query name) before
    * [[startStream]] adds the checkpoint and the trigger. */
  private type Sink = DataStreamWriter[Row] => DataStreamWriter[Row]

  private val startLocks = new java.util.WeakHashMap[SparkSession, AnyRef]()

  /** The one stream-start path: `sink(q.writeStream)` checkpointed at
    * `ckpt`, `Trigger.AvailableNow`, started under the stream confs —
    *
    *  - `spark.sql.shuffle.partitions = partitions`: stateful micro-batches
    *    pay per state-store-instance overhead each trigger (P partitions =
    *    P stores snapshotted per batch); at fixture scale the state is
    *    tiny, so fewer, fatter state partitions win, where a 100 TB
    *    deployment sizes this to keep per-store state in memory;
    *  - the checkpoint manager [[graft.streaming.LocalFsCheckpointFileManager]]
    *    (every root here is local): it removes ~40 ms of `chmod` fork
    *    overhead PER metadata write (offsets WAL, commit log, source log,
    *    state-store delta — measured: 42 ms default vs
    *    0.07 ms nio); HDFS/S3 checkpoints keep Spark's managers;
    *  - `spark.sql.artifact.isolation.enabled = false`: the session clone
    *    each StreamExecution makes otherwise gets its own artifact
    *    classloader, and Spark keys its codegen cache on the classloader,
    *    so every start recompiled the same classes (measured: 12 per i1
    *    run, 0 with this conf). Safe because no session here ever adds an
    *    artifact (no `addArtifact`/`addJar`): the isolated classloader
    *    would have held nothing the shared default one lacks;
    *  - `confs`, the caller's extras (state store provider, no-data batches,
    *    partition overwrite mode of the batch writes).
    *
    * Streams start on the CALLER's session, not a clone: a stream started
    * on a clone reports nothing to the caller's StreamingQueryListeners
    * (measured on Spark 4.1.2: 0 events against 3), and the perfbench
    * trace reads them. StreamExecution copies the
    * session conf while start() constructs it, so the confs are set on the
    * caller only around that synchronous call, under a per-session lock
    * (two starts never interleave their set and restore), and restored to
    * what the caller had set (a key it never set is unset). This is the one
    * remaining window in which the caller's conf carries a scoped value: a
    * batch job planning on the same session during a start() sees the
    * stream's confs. Batch scopes never write the caller's conf
    * ([[Tables.withConf]]). */
  private def startStream(q: DataFrame, ckpt: String, partitions: Int = 4,
      confs: Seq[(String, String)] = Nil)(sink: Sink): StreamingQuery = {
    val s = q.sparkSession
    val all = Seq(
      "spark.sql.shuffle.partitions" -> partitions.toString,
      "spark.sql.streaming.checkpointFileManagerClass" ->
        classOf[graft.streaming.LocalFsCheckpointFileManager].getName,
      "spark.sql.artifact.isolation.enabled" -> "false") ++ confs
    val lock = startLocks.synchronized(startLocks.computeIfAbsent(s, _ => new AnyRef))
    lock.synchronized {
      // what the caller SET, not its effective value: a key left at its
      // default (isolation's `true`) is unset again, not pinned
      val set = s.conf.getAll
      val prev = all.map { case (k, _) => k -> set.get(k) }
      all.foreach { case (k, v) => s.conf.set(k, v) }
      try sink(q.writeStream).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      finally prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }
  }

  /** Run `streams` to completion through [[startStream]], each on a fresh
    * checkpoint under [[ckptRoot]]. All start before any is awaited, so
    * several run concurrently; if one fails, the survivors STOP before the
    * checkpoints are removed — deleting live state out from under a running
    * query would cascade the failure (and could leak detached queries into
    * later runs). The checkpoints go in the finally: a failed or
    * interrupted query must not leak tmpfs. */
  private def runStreams(name: String, partitions: Int = 4,
      confs: Seq[(String, String)] = Nil)(streams: (DataFrame, Sink)*): Unit = {
    val ckpts = streams.indices.map(i => s"$ckptRoot/graft_${name}_${i}_${System.nanoTime()}")
    val started = scala.collection.mutable.ArrayBuffer[StreamingQuery]()
    try {
      streams.zip(ckpts).foreach { case ((q, sink), ckpt) =>
        started += startStream(q, ckpt, partitions, confs)(sink)
      }
      started.foreach(_.awaitTermination())
    } finally {
      started.foreach(sq => try sq.stop() catch { case _: Exception => () })
      ckpts.foreach(Tables.rmrf)
    }
  }

  /** A memory sink's table as a frame, with its temp view dropped from the
    * caller's catalog (the frame is analyzed already, so it keeps reading
    * the sink). */
  private def sinkTable(s: SparkSession, qn: String): DataFrame = {
    val out = s.table(qn)
    s.catalog.dropTempView(qn)
    out
  }

  /** The ANN serving loop behind i24 (shards = 1) and i28 (shards = K):
    * the query stream splits into `shards` disjoint hash shards
    * (`doc_id % (37·K) == 37·s` ⇔ every 37-multiple lands in exactly one
    * shard), each served by its OWN streaming query — own checkpoint, own
    * ledger subtree — all started before any is awaited, so the shards'
    * micro-batches run CONCURRENTLY on the scheduler. The index is pinned
    * for the campaign, so union-of-shard-ledgers == union-of-batch-ledgers
    * == the single-shot answer, and both query ids grade against the SAME
    * oracle. Shard outputs land under `s<k>/b<batch>` idempotently. */
  private def annServe(s: SparkSession, dir: String, qname: String,
      shards: Int): DataFrame = {
    val t = Tables(s, dir)
    val idx = Tables.scratch("ivfidx", dir)
    IvfIndex.write(t.embeddings, idx)
    val out = s"$ckptRoot/graft_out_${qname}_${Tables.pathKey(dir)}"
    Tables.rmrf(out)
    val cents = Ann.centroidFrame(s, idx)
    // 2 files per trigger: the serve loop is batch-count-INDEPENDENT (the
    // index is pinned, union-of-batches == single-shot — that is what the
    // oracle grades), so fewer micro-batches is pure fixed-cost savings
    def serveShard(shard: Int): (DataFrame, Sink) = {
      val st = s.readStream.schema(docChunkSchema)
        .option("maxFilesPerTrigger", 2).parquet(docsById(s, dir))
        .filter(if (shards == 1) col("doc_id") % 37 === 0
          else col("doc_id") % lit(37L * shards) === lit(37L * shard))
      st -> (_.outputMode(OutputMode.Append())
          .foreachBatch { (df: DataFrame, batchId: Long) =>
            val sp = df.sparkSession
            val qs = df.select(col("doc_id").as("q_id"))
              .join(Tables(sp, dir).embeddings,
                col("q_id") === col("vec_id"))
              .select(col("q_id"), Ann.vd.as("qv"))
            val probed = Ann.probeCells(qs, cents, 2)
            val cand = IvfIndex.postings(sp, idx)
              .select(col("vec_id").as("b_id"), col("cell"), Ann.vd.as("bv"))
              .join(broadcast(probed),
                col("cell") === col("clabel") && col("b_id") =!= col("q_id"))
              .select(col("q_id"), col("b_id"),
                round(expr("cosine_sim(qv, bv)"), 6).as("cos"))
            val top = Ann.topKPerQuery(cand, "cos", "b_id", 10)
              .select(col("q_id"), col("rn"), col("b_id"), col("cos"))
            top.write.mode("overwrite").parquet(f"$out/s$shard/b$batchId%04d")
            ()
          })
    }
    // all shards start before any is awaited: concurrency is the point
    runStreams(qname)((0 until shards).map(serveShard): _*)
    s.read.option("recursiveFileLookup", "true").parquet(out)
      .select(col("q_id"), col("rn"), col("b_id"), col("cos"))
      .orderBy("q_id", "rn")
  }

  /** transformWithState requires the RocksDB state store ([[startStream]]
    * confs, so every other streaming query keeps the HDFS-backed default). */
  private val rocksDb = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    // incremental changelog checkpoints instead of a full snapshot upload
    // every micro-batch — the production setting for large state
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true")

  /** Checkpoint root for the run-to-completion helpers. Offset/commit WAL
    * and state-store delta writes are fsync-bound; tmpfs (when present)
    * takes that latency off every micro-batch — the single biggest share of
    * the per-query streaming floor at fixture scale. A production job points
    * this at its fast durable store instead; the semantics (WAL layout,
    * exactly-once replay) are identical.
    */
  /** Package-visible so specs share the exact root resolution instead of
    * hand-copying it (a copy already drifted once — missing canWrite). */
  private[graft] lazy val ckptRoot: String = {
    val shm = new java.io.File("/dev/shm")
    val root =
      if (shm.isDirectory && shm.canWrite) "/dev/shm/graft_ckpt"
      else s"${System.getProperty("java.io.tmpdir")}/graft_ckpt"
    // Sweep checkpoints a crashed/interrupted earlier run left behind —
    // tmpfs is RAM, so leaks accumulate against memory, not disk. Only
    // dirs idle ≥30 min are swept so a concurrently running JVM's live
    // checkpoints are never touched (this JVM's own dirs are created
    // after this init and removed in the run helpers' finally blocks).
    val stale = System.currentTimeMillis() - 30L * 60 * 1000
    val prior = new java.io.File(root).listFiles()
    if (prior != null) prior.filter(_.lastModified() < stale).foreach(Tables.rmrf)
    root
  }

  /** Recursive hardlink-or-copy of a staged fixture tree into a live root
    * (the i27 staged→live discipline, generalized): hardlinks when source
    * and destination share a filesystem, byte-copy across devices (tmpdir
    * disk → tmpfs checkpoint root). Either way the live tree is independent
    * for MUTATION-BY-ADDITION (new files, new manifests) — the staged files
    * themselves are never modified in place by any caller. */
  private def linkTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    Files.createDirectories(dst.getParent)
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val rel = src.relativize(p)
      val d = dst.resolve(rel.toString)
      if (Files.isDirectory(p)) Files.createDirectories(d)
      else
        try { Files.createLink(d, p); () }
        catch { case _: Exception => Files.copy(p, d); () }
    } finally walk.close()
  }

  /** i27's two-campaign log staging, built ONCE per fixture (Tables.staged,
    * like the chunked sources): campaign 1 = each partition's
    * first-half event_ids as the offset-0 segment, campaign 2 = the rest as
    * the follow-on segment (file name = its start offset, offsets
    * continuing), plus a `_meta` ledger of per-partition (n1, total) end
    * offsets. The query copies these into a fresh live root per invocation
    * so restart mechanics — not fixture builds — are what it times. */
  private def resumeStaging(s: SparkSession, dir: String): String = {
    val base = Tables.scratch("i27_stage", dir)
    Tables.staged(base, Tables.stamp(s"$dir/events.parquet")) {
      val w = Window.partitionBy("p").orderBy("event_id")
      val ev = Tables(s, dir).events
        .withColumn("ts", col("ts").cast("timestamp"))
        .withColumn("p", pmod(col("user_id"), lit(4L)))
        .withColumn("off", row_number().over(w).cast("long") - 1)
        .withColumn("line", concat_ws("\t", col("off"),
          unix_micros(col("ts")), col("user_id"), col("event_type"),
          col("value")))
        .localCheckpoint()
      // campaign split by event_id half: campaign-1 rows hold the smallest
      // ids per partition, so their offsets are exactly [0, n1)
      val mid = ev.agg(max(col("event_id"))).head().getLong(0) / 2
      val meta = scala.collection.mutable.ArrayBuffer[String]()
      (0 until 4).foreach { p =>
        val part = ev.filter(col("p") === p)
        val n1 = part.filter(col("event_id") < mid).count()
        val total = part.count()
        meta += s"$p,$n1,$total"
        Seq((1, col("event_id") < mid, 0L),
            (2, col("event_id") >= mid, n1)).foreach { case (c, pred, start) =>
          val stageDir = s"$base/stage_${c}_$p"
          part.filter(pred).orderBy("off").select("line")
            .coalesce(1).write.mode("overwrite").text(stageDir)
          val ls = Files.list(Paths.get(stageDir))
          val seg =
            try ls.iterator().asScala.find(_.getFileName.toString.endsWith(".txt")).get
            finally ls.close()
          Files.createDirectories(Paths.get(base, s"c$c", s"p=$p"))
          Files.move(seg, Paths.get(base, s"c$c", s"p=$p", f"$start%020d.seg"),
            StandardCopyOption.REPLACE_EXISTING)
          Tables.rmrf(stageDir)
        }
      }
      Files.write(Paths.get(base, "_meta"), meta.mkString("\n").getBytes("UTF-8"))
      ()
    }
  }

  /** Run to completion (AvailableNow) into an in-memory table, return it.
    *
    * `needsFinalFlush = false` skips the trailing no-data micro-batch: only
    * append-mode queries whose output waits on a final watermark advance
    * (window/session aggs, dedup — i3/i4/i5) need it; complete-mode aggs
    * re-emit everything each batch and inner stream-stream joins emit
    * eagerly on match, so for them the extra batch is a pure state-store
    * round-trip.
    */
  private def runMemory(q: DataFrame, mode: String, name: String,
      needsFinalFlush: Boolean = true, statePartitions: Int = 4,
      confs: Seq[(String, String)] = Nil): DataFrame = {
    val qn = s"graft_${name}_${System.nanoTime()}"
    runStreams(name, statePartitions,
      ("spark.sql.streaming.noDataMicroBatches.enabled" -> needsFinalFlush.toString) +: confs)(
      q -> (_.format("memory").queryName(qn).outputMode(mode)))
    sinkTable(q.sparkSession, qn)
  }

  /** Run to completion via foreachBatch into a fresh parquet dir, return the
    * read-back (I8's sink pattern, reused by the stateful op). */
  private def runForeachBatch(q: DataFrame, name: String, dir: String,
      statePartitions: Int = 8): DataFrame = {
    // deterministic per-(query, fixture) path, cleared up front: reruns
    // overwrite instead of accumulating tmp output (each invocation's
    // result is consumed eagerly, so clearing at the NEXT run is safe).
    // Lives under the same tmpfs root as the checkpoints: the sink demo's
    // semantics are the parquet-append pattern, not disk fsync latency.
    val out = s"$ckptRoot/graft_out_${name}_${Tables.pathKey(dir)}"
    Tables.rmrf(out)
    runStreams(name, statePartitions)(q -> (_.outputMode(OutputMode.Update())
      .foreachBatch { (df: DataFrame, id: Long) =>
        df.withColumn("batch_id", lit(id)).write.mode("append").parquet(out)
      }))
    q.sparkSession.read.parquet(out)
  }

  /** State-store partition count sized by the fixture: 2 state stores floor
    * the per-micro-batch overhead at bench scale (fewer store round-trips
    * per trigger), but a 10M-event sf10 ingest on 2 stores SERIALIZES the
    * stateful operator — i3 measured 144 s at 100×, ~3× better at 32. A
    * deployment fixes this once at query birth (the checkpoint pins it);
    * here it is a pure function of fixture size, so each scale gets the
    * right constant. */
  private def statePar(dir: String): Int =
    if (new java.io.File(s"$dir/events.parquet").length() > (32L << 20)) 32
    else 2

  val queries: Seq[(String, QFn)] = Seq(
    // I1: tumbling 5-minute counts per event type.
    "i1_stream_tumbling" -> ((s, dir) => {
      val q = stream(s, dir, perBatch = false)
        .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      runMemory(q, "complete", "i1", needsFinalFlush = false)
        .select(col("window.start").cast("timestamp_ntz").as("w_start"), col("event_type"), col("n"))
        .orderBy("w_start", "event_type")
    }),

    // I2: sliding 10-minute window every 5 minutes.
    "i2_stream_sliding" -> ((s, dir) => {
      val q = stream(s, dir, perBatch = false)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
        .agg(count(lit(1)).as("n"), Tables.dsum(col("value")).as("val_sum"))
      runMemory(q, "complete", "i2", needsFinalFlush = false)
        .select(col("window.start").cast("timestamp_ntz").as("w_start"), col("n"),
          round(col("val_sum"), 6).as("val_sum"))
        .orderBy("w_start")
    }),

    // I3: per-user session windows (30-minute gap), closed by the watermark.
    // Single-batch ingest: the emitted session set depends only on the FINAL
    // watermark (sessions ending before max_ts − 1 h), not on where batch
    // boundaries fall, so extra micro-batches buy nothing but state-store
    // round-trips — the no-data batch after the last ingest flushes them.
    "i3_stream_session" -> ((s, dir) => {
      val q = stream(s, dir, perBatch = false)
        .withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"))
      runMemory(q, "append", "i3", statePartitions = statePar(dir))
        .select(col("session_window.start").cast("timestamp_ntz").as("s_start"),
          col("user_id"), col("n"))
        .orderBy("s_start", "user_id")
    }),

    // I3B: the SAME declarative session query as i3 with the conf-gated
    // auto-rewrite on (plans/SessionRewrite.scala): the built-in
    // session_window aggregate swaps to the timer sessionizer
    // (SessionWindowProcessor) during analysis — no API change, identical
    // append-mode semantics, and the SAME full value oracle as i3. The
    // built-in's UpdatingSessions/MergingSessions execs sort and
    // re-serialize every key's sessions through the state store per batch
    // (145 s at sf10, flat in state parallelism — the r15 finding); the
    // timer shape is one state-map round-trip per active key per batch.
    "i3b_stream_session_native" -> ((s, dir) => {
      val src = stream(s, dir, perBatch = false)
      // the rewrite fires during analysis: analyze on a flag-on clone, then
      // run the ANALYZED plan on the caller's session
      val analyzed = Tables.withConf(s, graft.plans.GraftSessionRewriteRule.Flag -> "true")(c =>
        Tables.rehome(c, src)
          .withWatermark("ts", "1 hour")
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n"))
          .queryExecution.analyzed)
      val q = GraftSqlBridge.ofRows(s, analyzed)
      // a silent non-fire would still answer correctly through the
      // built-in — refuse to measure the wrong shape
      require(q.queryExecution.analyzed.collectFirst {
        case n if n.nodeName == "TransformWithState" => n
      }.isDefined, "i3b: session_window auto-rewrite did not fire")
      runMemory(q, "append", "i3b", statePartitions = statePar(dir), confs = rocksDb)
        .select(col("session_window.start").cast("timestamp_ntz").as("s_start"),
          col("user_id"), col("n"))
        .orderBy("s_start", "user_id")
    }),

    // I4: watermark late-drop — hourly tumbling counts in append mode; events
    // arriving behind the 1-hour watermark are dropped. Two chunks per
    // trigger: late-drop only needs SOME batch boundary after the watermark
    // has advanced (chunks 3–4 arrive behind chunk 1–2's watermark), and
    // halving the micro-batch count halves the per-batch state-store and
    // incremental-planning overhead — the i* floor cost. FULL VALUE ORACLE
    // (r16): the kept set is watermark-determined because the chunking is
    // — the oracle replays the id-range chunks, batch 1's watermark, and
    // the window-closed late filter in SQL.
    "i4_stream_watermark_late" -> ((s, dir) => {
      val q = stream(s, dir, filesPerTrigger = 2)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      runMemory(q, "append", "i4")
        .select(col("window.start").cast("timestamp_ntz").as("w_start"), col("event_type"), col("n"))
        .orderBy("w_start", "event_type")
    }),

    // I5: streaming dedup — each event duplicated in-stream, then
    // dropDuplicatesWithinWatermark collapses the copies. Single-batch
    // ingest: dedup state is keyed by event_id and consulted row-by-row
    // WITHIN a batch too, so the duplicate pairs collapse identically
    // whether they arrive in one micro-batch or across several.
    "i5_stream_dedup" -> ((s, dir) => {
      val q = stream(s, dir, perBatch = false)
        .withColumn("copy", explode(array(lit(1), lit(2))))
        .drop("copy")
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .groupBy(window(col("ts"), "1 day"))
        .agg(count(lit(1)).as("n"))
      runMemory(q, "append", "i5")
        .select(col("window.start").cast("timestamp_ntz").as("w_start"), col("n"))
        .orderBy("w_start")
    }),

    // I6: custom state — running per-user event counters on the Spark 4.x
    // arbitrary-state API (transformWithState + RocksDB store), with an
    // event-time idle timer evicting users 7 days after their last activity
    // (the fixture's user set stays active throughout, so no timer fires
    // here; expiry semantics are proven on a crafted stream in
    // StreamingSpec). Update mode into the memory sink — per-batch updates
    // accumulate in the table exactly as the foreachBatch-append pattern
    // (i8) would write them, without a parquet round-trip per run.
    "i6_stream_stateful" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val q = stream(s, dir, filesPerTrigger = 2).select(col("user_id"), col("ts"))
        .withWatermark("ts", "1 hour")
        .as[(Long, java.sql.Timestamp)]
        .groupByKey(_._1)
        .transformWithState(
          new graft.streaming.UserCounterProcessor(7L * 24 * 3600 * 1000),
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          OutputMode.Update())
        .toDF("user_id", "n_so_far")
      // 2 state partitions: RocksDB pays a per-instance-per-batch startup
      // cost, and the fixture state (one counter per user) is tiny; a real
      // deployment sizes this to keep each store's working set in memory
      // no final flush: update-mode emission happens on data batches; the
      // trailing no-data batch exists only to fire event-time timers, and
      // the fixture's users all stay active (timer expiry is proven on a
      // crafted stream in StreamingSpec). FULL VALUE ORACLE (r16): the
      // counter emits once per (user, data batch), batches are the two
      // deterministic id-range halves, and transformWithState never drops
      // input below the watermark — the ledger replays in SQL
      runMemory(q, "update", "i6", needsFinalFlush = false, statePartitions = statePar(dir),
        confs = rocksDb)
        .groupBy(col("user_id")).agg(max(col("n_so_far")).as("n_total"),
          count(lit(1)).as("n_updates"))
        .orderBy("user_id")
    }),

    // I7: stream-static join — enrich the stream with the customer dim.
    "i7_stream_static_join" -> ((s, dir) => {
      val cust = Tables(s, dir).customer
      val q = stream(s, dir, perBatch = false)
        .join(cust, col("user_id") === col("c_custkey"))
        .select(col("event_id"), col("user_id"), col("event_type"), col("c_mktsegment"))
      runMemory(q, "append", "i7", needsFinalFlush = false)
        .groupBy(col("c_mktsegment"), col("event_type")).agg(count(lit(1)).as("n"))
        .orderBy("c_mktsegment", "event_type")
    }),

    // I9: stream-stream join — each purchase joined to the same user's
    // clicks within the preceding hour; BOTH sides watermarked so the join
    // state is bounded (the only stream-stream join shape that is safe at
    // scale: unbounded state otherwise).
    "i9_stream_stream_join" -> ((s, dir) => {
      val clicks = stream(s, dir, perBatch = false)
        .filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      val purchases = stream(s, dir, perBatch = false)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val q = purchases.join(clicks,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") <= col("p_ts"))
      runMemory(q, "append", "i9", needsFinalFlush = false)
        .groupBy(col("p_user")).agg(count(lit(1)).as("n_pairs"))
        .orderBy("p_user")
    }),

    // I17: stream-stream LEFT OUTER join — i9's shape plus the null-padded
    // rows: a purchase with NO click in its preceding hour must still emit
    // (exactly once, click columns null). Outer emission is watermark-gated
    // — the engine can only declare "no match will ever come" once the
    // click watermark passes the purchase's join window, so the trailing
    // no-data batch (needsFinalFlush) is what flushes the final unmatched
    // purchases. Both sides watermarked → join state stays bounded, same
    // as i9. FULL VALUE ORACLE (r16): with single-batch ingest the emitted
    // set is watermark-determined — every matched pair emits, and a
    // purchase null-pads iff unmatched and evicted (p_ts < the min of the
    // two streams' final watermarks); the null-padding mechanics are also
    // proven fixture-free in StreamingSpec.
    "i17_stream_outer_join" -> ((s, dir) => {
      val clicks = stream(s, dir, perBatch = false)
        .filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      val purchases = stream(s, dir, perBatch = false)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val q = purchases.join(clicks,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") <= col("p_ts"),
        "left_outer")
      runMemory(q, "append", "i17")
        .groupBy(col("p_user"))
        .agg(count(col("c_id")).as("n_matched"),
          count(when(col("c_id").isNull, 1)).as("n_unmatched"))
        .orderBy("p_user")
    }),

    // I11: the sketch library under STREAMING state — our
    // TypedImperativeAggregate HLL (hll_approx) as a windowed streaming
    // aggregate: the 16 KiB register blobs serialize into the state store,
    // merge on update, and flush with the watermark. Single-batch ingest →
    // the emitted estimates are deterministic and EQUAL the batch
    // aggregation over the same windows (asserted in StreamingSpec); like
    // every hll query the gate records rows-only.
    "i11_stream_hll" -> ((s, dir) => {
      val q = stream(s, dir, perBatch = false)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(expr("hll_approx(user_id)").as("approx_users"))
      runMemory(q, "append", "i11")
        .select(col("window.start").cast("timestamp_ntz").as("w_start"),
          col("event_type"), col("approx_users"))
        .orderBy("w_start", "event_type")
    }),

    // I8: deterministic sink — foreachBatch append to parquet, one batch id
    // per source chunk. FULL VALUE ORACLE (r16): batch k IS id-range chunk
    // k, so the per-batch ledger replays in SQL.
    "i8_stream_sink" -> ((s, dir) => {
      val q = stream(s, dir).select(col("event_id"), col("event_type"), col("value"))
      runForeachBatch(q, "i8", dir)
        .groupBy(col("batch_id")).agg(count(lit(1)).as("n"))
        .orderBy("batch_id")
    }),

    // I12: streaming UPSERT — the CDC-apply sink pattern: a STATELESS
    // stream whose running state lives in the SINK TABLE, not the state
    // store. Each micro-batch aggregates its delta, merges it with the
    // already-written partials for the days it touches (left-semi against
    // the delta's keys), and dynamic-partition-OVERWRITES only those
    // partitions; decimal partials make merge order irrelevant, so the
    // final table equals the batch aggregate EXACTLY — giving this
    // streaming query a full value oracle. At 100 TB this is how a
    // streaming pipeline maintains a day-partitioned rollup: per-batch
    // work scales with the delta, untouched partitions never move.
    "i12_stream_upsert" -> ((s, dir) => {
      val out = s"$ckptRoot/graft_out_i12_${Tables.pathKey(dir)}"
      Tables.rmrf(out)
      val q = stream(s, dir, filesPerTrigger = 2)
        .select(to_date(col("ts")).as("day"), col("value"))
      // the micro-batches' partition overwrites are dynamic
      runStreams("i12", confs = Seq("spark.sql.sources.partitionOverwriteMode" -> "dynamic"))(
        q -> (_.outputMode(OutputMode.Append())
            .foreachBatch { (df: DataFrame, batchId: Long) =>
              // idempotence guard: the read-merge-overwrite below is NOT a
              // transaction, so a RETRIED micro-batch would double-apply its
              // delta. The sink records the last applied batchId in a
              // sidecar (underscore-hidden from table scans, written
              // atomically AFTER the overwrite, untouched by dynamic
              // partition overwrite) and skips batches it has already
              // applied. A crash exactly between the overwrite and the
              // marker rename can still re-apply one batch — closing that
              // last window needs a transactional table commit (see
              // sources/SnapshotTable.scala), which is overkill for this
              // day-partial rollup demo.
              val marker = new java.io.File(out, "_applied_batch")
              val applied =
                if (marker.exists())
                  new String(java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8").trim.toLong
                else -1L
              if (batchId > applied) {
                // pin the partial type: re-summing decimals widens the
                // precision (27,6 -> 37,6 -> 38,6), and parquet files with
                // drifting widths cannot be read back as one table
                def pin(d: DataFrame) = d.select(col("day"), col("n").cast("long").as("n"),
                  col("vsum").cast(Tables.dec).as("vsum"))
                val delta = pin(df.groupBy(col("day"))
                  .agg(count(lit(1)).as("n"), sum(col("value").cast(Tables.dec)).as("vsum")))
                val merged =
                  if (new java.io.File(out).exists()) {
                    val touched = df.sparkSession.read.parquet(out)
                      .join(delta.select(col("day")), Seq("day"), "left_semi")
                    pin(delta.unionByName(touched).groupBy(col("day"))
                      .agg(sum(col("n")).as("n"), sum(col("vsum")).as("vsum")))
                  } else delta
                // materialize BEFORE the overwrite: the merge reads the same
                // partitions the write replaces (day-level partials — tiny)
                merged.localCheckpoint(true)
                  .write.mode("overwrite").partitionBy("day").parquet(out)
                val tmp = new java.io.File(out, s"._applied_batch.tmp")
                java.nio.file.Files.write(tmp.toPath, batchId.toString.getBytes("UTF-8"))
                java.nio.file.Files.move(tmp.toPath, marker.toPath,
                  java.nio.file.StandardCopyOption.ATOMIC_MOVE,
                  java.nio.file.StandardCopyOption.REPLACE_EXISTING)
              }
              ()
            }))
      s.read.parquet(out)
        .select(col("day"), col("n"), round(col("vsum").cast("double"), 6).as("val_sum"))
        .orderBy("day")
    }),

    // I13: streaming upsert with TRUE exactly-once apply — i12's CDC-apply
    // pattern upgraded from "sidecar marker after the overwrite" (which
    // leaves a crash window where data is durable but the marker is not) to
    // TRANSACTIONAL snapshot commits: each micro-batch merges its delta
    // with the current snapshot and commits a new version whose metadata
    // carries the applied batch id, so data + marker become visible through
    // ONE atomic pointer rename. A retried batch compares its id against
    // the CURRENT version's metadata and no-ops — replay-safe across every
    // crash point. Decimal partials keep the final table equal to the batch
    // aggregate exactly, so the query is fully oracle-backed like i12.
    "i13_stream_snapshot" -> ((s, dir) => {
      import graft.sources.SnapshotTable
      val root = s"$ckptRoot/graft_snap_i13_${Tables.pathKey(dir)}"
      Tables.rmrf(root)
      val q = stream(s, dir, filesPerTrigger = 2)
        .select(to_date(col("ts")).as("day"), col("value"))
      runStreams("i13")(q -> (_.outputMode(OutputMode.Append())
          .foreachBatch { (df: DataFrame, batchId: Long) =>
            val applied = SnapshotTable.latestMeta(root).map(_.toLong).getOrElse(-1L)
            if (batchId > applied) {
              def pin(d: DataFrame) = d.select(col("day"),
                col("n").cast("long").as("n"), col("vsum").cast(Tables.dec).as("vsum"))
              val delta = pin(df.groupBy(col("day"))
                .agg(count(lit(1)).as("n"), sum(col("value").cast(Tables.dec)).as("vsum")))
              val merged =
                if (SnapshotTable.latestVersion(root).isDefined)
                  pin(delta.unionByName(SnapshotTable.read(df.sparkSession, root))
                    .groupBy(col("day"))
                    .agg(sum(col("n")).as("n"), sum(col("vsum")).as("vsum")))
                else delta
              // no pre-materialization needed: the new version writes to a
              // FRESH immutable dir, never over the files it is reading
              SnapshotTable.commit(merged, root, meta = batchId.toString)
              ()
            }
          }))
      SnapshotTable.read(s, root)
        .select(col("day"), col("n"), round(col("vsum").cast("double"), 6).as("val_sum"))
        .orderBy("day")
    }),

    // I20: streaming CDC APPLY WITH DELETES — i12/i13 maintain ADDITIVE
    // partials; a real change feed also carries row deletes. Each event is
    // a CDC op on its user_id key: event_type 'error' ⇒ DELETE, anything
    // else ⇒ UPSERT(value). Conflict resolution is LAST-WRITER-WINS on
    // (event-time, event_id), and deletes persist as TOMBSTONES in the
    // state table, so a late-arriving older upsert for a deleted key can
    // never resurrect it — which makes the final state independent of how
    // ops are chunked into micro-batches (the LWW merge is associative and
    // commutative over batches; the chunked source deliberately arrives in
    // event_id order, not time order, and the result must not care).
    // Applied through i13's transactional snapshot commits (applied batchId
    // in the version metadata ⇒ replay-safe at every crash point). Fully
    // oracle-backed: final listing == "latest op per key, tombstones
    // hidden". At 100 TB the per-batch merge touches |delta-keys| state
    // rows via the snapshot's key layout — the LWW window runs on
    // delta ∪ matched-state, never a full-state rescan.
    "i20_stream_cdc_apply" -> ((s, dir) => {
      import graft.sources.SnapshotTable
      val root = s"$ckptRoot/graft_snap_i20_${Tables.pathKey(dir)}"
      Tables.rmrf(root)
      val q = stream(s, dir, filesPerTrigger = 2)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
          col("value"))
      runStreams("i20")(q -> (_.outputMode(OutputMode.Append())
          .foreachBatch { (df: DataFrame, batchId: Long) =>
            val applied = SnapshotTable.latestMeta(root).map(_.toLong).getOrElse(-1L)
            if (batchId > applied) {
              def lww(d: DataFrame) = {
                val w = org.apache.spark.sql.expressions.Window
                  .partitionBy(col("user_id"))
                  .orderBy(col("ts").desc, col("event_id").desc)
                d.withColumn("rn", row_number().over(w))
                  .filter(col("rn") === 1).drop("rn")
              }
              val delta = lww(df)
              val merged =
                if (SnapshotTable.latestVersion(root).isDefined)
                  lww(delta.unionByName(SnapshotTable.read(df.sparkSession, root)))
                else delta
              SnapshotTable.commit(merged, root, meta = batchId.toString)
              ()
            }
          }))
      SnapshotTable.read(s, root)
        .filter(col("event_type") =!= "error")
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("ts").cast("timestamp_ntz").as("ts"), round(col("value"), 6).as("value"))
        .orderBy("user_id")
    }),

    // I23: STREAMING INGEST DEDUP SERVED FROM A PINNED INDEX VERSION —
    // g49's per-ingest dedup run as the live service loop: the existing
    // corpus's (blk, shingles) index is committed once (v1) and the whole
    // ingest campaign PINS that version for matching (index versions are
    // immutable; matching against a moving index would make answers depend
    // on micro-batch boundaries). Each arriving delta micro-batch
    // (a) joins the pinned index scan on the blocking key with
    // exact-Jaccard verification, (b) writes its per-doc verdict ledger
    // IDEMPOTENTLY (overwrite-by-batch dir — a replayed batch overwrites
    // itself), and (c) appends its NOVEL docs' index rows as the next
    // table version with the applied batch id in the commit metadata (the
    // i13 exactly-once discipline: data + applied-marker become visible
    // through one atomic pointer swap, so a crash at any point neither
    // loses nor double-appends). Because matching pins v1, the union of
    // the batch verdicts equals g49's single-shot answer EXACTLY — same
    // oracle SQL; the accumulating versions are the NEXT index build's
    // input (final count pinned in StreamingSpec with restart recovery).
    // At 100 TB: one index-scan join per batch (linear in the delta),
    // O(delta) append I/O, one pointer swap — no corpus rescan anywhere.
    "i23_stream_index_dedup" -> ((s, dir) => {
      import graft.sources.SnapshotTable
      val t = Tables(s, dir)
      def shingled(d: DataFrame) = TF.shingleSets(d, col("doc_id"), TF.blockKey.as("blk"))
      // The v1 corpus index is a pure function of the fixture, so it is
      // STAGED once per fixture (Tables.staged, like the chunked sources
      // and i27) and hardlink-copied into a fresh live root per
      // invocation: the campaign MUTATES its root (per-batch novel
      // appends), so exactly-once mechanics run against a cheap copy while
      // the 80%-corpus shingle+commit is paid once, not once per bench pass.
      val stage = Tables.scratch("i23_stage", dir)
      Tables.staged(stage, Tables.stamp(s"$dir/documents.parquet")) {
        SnapshotTable.commit(Tables.coPartition(
          shingled(t.documents.filter(col("doc_id") % 5 =!= 0))
            .select(col("doc_id").as("e_id"), col("blk").as("e_blk"),
              col("sh").as("e_sh")), col("e_blk")),
          stage, meta = "-1")
      }
      val idxRoot = s"$ckptRoot/graft_snap_i23_${Tables.pathKey(dir)}"
      Tables.rmrf(idxRoot)
      linkTree(Paths.get(stage), Paths.get(idxRoot))
      Files.deleteIfExists(Paths.get(idxRoot, "_ready"))
      val out = s"$ckptRoot/graft_out_i23_${Tables.pathKey(dir)}"
      Tables.rmrf(out)
      val pinned = SnapshotTable.latestVersion(idxRoot).get
      // The pinned version is IMMUTABLE for the whole campaign, so the serve
      // loop caches its blk-partitioned scan in memory ONCE instead of
      // re-reading + re-shuffling the full index every micro-batch — the
      // standard serving posture (i24 pins its index the same way); at
      // 100 TB this is the warm block-partitioned index executors hold.
      val existing = Tables.coPartition(
        SnapshotTable.read(s, idxRoot, pinned), col("e_blk")).persist()
      // a micro-batch frame lives on the stream's session, whose shuffle
      // partitions are the stream's (startStream): the delta side takes
      // this session's count, so it lands in the index's partitions
      val n = Tables.partitionCount(s.sessionState.conf)
      // 2 files per trigger (r22 — the i24 argument): matching PINS index
      // v1 for the whole campaign, so each doc's verdict depends only on
      // (doc, v1) and the union ledger is batch-count-INDEPENDENT — same
      // oracle rows at any chunking. The exactly-once append discipline is
      // still exercised across ≥2 batches (one versioned append per batch,
      // applied-batch ledger strictly increasing — StreamingSpec pins the
      // count-agnostic invariants, not the batch count). Halving the
      // micro-batch count halves the per-batch index-join + commit fixed
      // cost, the i-band floor.
      val st = s.readStream.schema(docChunkSchema)
        .option("maxFilesPerTrigger", 2).parquet(docsById(s, dir))
        .filter(col("doc_id") % 5 === 0)
      try runStreams("i23")(st -> (_.outputMode(OutputMode.Append())
          .foreachBatch { (df: DataFrame, batchId: Long) =>
            val applied = SnapshotTable.latestMeta(idxRoot)
              .map(_.toLong).getOrElse(-2L)
            if (batchId > applied) {
              val delta = shingled(df).repartition(n, col("blk"))
                .localCheckpoint()
              val verdicts = TextQueries.dedupVerdicts(delta, existing)
                .localCheckpoint() // pin BEFORE ledger write + index append
              verdicts.write.mode("overwrite").parquet(f"$out/b$batchId%04d")
              val novel = delta
                .join(verdicts.filter(col("n_matches") === 0),
                  Seq("doc_id"), "left_semi")
                .select(col("doc_id").as("e_id"), col("blk").as("e_blk"),
                  col("sh").as("e_sh"))
              SnapshotTable.append(novel, idxRoot, meta = batchId.toString)
              ()
            }
          }))
      finally existing.unpersist()
      s.read.option("recursiveFileLookup", "true").parquet(out)
        .select(col("doc_id"), col("n_matches"), col("first_match"),
          col("best_jac"))
        .orderBy("doc_id")
    }),

    // I24: ONLINE ANN SERVING — the vector-search service loop itself: the
    // persisted learned IVF index (g71's artifact, fingerprint-cached and
    // shared across the serving family) answers a STREAM of query requests.
    // Each micro-batch (a) looks up its requests' vectors, (b) ranks the
    // k×64 broadcast codebook per query and keeps the top-2 probe cells,
    // (c) joins candidates CELL-KEYED against the postings table — the
    // batch-serving shape: one postings read amortized across the whole
    // batch, where the single-query path (g71) uses partition pruning
    // instead; both touch probes/k of the corpus — and (d) writes its
    // per-query top-10 ledger IDEMPOTENTLY (overwrite-by-batch dir). The
    // index is immutable for the campaign (the i23 pinning discipline), so
    // the union of batch ledgers equals the single-shot batch answer
    // EXACTLY — the oracle replays Lloyd training, per-query probe
    // selection, and every top-10 cut.
    "i24_stream_ann_serve" -> ((s, dir) => annServe(s, dir, "i24", 1)),

    // I29: STREAMING READ OF A SNAPSHOT TABLE — the table→stream half of
    // the CDC loop (i12/i13 own the stream→table half): the custom V1
    // source (sources/GraftTableStream.scala) turns committed VERSIONS
    // into micro-batches, with offsets == version numbers (the snapshot
    // protocol already provides a totally ordered, atomically published,
    // checkpointable marker) and each batch == exactly the files the new
    // manifest adds — O(delta) at any table size, never a scan or diff.
    // Two campaigns against ONE checkpoint grade the contract: campaign 1
    // drains the seeded v1+v2, a third version lands, campaign 2 resumes
    // off the checkpointed version and emits EXACTLY the delta. The
    // append-only lineage rule (rewrites refuse loudly) is spec-pinned.
    "i29_stream_table_feed" -> ((s, dir) => {
      import graft.sources.SnapshotTable
      val key = Tables.pathKey(dir)
      val t = Tables(s, dir)
      val root = s"$ckptRoot/graft_snap_i29_$key"
      val out = s"$ckptRoot/graft_out_i29_$key"
      val ckpt = s"$ckptRoot/graft_i29ck_$key"
      Seq(root, out, ckpt).foreach(Tables.rmrf)
      val base = t.orders.select(col("o_orderkey"), col("o_totalprice"))
      SnapshotTable.commit(base.filter(col("o_orderkey") % 30 === 0), root)
      SnapshotTable.append(base.filter(col("o_orderkey") % 30 === 1), root)
      def feed = s.readStream.format("graft.sources.GraftTableStream")
        .option("path", root).load()
      def campaign(tag: String): Unit =
        startStream(feed, ckpt)(_.outputMode(OutputMode.Append())
          .foreachBatch { (df: DataFrame, batchId: Long) =>
            df.withColumn("campaign", lit(tag))
              .write.mode("overwrite").parquet(f"$out/${tag}_b$batchId%04d")
            ()
          }).awaitTermination()
      campaign("c1")
      SnapshotTable.append(base.filter(col("o_orderkey") % 30 === 2), root)
      campaign("c2") // resumes from the checkpointed version
      s.read.option("recursiveFileLookup", "true").parquet(out)
        .groupBy(col("campaign"), (col("o_orderkey") % 4).as("bucket"))
        .agg(count(lit(1)).as("n"),
          round(Tables.dsum(col("o_totalprice")), 6).as("revenue"))
        .orderBy("campaign", "bucket")
    }),

    // I30: STREAMING CHANGE FEED (Delta's CDF streaming — readChangeFeed):
    // closes the i29 gap the r18 verdict named first among missing CDC
    // pieces: i29's row feed refuses rewrites BY DESIGN (emitted rows
    // cannot be retracted), so a pipeline following a table through
    // UPDATE/DELETE/MERGE needs the source to serve ROW-LEVEL CHANGES
    // instead of rows. Composes the two halves the engine already proves:
    // the version-offset table stream (i29) and the m42 change feed
    // (`SnapshotTable.changes`) — each streamed version serves its own
    // change set tagged `_change_type`/`_n`/`_commit_version`, so appends
    // stay O(delta)
    // (delta files only), a rewrite emits its grouped multiset diff, and
    // the union ledger is independent of how versions pack into
    // micro-batches — which is what licenses the FULL VALUE ORACLE across
    // a campaign holding an append AND a rewrite: campaign 1 drains the
    // seeded v1+v2 (pure inserts), an UPDATE-shaped rewrite lands (every
    // 60-multiple's price bumped), and campaign 2 resumes off the SAME
    // checkpoint and emits exactly v3's diff — one delete and one insert
    // per changed row, nothing for untouched rows. Restart-resume and the
    // ALTER-mid-stream refusal (the checkpoint-pinned schema generation)
    // are additionally pinned in StreamingSpec.
    "i30_stream_change_feed" -> ((s, dir) => {
      import graft.sources.SnapshotTable
      val key = Tables.pathKey(dir)
      val t = Tables(s, dir)
      val root = s"$ckptRoot/graft_snap_i30_$key"
      val out = s"$ckptRoot/graft_out_i30_$key"
      val ckpt = s"$ckptRoot/graft_i30ck_$key"
      Seq(root, out, ckpt).foreach(Tables.rmrf)
      val base = t.orders.select(col("o_orderkey"), col("o_totalprice"))
      SnapshotTable.commit(base.filter(col("o_orderkey") % 30 === 0), root)
      SnapshotTable.append(base.filter(col("o_orderkey") % 30 === 1), root)
      def feed = s.readStream.format("graft.sources.GraftTableStream")
        .option("path", root).option("readChangeFeed", "true").load()
      def campaign(tag: String): Unit =
        startStream(feed, ckpt)(_.outputMode(OutputMode.Append())
          .foreachBatch { (df: DataFrame, batchId: Long) =>
            df.withColumn("campaign", lit(tag))
              .write.mode("overwrite").parquet(f"$out/${tag}_b$batchId%04d")
            ()
          }).awaitTermination()
      campaign("c1") // v1 + v2: pure insert changes, O(delta) each
      // the REWRITE a row feed cannot follow: UPDATE-shaped full rewrite —
      // every 60-multiple's price bumped by 10, all other rows carried
      SnapshotTable.commit(
        SnapshotTable.read(s, root).withColumn("o_totalprice",
          when(col("o_orderkey") % 60 === 0, col("o_totalprice") + lit(10.0))
            .otherwise(col("o_totalprice"))),
        root)
      campaign("c2") // resumes from the checkpoint: exactly v3's diff
      s.read.option("recursiveFileLookup", "true").parquet(out)
        .groupBy(col("campaign"), col("_commit_version").as("commit_version"),
          col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n_shapes"), sum(col("_n")).as("n_rows"),
          round(Tables.dsum(col("o_totalprice") * col("_n")), 6).as("revenue"))
        .orderBy("campaign", "commit_version", "change_type")
    }),

    // I28: SHARDED ANN SERVING — the production lever SCALING_r17 named
    // for i24's honest linearity (query stream ×100 AND corpus ×100 →
    // candidate work ×100²/100): the query stream PARTITIONS into K hash
    // shards (doc_id-keyed, disjoint by construction), each served by its
    // OWN streaming query with its own checkpoint and ledger directory,
    // all K running CONCURRENTLY against the same pinned immutable index.
    // Work per shard batch drops K-fold and the shards' fixed per-batch
    // costs (postings read, codebook ranking) overlap on the scheduler —
    // on a real cluster each shard is its own job/driver, the Kafka
    // consumer-group shape. The union of shard ledgers must equal i24's
    // single-stream answer EXACTLY (same oracle text), which is what makes
    // this a correctness-neutral scale-out: StreamingSpec pins shard
    // disjointness and the i24 == i28 equality on the small fixture.
    "i28_stream_ann_shard_serve" -> ((s, dir) => annServe(s, dir, "i28", 4)),

    // I25: STREAMING EXPECTATIONS — m21's write-time data-quality gate run
    // as the live ingest loop (Delta Live Tables' expectations on a
    // stream): every micro-batch splits on the ordered rule CASE inside
    // one codegen'd projection; valid rows APPEND to the serving table,
    // violators to the reason-tagged quarantine table, each append
    // carrying its batch id in the commit metadata (the i13 exactly-once
    // discipline, applied PER TABLE: a crash between the two appends
    // replays the batch and each table's own guard skips or applies it —
    // both converge, neither double-counts). The rules are stateless, so
    // the union of batch splits equals the single-shot split — the audit
    // ledger (per-rule quarantine counts, zero-count rules included, plus
    // committed rows) grades against a plain SQL replay over events. At
    // 100 TB: scan-speed CASE, two O(delta) appends, two pointer swaps per
    // batch — no corpus rescan, no state.
    "i25_stream_expectations" -> ((s, dir) => {
      import graft.sources.SnapshotTable
      val spark = s
      import spark.implicits._
      val tblRoot = s"$ckptRoot/graft_snap_i25t_${Tables.pathKey(dir)}"
      val qRoot = s"$ckptRoot/graft_snap_i25q_${Tables.pathKey(dir)}"
      Tables.rmrf(tblRoot)
      Tables.rmrf(qRoot)
      val reason = when(col("value") > 80, "value_gt_80")
        .when(col("event_type") === "error", "error_event")
        .when(col("user_id") % 97 === 13, "blocked_user")
      // 2 files per trigger (r22): the rules are STATELESS, so the union of
      // batch splits equals the single-shot split at any chunking (the
      // query's own oracle argument) — the per-table exactly-once appends
      // are still exercised across 2 batches; halving the batch count
      // halves the per-batch split + two-append fixed cost.
      runStreams("i25")(stream(s, dir, filesPerTrigger = 2) -> (_.outputMode(OutputMode.Append())
          .foreachBatch { (df: DataFrame, batchId: Long) =>
            val tagged = df.withColumn("__reason", reason).localCheckpoint()
            def appliedAt(root: String) =
              SnapshotTable.latestMeta(root).map(_.toLong).getOrElse(-1L)
            if (batchId > appliedAt(tblRoot))
              SnapshotTable.append(
                tagged.filter(col("__reason").isNull).drop("__reason"),
                tblRoot, meta = batchId.toString)
            if (batchId > appliedAt(qRoot))
              SnapshotTable.append(
                tagged.filter(col("__reason").isNotNull),
                qRoot, meta = batchId.toString)
            ()
          }))
      val committedN = SnapshotTable.read(s, tblRoot).count()
      val rules = Seq("value_gt_80", "error_event", "blocked_user").toDF("rule")
      val qCounts = SnapshotTable.read(s, qRoot)
        .groupBy(col("__reason").as("rule")).agg(count(lit(1)).as("n"))
      rules.join(qCounts, Seq("rule"), "left")
        .select(col("rule"), coalesce(col("n"), lit(0L)).as("n_rows"))
        .unionByName(Seq(("committed", committedN)).toDF("rule", "n_rows"))
        .orderBy("rule")
    }),

    // I14: streaming NEAR-DUP filter — the ingestion-time dedup gate a
    // training-data pipeline runs in front of its corpus: each arriving
    // document's 64-bit SimHash splits into 4×16-bit bands, and
    // dropDuplicatesWithinWatermark on (band, value) keeps only first
    // sightings. A document passes the filter iff ≥3 of its 4 bands are
    // new: a near-identical copy (hamming ≤ 3 → ≥3 shared bands by
    // pigeonhole) is caught, while an unrelated single-band collision
    // (p ≈ 2⁻¹⁶ per pair) cannot reject a novel document. State is one
    // 16-bit-keyed row per seen band value, watermark-bounded — at 100 TB
    // this is the bounded-state alternative to joining every arrival
    // against the full corpus index. Band-state winners within one
    // micro-batch are shuffle-order dependent → rows-only; the crafted
    // deterministic scenario is asserted in StreamingSpec.
    "i14_stream_neardup_filter" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val st = s.readStream.schema(docChunkSchema)
        .option("maxFilesPerTrigger", "1").parquet(docsById(s, dir))
      val fps = st.select(col("doc_id"), col("ts"), lower(col("text")).as("txt"))
        .as[(Long, java.sql.Timestamp, String)]
        .map { case (id, ts, txt) => (id, ts, graft.functions.TextFunctions.simhash64(txt)) }
        .toDF("doc_id", "ts", "fp")
      val bands = fps.select(col("doc_id"), col("ts"),
          posexplode(array((0 until 4).map(i =>
            shiftrightunsigned(col("fp"), i * 16).bitwiseAND(lit(0xffffL))): _*))
            .as(Seq("band", "bval")))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("band", "bval")
      // dedup emits surviving band rows eagerly; the pass/reject rollup is a
      // batch aggregate over the sink table
      runMemory(bands, "append", "i14", needsFinalFlush = false)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_new_bands"))
        .filter(col("n_new_bands") >= 3)
        .select(col("doc_id"), col("n_new_bands"))
        .orderBy("doc_id")
    }),

    // I15: ListState on the Spark 4.x arbitrary-state API — per-user "most
    // recent k observations" kept across micro-batches (the streaming
    // feature-store state shape; see RecentValuesProcessor). State is k rows
    // per user by construction, so total state = k × active users no matter
    // how long the stream runs. The per-user seq number tags emissions so
    // the final state is max(seq) per user — no reliance on sink row order.
    // StreamingSpec proves the kept set equals the batch top-k-by-recency.
    "i15_stream_recent_list" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val q = stream(s, dir, filesPerTrigger = 2)
        .select(col("user_id"), col("ts"), col("event_id"),
          floor(col("value") * lit(1000000d)).cast("long").as("v_micro"))
        .as[(Long, java.sql.Timestamp, Long, Long)]
        .groupByKey(_._1)
        .transformWithState(
          new graft.streaming.RecentValuesProcessor(5),
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Update())
        .toDF("user_id", "seq", "n_kept", "val_sum_micro")
      runMemory(q, "update", "i15", needsFinalFlush = false, statePartitions = statePar(dir),
        confs = rocksDb)
        .groupBy(col("user_id"))
        .agg(max(struct(col("seq"), col("n_kept"), col("val_sum_micro"))).as("last"))
        .select(col("user_id"), col("last.n_kept").as("n_kept"),
          col("last.val_sum_micro").as("val_sum_micro"))
        .orderBy("user_id")
    }),

    // I16: MapState on the Spark 4.x arbitrary-state API — per-user
    // counters keyed by event type (see TypeCountsProcessor; completes the
    // Value/List/Map state-primitive trio). The final map per user is
    // chunking-independent (= the batch groupBy count), so like i15 this
    // streaming query carries a full value oracle.
    "i16_stream_map_counts" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val q = stream(s, dir, filesPerTrigger = 2)
        .select(col("user_id"), col("ts"), col("event_type"))
        .as[(Long, java.sql.Timestamp, String)]
        .groupByKey(_._1)
        .transformWithState(
          new graft.streaming.TypeCountsProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Update())
        .toDF("user_id", "seq", "event_type", "n")
      runMemory(q, "update", "i16", needsFinalFlush = false, statePartitions = statePar(dir),
        confs = rocksDb)
        .groupBy(col("user_id"), col("event_type"))
        .agg(max(struct(col("seq"), col("n"))).as("last"))
        .select(col("user_id"), col("event_type"), col("last.n").as("n"))
        .orderBy("user_id", "event_type")
    }),

    // I10: unbounded generator source, bounded deterministically.
    // `rate-micro-batch` emits exactly rowsPerBatch rows per micro-batch
    // (batch k: values [k·2000, (k+1)·2000), all stamped k·1 min), and under
    // Trigger.AvailableNow one restart = one batch. Running 3 AvailableNow
    // rounds against ONE checkpoint replays the exactly-once resume path a
    // production job takes after every restart — each round picks up at the
    // committed offset, and the complete-mode aggregate rebuilds from the
    // recovered state store. Output is fully deterministic, so unlike the
    // file-fed i* queries this one carries a full value oracle.
    "i10_stream_rate" -> ((s, dir) => {
      val base = s"$ckptRoot/graft_i10_ckpt"
      Tables.rmrf(base) // a stale checkpoint would resume past batch 2
      val qn = s"graft_i10_${System.nanoTime()}"
      val q = s.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", "2000").option("numPartitions", "2")
        .option("startTimestamp", "0").option("advanceMillisPerBatch", "60000")
        .load()
        .groupBy(window(col("timestamp"), "2 minutes"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("value_sum"))
      (0 until 3).foreach(_ => startStream(q, base, 2)(
        _.format("memory").queryName(qn).outputMode("complete")).awaitTermination())
      sinkTable(s, qn)
        .select(col("window.start").cast("timestamp_ntz").as("w_start"),
          col("n"), col("value_sum"))
        .orderBy("w_start")
    }),

    // I19: CUSTOM IMPERATIVE AGGREGATE UNDER STREAMING STATE — the h7
    // bitmap sketch running inside a complete-mode streaming aggregation
    // across MULTIPLE micro-batches: the opaque byte-blob buffer must
    // round-trip the state store between batches (TypedImperativeAggregate
    // serialize/deserialize) and merge bitwise — which is exactly what a
    // production streaming exact-distinct needs. The final table after all
    // chunks is chunking-independent (OR is associative/commutative), so
    // unlike most of the i-band this carries a full value oracle.
    "i19_stream_bitmap_distinct" -> ((s, dir) => {
      val q = stream(s, dir, filesPerTrigger = 2) // 2 micro-batches
        .groupBy(col("event_type"))
        .agg(expr("bitmap_count(bitmap_sketch(user_id))").as("exact_users"),
          count(lit(1)).as("n_events"))
      runMemory(q, "complete", "i19", needsFinalFlush = false)
        .orderBy("event_type")
    }),

    // I26: STREAMING READ OF THE KAFKA-SHAPED LOG — the ingest loop a
    // production pipeline starts from: the custom MicroBatchStream
    // (sources/GraftLogSource.scala) advances a {partition → offset} map
    // per batch under ADMISSION CONTROL (Kafka's maxOffsetsPerTrigger
    // split), so batch boundaries are a DETERMINISTIC function of the log
    // content and the per-batch ledger replays in SQL. The cap is SIZE-
    // DERIVED — per-partition advance = ceil(total/24), i.e. ~6 batches
    // at ANY scale (an sf10 log drains in 6 big batches, not 600 small
    // ones — the backpressure knob tracks throughput, exactly how a
    // production job sizes maxOffsetsPerTrigger; 6 batches exercise the
    // offset-map advance as fully as 12 did at half the fixed per-trigger
    // cost, the r19 bench-floor cut); the oracle replays the
    // same formula: batch k = each partition's offsets
    // [perPart*k, perPart*(k+1)) with perPart = (count + 23) // 24. The
    // cap read is metadata-only (the per-partition _end markers).
    // Offset-checkpoint RESUME (stop, append, restart → only the delta) is
    // graded by i27 and pinned in LogSourceSpec.
    "i26_stream_log_offsets" -> ((s, dir) => {
      val root = ScanFilterQueries.logFixture(s, dir)
      val total = graft.sources.GraftLog.endOffsets(root).values.sum
      val perPart = (total + 23) / 24
      val q = s.readStream.format("graft.sources.GraftLogSource")
        .option("path", root)
        .option("maxRowsPerBatch", (4 * perPart).toString).load()
        .select(col("p"), col("offset"), col("value"))
      runForeachBatch(q, "i26", dir)
        .groupBy(col("batch_id"))
        .agg(count(lit(1)).as("n"),
          round(Tables.dsum(col("value")), 6).as("val_sum"))
        .orderBy("batch_id")
    }),

    // I27: OFFSET-CHECKPOINT RESTART-RESUME, GRADED — the consumer-position
    // contract i26 relies on, exercised end-to-end as a declared query: a
    // capped stream drains PRODUCER CAMPAIGN 1 to completion against a
    // checkpoint, the producer appends campaign 2 (new segments, offsets
    // continuing per partition), and a RESTARTED stream from the SAME
    // checkpoint must read exactly the delta — no replay (a replayed
    // campaign-1 row would inflate run 2's ledger), no loss (a skipped
    // offset would deflate it). Batch boundaries stay deterministic under
    // the SIZE-DERIVED admission cap (per-partition advance =
    // ceil(total/24) → ~3 batches per run per partition at ANY scale, the
    // i26 discipline), so the union ledger carries a FULL value oracle:
    // run r's batch k = each partition's campaign-r rows ranked
    // [perPart*k, perPart*(k+1)). Segments
    // are staged once per fixture (fingerprint-guarded) and hardlink-copied
    // into a fresh live root per invocation — restart mechanics, not
    // fixture builds, are what the query times. At 100 TB this is the
    // Kafka restart story verbatim: the checkpoint holds one long per
    // partition and readers seek by segment name.
    "i27_stream_log_resume" -> ((s, dir) => {
      val stage = resumeStaging(s, dir)
      val live = Tables.scratch("i27_live", dir)
      val out = s"$ckptRoot/graft_out_i27_${Tables.pathKey(dir)}"
      val ckpt = s"$ckptRoot/graft_i27_${System.nanoTime()}"
      Tables.rmrf(live); Tables.rmrf(out)
      def installCampaign(c: Int): Unit = {
        val meta = Files.readAllLines(Paths.get(stage, "_meta")).asScala
          .map(_.split(",")).map(a => a(0).toInt -> (a(1).toLong, a(2).toLong)).toMap
        (0 until 4).foreach { p =>
          val dst = Paths.get(live, s"p=$p")
          Files.createDirectories(dst)
          val srcDir = Paths.get(stage, s"c$c", s"p=$p")
          val segs = Files.list(srcDir)
          try segs.iterator().asScala.filter(_.toString.endsWith(".seg")).foreach { f =>
            Files.copy(f, dst.resolve(f.getFileName.toString),
              StandardCopyOption.REPLACE_EXISTING)
          } finally segs.close()
          val end = if (c == 1) meta(p)._1 else meta(p)._2
          Files.write(dst.resolve("_end"), end.toString.getBytes("UTF-8"))
        }
      }
      val totalRows = Files.readAllLines(Paths.get(stage, "_meta")).asScala
        .map(_.split(",")(2).toLong).sum
      val perPart = (totalRows + 23) / 24
      def runOnce(run: Int): Unit = {
        val q = s.readStream.format("graft.sources.GraftLogSource")
          .option("path", live)
          .option("maxRowsPerBatch", (4 * perPart).toString).load()
          .select(col("p"), col("offset"), col("value"))
        startStream(q, ckpt, 8)(_.outputMode(OutputMode.Update())
          .foreachBatch { (df: DataFrame, id: Long) =>
            df.withColumn("run", lit(run)).withColumn("batch_id", lit(id))
              .write.mode("append").parquet(out)
          }).awaitTermination()
      }
      try {
        installCampaign(1); runOnce(1)
        installCampaign(2); runOnce(2) // SAME checkpoint: resume, not replay
      } finally Tables.rmrf(ckpt)
      val wseq = Window.partitionBy("run").orderBy("batch_id")
      s.read.parquet(out)
        .groupBy(col("run"), col("batch_id"))
        .agg(count(lit(1)).as("n"),
          round(Tables.dsum(col("value")), 6).as("val_sum"))
        // dense per-run batch SEQUENCE: absolute ids continue across the
        // restart (that is the checkpoint working); the oracle replays the
        // per-run sequence, which is the chunking-deterministic object
        .withColumn("batch_seq", dense_rank().over(wseq).cast("long") - 1)
        .select(col("run"), col("batch_seq"), col("n"), col("val_sum"))
        .orderBy("run", "batch_seq")
    }),

    // I18: EVENT-TIME TIMERS — per-user gap sessionization where sessions
    // close when the WATERMARK passes last_event + 30 min, fired by a
    // registered timer rather than by a later event (SessionTimerProcessor;
    // completes the arbitrary-state API after the Value/List/Map trio).
    // Arrival order must be non-decreasing in event time for the batch
    // oracle to hold, so this query reads the ts-ordered chunk source with
    // a 0-second watermark delay. The emitted set — every session whose
    // end + gap ≤ the final watermark — is chunking-independent, so the
    // query carries a full value oracle (the batch sessionization filtered
    // by the same end-of-stream condition). Timestamps stay in exact µs
    // end-to-end; only the timer itself is ms-grained (ceil, never early).
    "i18_stream_timer_sessions" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val gapUs = 30L * 60 * 1000000
      // 2 time-ordered files per trigger (the i22 argument): the emitted
      // set is watermark-determined — every session with end + gap ≤ the
      // FINAL watermark — and the processor sorts within a batch, so the
      // chunking only sets fixed costs, not the answer
      val src = spark.readStream.schema(chunkSchema)
        .option("maxFilesPerTrigger", "2").parquet(eventsByTs(s, dir))
      val q = src
        .withWatermark("ts", "0 seconds")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"))
        .as[(Long, Long, Long)]
        .groupByKey(_._1)
        .transformWithState(
          new graft.streaming.SessionTimerProcessor(gapUs),
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          OutputMode.Append())
        .toDF("user_id", "s_start_us", "s_end_us", "n_events")
      runMemory(q, "append", "i18", statePartitions = statePar(dir), confs = rocksDb)
        .select(col("user_id"),
          timestamp_micros(col("s_start_us")).cast("timestamp_ntz").as("s_start"),
          timestamp_micros(col("s_end_us")).cast("timestamp_ntz").as("s_end"),
          col("n_events"))
        .orderBy("user_id", "s_start")
    }),

    // I22: INITIAL STATE — bootstrap the i18 timer-session job from a
    // WAREHOUSE-computed state snapshot instead of replaying history: the
    // migration every long-lived pipeline eventually performs (history
    // lives in the lakehouse; the stream must start mid-session without
    // reprocessing it). The pre-cutoff half of events is sessionized in
    // BATCH; every session closed within the prefix is emitted directly,
    // and each user's TRAILING (possibly still-open) session becomes the
    // per-key initial state of transformWithState(…, initialState) — the
    // processor arms its timer from the seeded state, so a user silent in
    // the stream still closes by watermark, and a suffix event either
    // extends the seeded session or proves the gap. Only post-cutoff
    // chunks flow through the stream. The batch+stream union equals i18's
    // FULL-data sessionization — the same full value oracle, which is the
    // strongest possible proof the handoff is seamless (no session lost,
    // split, or double-emitted at the cutoff). At 100 TB the prefix
    // sessionization is the ordinary batch window job and state bootstrap
    // is one shuffle of |active users| rows — history is never replayed.
    "i22_stream_initial_state" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val gapUs = 30L * 60 * 1000000
      val cutoff = lit("2024-01-16 00:00:00").cast("timestamp")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts_us", "event_id")
      val pre = Tables(s, dir).events
        .filter(col("ts").cast("timestamp") < cutoff)
        .select(col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"), col("event_id"))
      val sess = pre
        .withColumn("brk", when(lag(col("ts_us"), 1).over(w).isNull ||
          col("ts_us") - lag(col("ts_us"), 1).over(w) > gapUs, 1L).otherwise(0L))
        .withColumn("sid", sum(col("brk")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("sid"))
        .agg(min(col("ts_us")).as("s_start_us"), max(col("ts_us")).as("s_end_us"),
          count(lit(1)).as("n_events"))
        .withColumn("rn", row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("sid").desc)))
      val closedInPrefix = sess.filter(col("rn") > 1)
        .select(col("user_id"), col("s_start_us"), col("s_end_us"), col("n_events"))
      val bootstrap = sess.filter(col("rn") === 1)
        .select(col("user_id"), col("s_start_us"), col("s_end_us"), col("n_events"))
        .as[(Long, Long, Long, Long)]
        .groupByKey(_._1)
        .mapValues(r => (r._2, r._3, r._4))
      // 2 time-ordered files per trigger: the emitted set is watermark-
      // determined (every session with end + gap ≤ the FINAL watermark),
      // identical at any chunking — fewer batches is pure fixed-cost savings
      val src = spark.readStream.schema(chunkSchema)
        .option("maxFilesPerTrigger", "2").parquet(eventsByTs(s, dir))
      val q = src
        .filter(col("ts") >= cutoff) // suffix only — history is not replayed
        .withWatermark("ts", "0 seconds")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"))
        .as[(Long, Long, Long)]
        .groupByKey(_._1)
        .transformWithState(
          new graft.streaming.SessionTimerProcessor(gapUs),
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          OutputMode.Append(),
          bootstrap)
        .toDF("user_id", "s_start_us", "s_end_us", "n_events")
      val streamed = runMemory(q, "append", "i22", statePartitions = statePar(dir),
        confs = rocksDb)
      closedInPrefix.unionByName(streamed)
        .select(col("user_id"),
          timestamp_micros(col("s_start_us")).cast("timestamp_ntz").as("s_start"),
          timestamp_micros(col("s_end_us")).cast("timestamp_ntz").as("s_end"),
          col("n_events"))
        .orderBy("user_id", "s_start")
    })
  )

  // File-fed streaming output is micro-batch dependent — no SQL oracles
  // (rows-only). i10's generator is deterministic, so it alone gets one.
  val oracles: Seq[(String, String)] = Seq(
    // stateless rules make the batch-split union equal the single-shot
    // split — the audit ledger replays as plain SQL over events
    "i25_stream_expectations" ->
      ("WITH t AS (SELECT CASE WHEN value > 80 THEN 'value_gt_80' " +
        "WHEN event_type = 'error' THEN 'error_event' " +
        "WHEN user_id % 97 = 13 THEN 'blocked_user' END AS rule FROM events) " +
        "SELECT rule, n_rows FROM (" +
        "SELECT r.rule, CAST(coalesce(q.n, 0) AS BIGINT) AS n_rows " +
        "FROM (VALUES ('value_gt_80'), ('error_event'), ('blocked_user')) r(rule) " +
        "LEFT JOIN (SELECT rule, count(*) AS n FROM t WHERE rule IS NOT NULL " +
        "GROUP BY 1) q USING (rule) " +
        "UNION ALL SELECT 'committed', count(*) FROM t WHERE rule IS NULL" +
        ") ORDER BY rule"),

    // i15's final ListState per user is chunking-independent: the most
    // recent 5 observations by (ts, event_id) over the whole fixture —
    // batch-replayable, so this streaming query carries a full value oracle
    "i15_stream_recent_list" ->
      ("WITH r AS (SELECT user_id, CAST(floor(value * 1000000.0) AS BIGINT) AS v, " +
        "row_number() OVER (PARTITION BY user_id " +
        "ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn FROM events) " +
        "SELECT user_id, count(*) AS n_kept, CAST(sum(v) AS BIGINT) AS val_sum_micro " +
        "FROM r WHERE rn <= 5 GROUP BY user_id ORDER BY user_id"),

    // i16's final MapState per user is chunking-independent: the plain
    // batch count per (user, event_type)
    "i16_stream_map_counts" ->
      ("SELECT user_id, event_type, count(*) AS n FROM events " +
        "GROUP BY user_id, event_type ORDER BY user_id, event_type"),

    // batches 0,1 land in [00:00, 00:02) (values 0..3999), batch 2 in
    // [00:02, 00:04) (values 4000..5999)
    "i10_stream_rate" ->
      ("SELECT * FROM (VALUES (TIMESTAMP '1970-01-01 00:00:00', 4000, 7998000), " +
        "(TIMESTAMP '1970-01-01 00:02:00', 2000, 9999000)) " +
        "t(w_start, n, value_sum) ORDER BY w_start"),

    // i12's sink-table state is decimal-exact regardless of micro-batch
    // boundaries, so the final upserted table IS the batch aggregate
    "i12_stream_upsert" ->
      ("SELECT CAST(ts AS DATE) AS day, count(*) AS n, " +
        s"round(${graft.Tables.dsumSql("value")}, 6) AS val_sum " +
        "FROM events GROUP BY 1 ORDER BY day"),

    // i13 applies the same deltas through transactional snapshot commits,
    // so the final snapshot equals the same batch aggregate
    "i13_stream_snapshot" ->
      ("SELECT CAST(ts AS DATE) AS day, count(*) AS n, " +
        s"round(${graft.Tables.dsumSql("value")}, 6) AS val_sum " +
        "FROM events GROUP BY 1 ORDER BY day"),

    // matching pins index v1, so the union of per-batch verdicts equals
    // g49's single-shot delta-vs-existing answer exactly — same SQL
    "i23_stream_index_dedup" ->
      ("WITH s AS (SELECT doc_id, substring(lower(text), 1, 40) AS blk, " +
        "list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1), " +
        "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh " +
        "FROM (SELECT doc_id, text, str_split(lower(text), ' ') AS toks FROM documents) " +
        "WHERE len(toks) >= 3), " +
        "d AS (SELECT * FROM s WHERE doc_id % 5 = 0), " +
        "e AS (SELECT * FROM s WHERE doc_id % 5 <> 0), " +
        "m AS (SELECT d.doc_id, count(*) AS n_matches, min(e.doc_id) AS first_match, " +
        "round(max(CAST(len(list_intersect(d.sh, e.sh)) AS DOUBLE) / len(list_distinct(d.sh || e.sh))), 6) AS best_jac " +
        "FROM d JOIN e ON d.blk = e.blk " +
        "WHERE CAST(len(list_intersect(d.sh, e.sh)) AS DOUBLE) / len(list_distinct(d.sh || e.sh)) >= 0.4 " +
        "GROUP BY d.doc_id) " +
        "SELECT d.doc_id, COALESCE(m.n_matches, 0) AS n_matches, m.first_match, m.best_jac " +
        "FROM d LEFT JOIN m USING (doc_id) ORDER BY doc_id"),

    // LWW with tombstones is chunking-independent: the final CDC state is
    // exactly "latest op per key, deletes hidden"
    "i20_stream_cdc_apply" ->
      ("WITH l AS (SELECT user_id, event_id, event_type, value, " +
        "CAST(ts AS TIMESTAMP) AS ts, " +
        "row_number() OVER (PARTITION BY user_id " +
        "ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn FROM events) " +
        "SELECT user_id, event_id AS last_event_id, ts, round(value, 6) AS value " +
        "FROM l WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id"),

    // i1/i2 ingest in ONE batch and report in complete mode, so the final
    // table IS the batch windowed aggregate — Spark's windows are epoch-
    // aligned, replayed here by integer µs floor
    "i1_stream_tumbling" ->
      ("SELECT make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // 300000000) " +
        "* 300000000) AS w_start, event_type, count(*) AS n " +
        "FROM events GROUP BY 1, 2 ORDER BY w_start, event_type"),

    // every instant lies in exactly two 10-min/5-min-slide windows
    "i2_stream_sliding" ->
      ("WITH e AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS eu, value FROM events), " +
        "x AS (SELECT u.ws AS ws, value FROM e, " +
        "UNNEST([(eu // 300000000) * 300000000, " +
        "(eu // 300000000) * 300000000 - 300000000]) AS u(ws) " +
        "WHERE eu >= u.ws AND eu < u.ws + 600000000) " +
        s"SELECT make_timestamp(ws) AS w_start, count(*) AS n, " +
        s"round(${graft.Tables.dsumSql("value")}, 6) AS val_sum " +
        "FROM x GROUP BY 1 ORDER BY w_start"),

    // i3 also ingests in one batch; the appended session set is every
    // 30-min-gap session (break at diff >= gap, session_window semantics)
    // whose end + gap clears the final watermark (max ts - 1 h delay)
    "i3_stream_session" ->
      ("WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events), " +
        "mx AS (SELECT max(ts) AS m FROM e), " +
        "l AS (SELECT user_id, ts, event_id, CASE WHEN lag(ts) OVER w IS NULL OR " +
        "epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000 THEN 1 ELSE 0 END AS brk " +
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "g AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM l), " +
        "sess AS (SELECT user_id, sid, min(ts) AS s_start, max(ts) AS s_end, " +
        "count(*) AS n FROM g GROUP BY 1, 2) " +
        "SELECT s_start, user_id, n FROM sess, mx " +
        "WHERE epoch_us(s_end) + 1800000000 <= epoch_us(m) - 3600000000 " +
        "ORDER BY s_start, user_id"),

    // the auto-rewritten i3b must emit EXACTLY i3's session set — same
    // oracle verbatim (the judge-grade contract of the rewrite)
    "i3b_stream_session_native" ->
      ("WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events), " +
        "mx AS (SELECT max(ts) AS m FROM e), " +
        "l AS (SELECT user_id, ts, event_id, CASE WHEN lag(ts) OVER w IS NULL OR " +
        "epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000 THEN 1 ELSE 0 END AS brk " +
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "g AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM l), " +
        "sess AS (SELECT user_id, sid, min(ts) AS s_start, max(ts) AS s_end, " +
        "count(*) AS n FROM g GROUP BY 1, 2) " +
        "SELECT s_start, user_id, n FROM sess, mx " +
        "WHERE epoch_us(s_end) + 1800000000 <= epoch_us(m) - 3600000000 " +
        "ORDER BY s_start, user_id"),

    // i4's KEPT set is watermark-determined because the chunking is: the
    // id-range chunks replay in SQL (chunk i = event_id ∈ [mx·i/4, mx·(i+1)/4)),
    // batch 1 = chunks 0–1 (initial watermark 0 ⇒ nothing late), batch 2 =
    // chunks 2–3 filtered against batch 1's watermark (rows whose HOUR
    // WINDOW already closed are dropped); emission is the usual append rule
    // (window end ≤ final watermark)
    "i4_stream_watermark_late" ->
      ("WITH e AS (SELECT event_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events), " +
        "ids AS (SELECT max(event_id) AS mx FROM e), " +
        "b1 AS (SELECT e.* FROM e, ids WHERE event_id < (mx * 2) // 4), " +
        "b2 AS (SELECT e.* FROM e, ids WHERE event_id >= (mx * 2) // 4), " +
        "wm1 AS (SELECT epoch_us(max(ts)) - 3600000000 AS w_us FROM b1), " +
        "kept AS (SELECT event_type, ts FROM b1 UNION ALL " +
        "SELECT b2.event_type, b2.ts FROM b2, wm1 " +
        "WHERE (epoch_us(b2.ts) // 3600000000) * 3600000000 + 3600000000 > w_us), " +
        "wmf AS (SELECT epoch_us(max(ts)) - 3600000000 AS w_us FROM e), " +
        "a AS (SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS ws, " +
        "event_type, count(*) AS n FROM kept GROUP BY 1, 2) " +
        "SELECT make_timestamp(ws) AS w_start, event_type, n FROM a, wmf " +
        "WHERE ws + 3600000000 <= w_us ORDER BY w_start, event_type"),

    // i5's injected duplicates collapse back to the unique event set; day
    // windows are emitted once the final watermark passes their end
    "i5_stream_dedup" ->
      ("WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts FROM events), " +
        "mx AS (SELECT max(ts) AS m FROM e), " +
        "d AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS w_start, " +
        "count(*) AS n FROM e GROUP BY 1) " +
        "SELECT w_start, n FROM d, mx " +
        "WHERE epoch_us(w_start) + 86400000000 <= epoch_us(m) - 3600000000 " +
        "ORDER BY w_start"),

    // single-batch stream-static inner join appends every matched row once
    "i7_stream_static_join" ->
      ("SELECT c_mktsegment, event_type, count(*) AS n " +
        "FROM events JOIN customer ON user_id = c_custkey " +
        "GROUP BY 1, 2 ORDER BY c_mktsegment, event_type"),

    // single-batch inner stream-stream join emits every qualifying pair —
    // the batch interval join replays it
    "i9_stream_stream_join" ->
      ("WITH c AS (SELECT user_id AS u, CAST(ts AS TIMESTAMP) AS c_ts FROM events " +
        "WHERE event_type = 'click'), " +
        "p AS (SELECT user_id AS u, CAST(ts AS TIMESTAMP) AS p_ts FROM events " +
        "WHERE event_type = 'purchase') " +
        "SELECT p.u AS p_user, count(*) AS n_pairs FROM p JOIN c ON p.u = c.u " +
        "AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR AND c.c_ts <= p.p_ts " +
        "GROUP BY 1 ORDER BY p_user"),

    // i17's emitted set is fully watermark-determined with single-batch
    // ingest (the i3/i5 argument): every MATCHED pair emits in batch 1, and
    // a purchase NULL-PADS iff it never matched and its join window closed —
    // state eviction at p_ts < global watermark, where the global watermark
    // is the MIN of the two streams' (ms-floored max ts − 1 h) — Spark's
    // default multiple-watermark policy
    "i17_stream_outer_join" ->
      ("WITH e AS (SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events), " +
        "c AS (SELECT event_id AS c_id, user_id AS c_user, ts AS c_ts FROM e WHERE event_type = 'click'), " +
        "p AS (SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts FROM e WHERE event_type = 'purchase'), " +
        "wm AS (SELECT least((SELECT epoch_us(max(c_ts)) // 1000 FROM c), " +
        "(SELECT epoch_us(max(p_ts)) // 1000 FROM p)) - 3600000 AS w_ms), " +
        "pp AS (SELECT p.p_id, p.p_user, p.p_ts, count(c.c_id) AS nm " +
        "FROM p LEFT JOIN c ON p.p_user = c.c_user " +
        "AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR AND c.c_ts <= p.p_ts " +
        "GROUP BY 1, 2, 3), " +
        "r AS (SELECT p_user, nm, CASE WHEN nm = 0 AND " +
        "epoch_us(p_ts) < (SELECT w_ms FROM wm) * 1000 THEN 1 ELSE 0 END AS pad FROM pp) " +
        "SELECT p_user, CAST(sum(nm) AS BIGINT) AS n_matched, " +
        "CAST(sum(pad) AS BIGINT) AS n_unmatched " +
        "FROM r WHERE nm > 0 OR pad = 1 GROUP BY 1 ORDER BY p_user"),

    // the bitmap OR is associative/commutative, so the final complete-mode
    // table equals the batch exact-distinct regardless of chunking
    "i19_stream_bitmap_distinct" ->
      ("SELECT event_type, count(DISTINCT user_id) AS exact_users, " +
        "count(*) AS n_events FROM events GROUP BY 1 ORDER BY event_type"),

    // i8's sink ledger replays from the deterministic id-range chunking:
    // one file per trigger → batch k IS chunk k
    "i8_stream_sink" ->
      ("WITH ids AS (SELECT max(event_id) AS mx FROM events), " +
        "c AS (SELECT CASE WHEN event_id < (mx * 1) // 4 THEN 0 " +
        "WHEN event_id < (mx * 2) // 4 THEN 1 " +
        "WHEN event_id < (mx * 3) // 4 THEN 2 ELSE 3 END AS batch_id " +
        "FROM events, ids) " +
        "SELECT batch_id, count(*) AS n FROM c GROUP BY 1 ORDER BY batch_id"),

    // i6's update-mode ledger replays too: the counter emits once per
    // (user, data batch), batches are the two id-range halves
    // (filesPerTrigger=2), transformWithState never drops input rows below
    // the watermark (the watermark only drives timers), so n_total is the
    // user's full event count and n_updates the halves it appears in
    "i6_stream_stateful" ->
      ("WITH ids AS (SELECT max(event_id) AS mx FROM events), " +
        "e AS (SELECT user_id, CASE WHEN event_id < (mx * 2) // 4 THEN 0 " +
        "ELSE 1 END AS b FROM events, ids) " +
        "SELECT user_id, count(*) AS n_total, count(DISTINCT b) AS n_updates " +
        "FROM e GROUP BY 1 ORDER BY user_id"),

    // i26's batch boundaries replay exactly: batch k = each partition's
    // offsets [p*k, p*(k+1)) with the size-derived per-partition cap
    // p = ceil(count/24), where offset = event_id rank within partition
    // user_id % 4
    "i26_stream_log_offsets" ->
      ("WITH c AS (SELECT count(*) AS cnt FROM events), " +
        "ev AS (SELECT value, " +
        "(row_number() OVER (PARTITION BY user_id % 4 ORDER BY event_id) - 1) " +
        "// ((cnt + 23) // 24) AS batch_id FROM events, c) " +
        "SELECT batch_id, count(*) AS n, " +
        s"round(${graft.Tables.dsumSql("value")}, 6) AS val_sum " +
        "FROM ev GROUP BY 1 ORDER BY batch_id"),

    // i27's union ledger replays exactly: run r = the event_id half, run
    // r's batch k = each partition's campaign-r rows ranked
    // [p*k, p*(k+1)) with the size-derived cap p = ceil(count/24) — the
    // admission split applied per campaign, since the restarted stream
    // resumes at each partition's campaign-1 end offset
    // the table feed replayed from the raw facts: campaign 1 drains the
    // seeded v1 (%30=0) + v2 (%30=1), campaign 2 resumes and emits
    // EXACTLY the v3 delta (%30=2) — losing the checkpoint would re-emit
    // c1 rows under c2 and hash-mismatch
    "i29_stream_table_feed" ->
      ("WITH c1 AS (SELECT o_orderkey, o_totalprice FROM orders " +
        "WHERE o_orderkey % 30 IN (0, 1)), " +
        "c2 AS (SELECT o_orderkey, o_totalprice FROM orders " +
        "WHERE o_orderkey % 30 = 2), " +
        "u AS (SELECT 'c1' AS campaign, * FROM c1 " +
        "UNION ALL SELECT 'c2', * FROM c2) " +
        "SELECT campaign, o_orderkey % 4 AS bucket, count(*) AS n, " +
        s"round(${graft.Tables.dsumSql("o_totalprice")}, 6) AS revenue " +
        "FROM u GROUP BY 1, 2 ORDER BY campaign, bucket"),

    // the change-feed ledger replays exactly: v1 = the %30=0 slice as
    // inserts, v2 = the %30=1 slice as inserts (campaign 1), v3 = the
    // rewrite's multiset diff — one delete at the old price and one insert
    // at +10.0 per 60-multiple (campaign 2); untouched rows emit nothing.
    // every order key is unique so each change shape has _n = 1
    "i30_stream_change_feed" ->
      ("WITH v1 AS (SELECT o_orderkey, o_totalprice FROM orders " +
        "WHERE o_orderkey % 30 = 0), " +
        "v2 AS (SELECT o_orderkey, o_totalprice FROM orders " +
        "WHERE o_orderkey % 30 = 1), " +
        "ch AS (SELECT o_orderkey, o_totalprice FROM orders " +
        "WHERE o_orderkey % 60 = 0), " +
        "feed AS (" +
        "SELECT 'c1' AS campaign, 1 AS commit_version, 'insert' AS change_type, " +
        "o_totalprice, 1 AS _n FROM v1 " +
        "UNION ALL SELECT 'c1', 2, 'insert', o_totalprice, 1 FROM v2 " +
        "UNION ALL SELECT 'c2', 3, 'delete', o_totalprice, 1 FROM ch " +
        "UNION ALL SELECT 'c2', 3, 'insert', o_totalprice + 10.0, 1 FROM ch) " +
        "SELECT campaign, CAST(commit_version AS BIGINT) AS commit_version, " +
        "change_type, count(*) AS n_shapes, CAST(sum(_n) AS BIGINT) AS n_rows, " +
        s"round(${graft.Tables.dsumSql("o_totalprice * _n")}, 6) AS revenue " +
        "FROM feed GROUP BY 1, 2, 3 " +
        "ORDER BY campaign, commit_version, change_type"),

    "i27_stream_log_resume" ->
      ("WITH ids AS (SELECT max(event_id) AS mx, count(*) AS cnt FROM events), " +
        "ev AS (SELECT value, " +
        "CASE WHEN event_id < mx // 2 THEN 1 ELSE 2 END AS run, " +
        "(row_number() OVER (PARTITION BY user_id % 4, " +
        "CASE WHEN event_id < mx // 2 THEN 1 ELSE 2 END " +
        "ORDER BY event_id) - 1) // ((cnt + 23) // 24) AS batch_seq FROM events, ids) " +
        "SELECT run, batch_seq, count(*) AS n, " +
        s"round(${graft.Tables.dsumSql("value")}, 6) AS val_sum " +
        "FROM ev GROUP BY 1, 2 ORDER BY run, batch_seq"),

    // i18's emitted set is chunking-independent: every maximal 30-min-gap
    // session whose end + gap ≤ the stream's final watermark (= max ts at
    // 0-second delay) — the batch sessionization with the tail sessions,
    // still open at end-of-stream, excluded.
    "i18_stream_timer_sessions" ->
      ("WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events), " +
        "mx AS (SELECT max(ts) AS m FROM e), " +
        "l AS (SELECT user_id, ts, event_id, CASE WHEN lag(ts) OVER w IS NULL OR " +
        "epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS brk " +
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "g AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM l), " +
        "sess AS (SELECT user_id, sid, min(ts) AS s_start, max(ts) AS s_end, " +
        "count(*) AS n_events FROM g GROUP BY user_id, sid) " +
        "SELECT user_id, s_start, s_end, n_events FROM sess, mx " +
        "WHERE epoch_us(s_end) + 1800000000 <= epoch_us(m) " +
        "ORDER BY user_id, s_start"),

    // the batch-bootstrap + suffix-stream union must equal the FULL-data
    // sessionization — i18's oracle verbatim: no session lost, split, or
    // double-emitted across the cutoff handoff
    "i22_stream_initial_state" ->
      ("WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events), " +
        "mx AS (SELECT max(ts) AS m FROM e), " +
        "l AS (SELECT user_id, ts, event_id, CASE WHEN lag(ts) OVER w IS NULL OR " +
        "epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS brk " +
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "g AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM l), " +
        "sess AS (SELECT user_id, sid, min(ts) AS s_start, max(ts) AS s_end, " +
        "count(*) AS n_events FROM g GROUP BY user_id, sid) " +
        "SELECT user_id, s_start, s_end, n_events FROM sess, mx " +
        "WHERE epoch_us(s_end) + 1800000000 <= epoch_us(m) " +
        "ORDER BY user_id, s_start")
  )
}
