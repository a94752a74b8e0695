package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scratch profiler / plan auditor / stress runner (not part of the driver
  * contract). `PROF_MODE=stress` runs the 10M-row warehouse-band stress;
  * otherwise dumps executed-plan skeletons for `PROF_QUERIES`. */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[NoForkLocalFileSystem].getName)
      .withExtensions(new GraftExtensions) // the SQL DML surface
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time(name: String)(f: => Long): Unit = (1 to 2).foreach { i =>
      val t0 = System.nanoTime()
      val n = f
      println(f"$name%-34s pass$i ${(System.nanoTime() - t0) / 1e9}%7.2f s  rows=$n")
    }

    if (sys.env.get("PROF_MODE").contains("stress")) {
      val n = 10L * 1000 * 1000
      val base = spark.range(n).select(col("id").as("k"),
        (col("id") % 997).cast("double").as("bal"))
      // 20% of keys updated, half of those to a NEW value
      val updates = spark.range(n / 5).select((col("id") * 5).as("k"),
        when(col("id") % 2 === 0, (col("id") * 5 % 997) + 1.0)
          .otherwise((col("id") * 5 % 997).cast("double")).as("bal"),
        lit("1997-05-01 00:00:00").cast("timestamp").as("eff"))
      time("scd2 10M base / 2M updates") {
        graft.operators.Scd2.merge(base, updates, "k", Seq("bal"), "eff",
          lit("1992-01-01 00:00:00").cast("timestamp"),
          lit("9999-12-31 00:00:00").cast("timestamp")).count()
      }
      val a = spark.range(n).filter(col("id") % 7 =!= 0)
        .select(col("id").as("ak"), (col("id") % 97).as("av"))
      val b = spark.range(n).filter(col("id") % 5 =!= 0)
        .select(col("id").as("bk"),
          when(col("id") % 3 === 0, lit(-1L)).otherwise(col("id") % 97).as("bv"))
      time("snapshot diff 10M full outer") {
        a.join(b, col("ak") === col("bk"), "full_outer")
          .select(when(col("ak").isNull, "added").when(col("bk").isNull, "removed")
            .when(col("av") =!= col("bv"), "changed").otherwise("unchanged").as("kind"))
          .groupBy("kind").count().count()
      }
      val zdir = s"${System.getProperty("java.io.tmpdir")}/graft_stress_zm"
      graft.sources.ZoneMap.writeClustered(
        spark.range(n).select(col("id").as("k"), (col("id") % 1000).as("v")),
        zdir, "k", nFiles = 32)
      val kept = graft.sources.ZoneMap.prunedFiles(spark, zdir, "k",
        lit(1000000L), lit(1500000L))
      println(s"zone map: kept ${kept.size}/32 files for a 5% key range")
      time("zone map pruned scan 10M") {
        graft.sources.ZoneMap.prunedRead(spark, zdir, "k",
          lit(1000000L), lit(1500000L)).count()
      }
      time("full scan + filter 10M") {
        spark.read.parquet(zdir)
          .filter(col("k") >= 1000000L && col("k") <= 1500000L).count()
      }
    } else if (sys.env.get("PROF_MODE").contains("keyedcdc")) {
      // SCALING evidence for m43: on a range-clustered keyed table, an
      // UPDATE touching a FIXED key band rewrites a bounded file set, so
      // the keyed change feed's cost must stay ~FLAT as the table grows
      // 10x (it reads only the exchanged files — never O(v1+v2)).
      import graft.sources.SnapshotTable
      Seq(("10M", 10L * 1000 * 1000), ("100M", 100L * 1000 * 1000)).foreach {
        case (tag, n) =>
          val root =
            s"${System.getProperty("java.io.tmpdir")}/graft_prof_kcdc_$tag/t"
          Tables.rmrf(s"${System.getProperty("java.io.tmpdir")}/graft_prof_kcdc_$tag")
          val t0 = System.nanoTime()
          SnapshotTable.commit(
            spark.range(n).select(col("id").as("k"), (col("id") % 997).cast("double").as("v"))
              .repartitionByRange(64, col("k")).sortWithinPartitions("k"),
            root)
          SnapshotTable.declareKey(spark, root, Seq("k"))
          println(f"$tag build+declare ${(System.nanoTime() - t0) / 1e9}%7.2f s")
          graft.plans.GraftDmlRegistry.registerSnapshot(s"kcdc_$tag", root)
          val t1 = System.nanoTime()
          spark.sql(s"UPDATE kcdc_$tag SET v = v + 1 " +
            "WHERE k >= 1000000 AND k < 1010000") // FIXED 10k-key band
          println(f"$tag update(10k keys) ${(System.nanoTime() - t1) / 1e9}%7.2f s")
          val t2 = System.nanoTime()
          val feed = SnapshotTable.keyedChangesBetween(spark, root, 1, 2)
          val rows = feed.count()
          println(f"$tag keyed feed ${(System.nanoTime() - t2) / 1e9}%7.2f s " +
            s"rows=$rows inputFiles=${feed.inputFiles.length}")
          graft.plans.GraftDmlRegistry.unregister(s"kcdc_$tag")
      }
    } else if (sys.env.get("PROF_MODE").contains("stream")) {
      // i-band fixed-cost attribution (guide §1.1 measure first, §7.3): a
      // StreamingQueryListener captures every micro-batch's durationMs
      // breakdown (triggerExecution = addBatch + latestOffset + planning +
      // WAL commits...), plus query start/termination wall timestamps, so a
      // query's wall time splits into: pre-stream setup (fixture staging,
      // batch prep), in-stream time (itself split by phase), and post-stream
      // consumption (result count / teardown).
      val events = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, String)]()
      val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit =
          events.add(("start", System.nanoTime(), e.id.toString))
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          val p = e.progress
          val dm = p.durationMs
          val keys = dm.keySet().toArray(Array.empty[String]).sorted
          val detail = keys.map(k => s"$k=${dm.get(k)}").mkString(",")
          val st = p.stateOperators.map(o =>
            s"op=${o.operatorName}:commitMs=${o.commitTimeMs}").mkString(";")
          events.add(("progress", System.nanoTime(),
            s"batch=${p.batchId} rows=${p.numInputRows} $detail $st"))
        }
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
          events.add(("end", System.nanoTime(), e.id.toString))
      }
      spark.streams.addListener(listener)
      val names = sys.env.getOrElse("PROF_QUERIES",
        "i1_stream_tumbling,i7_stream_static_join").split(",").map(_.trim)
      names.foreach { q =>
        (1 to 2).foreach { pass =>
          events.clear()
          val t0 = System.nanoTime()
          val n = SparkEntry.queries(q)(spark, sfDir).count()
          val t1 = System.nanoTime()
          println(f"========== $q pass$pass total ${(t1 - t0) / 1e9}%6.3f s rows=$n ==========")
          val evs = events.toArray(Array.empty[(String, Long, String)])
          evs.foreach { case (kind, ts, detail) =>
            println(f"  +${(ts - t0) / 1e9}%6.3f s $kind%-8s $detail")
          }
          val starts = evs.filter(_._1 == "start").map(_._2)
          val ends = evs.filter(_._1 == "end").map(_._2)
          if (starts.nonEmpty && ends.nonEmpty)
            println(f"  pre-stream ${(starts.min - t0) / 1e9}%6.3f s | in-stream ${(ends.max - starts.min) / 1e9}%6.3f s | post-stream ${(t1 - ends.max) / 1e9}%6.3f s")
        }
      }
      spark.streams.removeListener(listener)
    } else if (sys.env.get("PROF_MODE").contains("streamx")) {
      // controlled A/B isolation of the i-band fixed costs (guide §1.1):
      // time i1's pipeline under variants that differ in ONE factor each,
      // plus a checkpoint-manager I/O microbench.
      import org.apache.spark.sql.streaming.{OutputMode, Trigger}
      val dir = sfDir
      // same chunked source the i-band uses
      val src = graft.operators.StreamingQueries.eventsById(spark, dir)
      val chunkSchema =
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING"
      def agg(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      def run(tag: String, parts: Int, sink: String): Unit = (1 to 3).foreach { p =>
        val t0 = System.nanoTime()
        Tables.withConf(spark, "spark.sql.shuffle.partitions" -> parts.toString) { c =>
          val qn = s"px_${tag}_$p${System.nanoTime()}"
          val ckpt = s"/dev/shm/graft_px/$qn"
          val q = agg(c.readStream.schema(chunkSchema).parquet(src))
          val sq = sink match {
            case "memory" =>
              q.writeStream.format("memory").queryName(qn).outputMode("complete")
                .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow()).start()
            case "noop" =>
              q.writeStream.outputMode(OutputMode.Complete())
                .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) =>
                  { df.write.format("noop").mode("overwrite").save() })
                .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow()).start()
          }
          sq.awaitTermination()
        }
        println(f"streamx $tag%-28s pass$p ${(System.nanoTime() - t0) / 1e9}%6.3f s")
      }
      // batch floor: identical agg over the same files, batch engine
      (1 to 3).foreach { p =>
        val t0 = System.nanoTime()
        agg(spark.read.schema(chunkSchema).parquet(src)).write.format("noop").mode("overwrite").save()
        println(f"streamx batch-floor-noop         pass$p ${(System.nanoTime() - t0) / 1e9}%6.3f s")
      }
      if (!sys.env.contains("PROF_SKIP_VARIANTS")) {
      run("mem_4part", 4, "memory")
      run("mem_1part", 1, "memory")
      run("mem_32part", 32, "memory")
      run("noop_4part", 4, "noop")
      }
      // i3-shaped session-window A/B over state partition counts: the
      // no-data flush batch re-reads/sorts/merges ALL session state, so its
      // cost may scale down with parallelism at 95k sessions
      def runSess(tag: String, parts: Int): Unit = (1 to 3).foreach { p =>
        val t0 = System.nanoTime()
        val rows = Tables.withConf(spark, "spark.sql.shuffle.partitions" -> parts.toString) { c =>
          val qn = s"pxs_${tag}_$p${System.nanoTime()}"
          val ckpt = s"/dev/shm/graft_px/$qn"
          val q = c.readStream.schema(chunkSchema).parquet(src)
            .withWatermark("ts", "1 hour")
            .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
            .agg(count(lit(1)).as("n"))
          val sq = q.writeStream.format("memory").queryName(qn).outputMode("append")
            .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow()).start()
          sq.awaitTermination()
          c.table(qn).count()
        }
        println(f"streamx $tag%-28s pass$p ${(System.nanoTime() - t0) / 1e9}%6.3f s rows=$rows")
      }
      if (!sys.env.contains("PROF_SKIP_VARIANTS")) {
      runSess("sess_2part", 2)
      runSess("sess_8part", 8)
      runSess("sess_32part", 32)
      }
      // checkpoint-manager I/O microbench: atomic metadata writes on tmpfs
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get("/dev/shm/graft_px_cm"))
      import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
      val hc = spark.sessionState.newHadoopConf()
      val root = new org.apache.hadoop.fs.Path("/dev/shm/graft_px_cm")
      def benchCm(tag: String, cm: CheckpointFileManager): Unit = (1 to 3).foreach { p =>
        val t0 = System.nanoTime()
        (0 until 20).foreach { i =>
          val out = cm.createAtomic(
            new org.apache.hadoop.fs.Path(s"/dev/shm/graft_px_cm/${tag}_f_${p}_$i"),
            overwriteIfPossible = true)
          out.write(("x" * 500).getBytes("UTF-8")); out.close()
        }
        println(f"streamx 20 writes $tag%-16s pass$p ${(System.nanoTime() - t0) / 1e9}%6.3f s")
      }
      benchCm("filecontext", new FileContextBasedCheckpointFileManager(root, hc))
      benchCm("filesystem", new FileSystemBasedCheckpointFileManager(root, hc))
      (1 to 3).foreach { p =>
        val t0 = System.nanoTime()
        (0 until 20).foreach { i =>
          val tmp = java.nio.file.Paths.get(s"/dev/shm/graft_px_cm/nio_${p}_$i.tmp")
          java.nio.file.Files.write(tmp, ("x" * 500).getBytes("UTF-8"))
          java.nio.file.Files.move(tmp, java.nio.file.Paths.get(s"/dev/shm/graft_px_cm/nio_${p}_$i"),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        }
        println(f"streamx 20 writes raw-nio          pass$p ${(System.nanoTime() - t0) / 1e9}%6.3f s")
      }
    } else if (sys.env.get("PROF_MODE").contains("cc")) {
      // ConnectedComponents fixed-cost attribution: rounds × actions × jobs
      // on the metadata-scale fixture pair graph (guide §1.1).
      import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      })
      val edges = spark.range(0, 50).select((col("id") * 2).as("u"), (col("id") * 2 + 1).as("v"))
        .union(spark.range(0, 10).select((col("id") * 4).as("u"), (col("id") * 4 + 2).as("v")))
        .localCheckpoint()
      (1 to 3).foreach { p =>
        jobs.set(0)
        val t0 = System.nanoTime()
        val n = graft.plans.ConnectedComponents.labels(edges).count()
        println(f"cc labels synthetic pass$p ${(System.nanoTime() - t0) / 1e9}%6.3f s rows=$n jobs=${jobs.get()}")
      }
      // the real g24 edge set
      val t = Tables(spark, sfDir)
      val real = SparkEntry.queries("g24_dedup_components")
      (1 to 3).foreach { p =>
        jobs.set(0)
        val t0 = System.nanoTime()
        val n = real(spark, sfDir).count()
        println(f"cc g24 full pass$p ${(System.nanoTime() - t0) / 1e9}%6.3f s rows=$n jobs=${jobs.get()}")
      }
    } else if (sys.env.get("PROF_MODE").contains("m45")) {
      // statement-level cost attribution for the keyed evolving-changes
      // lifecycle (guide §1.1): which of the 6 DML statements + the feed
      // query owns m45's ~2.2 s.
      import graft.plans.GraftDmlRegistry
      val t = Tables(spark, sfDir)
      val key = Tables.pathKey(sfDir)
      (1 to 2).foreach { pass =>
        val root = s"${System.getProperty("java.io.tmpdir")}/graft_prof_m45_$pass"
        Tables.rmrf(root)
        val name = s"m45prof_$pass"
        GraftDmlRegistry.unregister(name)
        t.orders.select(col("o_orderkey"), col("o_totalprice"))
          .createOrReplaceTempView("m45p_src")
        def step(tag: String)(sql: String): Unit = {
          val t0 = System.nanoTime()
          spark.sql(sql).collect()
          println(f"m45 $tag%-12s pass$pass ${(System.nanoTime() - t0) / 1e9}%6.3f s")
        }
        step("create")(s"CREATE SNAPSHOT TABLE $name LOCATION '$root' AS " +
          "SELECT * FROM m45p_src WHERE o_orderkey % 30 = 0")
        step("setkey")(s"ALTER TABLE $name SET KEY (o_orderkey)")
        step("insert1")(s"INSERT INTO $name SELECT * FROM m45p_src WHERE o_orderkey % 30 = 1")
        step("alter")(s"ALTER TABLE $name ADD COLUMN note string")
        step("insert2")(s"INSERT INTO $name SELECT o_orderkey, o_totalprice, 'new' " +
          "FROM m45p_src WHERE o_orderkey % 30 = 2")
        step("update")(s"UPDATE $name SET o_totalprice = o_totalprice + 1.0 " +
          "WHERE o_orderkey % 60 = 30")
        step("feed")(s"SELECT _change_type AS change_type, " +
          "coalesce(note, 'none') AS tag, count(*) AS n_rows, " +
          "CAST(floor(sum(CAST(o_totalprice AS DECIMAL(27,6)))) AS BIGINT) " +
          s"AS revenue FROM $name CHANGES BETWEEN 1 AND 5 " +
          "GROUP BY 1, 2 ORDER BY change_type, tag")
        GraftDmlRegistry.unregister(name)
      }
    } else if (sys.env.get("PROF_MODE").contains("plans")) {
      // .explain("formatted") dumps for the optimization-round evidence
      // (plans/r21/<query>_<tag>.txt): execute first (count), THEN print, so
      // AQE's final plan (isFinalPlan=true) is what lands in the file.
      val outDir = sys.env.getOrElse("PROF_OUT", "plans/r21")
      val tag = sys.env.getOrElse("PROF_TAG", "before")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
      val names = sys.env.getOrElse("PROF_QUERIES", "d1_agg_hash").split(",")
      names.map(_.trim).filter(_.nonEmpty).foreach { q =>
        val df = SparkEntry.queries(q)(spark, sfDir)
        df.count()
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${q}_$tag.txt"),
          txt.getBytes("UTF-8"))
        println(s"wrote $outDir/${q}_$tag.txt (${txt.length} chars)")
      }
    } else {
      val names = sys.env.getOrElse("PROF_QUERIES", "m1_scd2_merge").split(",")
      names.foreach { q =>
        println(s"========== $q ==========")
        val df = SparkEntry.queries(q.trim)(spark, sfDir)
        df.count()
        println(df.queryExecution.executedPlan.toString.linesIterator
          .filter(l => l.contains("Exchange") || l.contains("Join") || l.contains("Scan") ||
            l.contains("Window") || l.contains("Sort") || l.contains("Aggregate"))
          .map(_.take(160)).mkString("\n"))
      }
    }
    spark.stop()
  }
}
