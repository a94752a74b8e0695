package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{assert_true, col, count, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{Dag, Job}

/** J1–J4: DAG validation, ordering, retry, skip. */
class DagSpec extends AnyFunSuite {
  import TestSpark._

  private def noop(name: String, deps: String*) =
    Job(name, deps.toSeq, 0, (s, _) => Tables(s, sfDir).region)

  /** `body`'s result and the number of Spark jobs it launched. A listener
    * counts job starts between two one-task fence jobs: the listener bus is
    * asynchronous, but it delivers in order, so once the second fence's
    * start arrives every job `body` launched has been counted (the status
    * store lags the same way, and keeps only the last 1000 jobs). */
  private def jobsLaunched[T](body: => T): (Int, T) = {
    val sc = spark.sparkContext
    val fenceKey = "graft.dagspec.fence"
    val seen = new java.util.concurrent.atomic.AtomicInteger(0)
    val fences = new java.util.concurrent.LinkedBlockingQueue[String]()
    val counting = new java.util.concurrent.atomic.AtomicBoolean(false)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(fenceKey))) match {
          case Some(f) => counting.set(f == "open"); fences.put(f)
          case None => if (counting.get()) { seen.incrementAndGet(); () }
        }
    }
    def fence(f: String): Unit = {
      sc.setLocalProperty(fenceKey, f)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(fenceKey, null)
      assert(fences.poll(60, java.util.concurrent.TimeUnit.SECONDS) == f)
    }
    sc.addSparkListener(listener)
    try {
      fence("open")
      val r = body
      fence("close")
      (seen.get(), r)
    } finally sc.removeSparkListener(listener)
  }

  test("cycle detection rejects the DAG at construction") {
    val e = intercept[IllegalArgumentException] {
      new Dag(Seq(Job("a", Seq("b"), 0, (s, _) => null),
        Job("b", Seq("a"), 0, (s, _) => null))).topoOrder
    }
    assert(e.getMessage.contains("cycle"))
  }

  test("unknown dependency rejected") {
    intercept[IllegalArgumentException] {
      new Dag(Seq(Job("a", Seq("ghost"), 0, (s, _) => null)))
    }
  }

  test("topological order respects dependencies, alphabetical within a level") {
    val dag = new Dag(Seq(noop("z"), noop("a"), noop("mid", "z"), noop("end", "mid", "a")))
    assert(dag.topoOrder == Seq("a", "z", "mid", "end"))
  }

  test("independent branches complete, failure skips only its descendants") {
    val dag = new Dag(Seq(
      noop("ok_root"),
      Job("boom", Nil, 0, (_, _) => sys.error("boom")),
      noop("child_ok", "ok_root"),
      Job("child_boom", Seq("boom"), 0, (s, _) => Tables(s, sfDir).region),
      Job("grandchild_boom", Seq("child_boom"), 0, (s, _) => Tables(s, sfDir).region)
    ))
    val (_, runs) = dag.run(spark, parallelism = 3)
    val status = runs.map(r => r.name -> r.status).toMap
    assert(status("ok_root") == "ok" && status("child_ok") == "ok")
    assert(status("boom") == "failed")
    assert(status("child_boom") == "skipped" && status("grandchild_boom") == "skipped")
  }

  test("driver-local job output skips the cluster materialization but stays consumable") {
    // r21 optimization: a LocalRelation output (the version-fresh skip path
    // in j17-style inventory DAGs) must not launch a Spark job per node —
    // and must still flow to downstream jobs and the returned dfs map.
    val spark2 = spark
    import spark2.implicits._
    val (jobs, (dfsLocal, runsLocal)) = jobsLaunched(new Dag(Seq(
      Job("local", Nil, 0, (s, _) => Seq((1L, "fresh")).toDF("v", "tag"))
    )).run(spark, parallelism = 2))
    // the whole point: zero Spark jobs launched for a driver-held output
    assert(jobs == 0)
    assert(runsLocal.head.status == "ok" && runsLocal.head.inputs.isEmpty)
    assert(dfsLocal("local").count() == 1L) // output exists and is correct
    // and it still flows to a downstream job like any materialized output
    val (dfs, runs) = new Dag(Seq(
      Job("local", Nil, 0, (s, _) => Seq((1L, "fresh")).toDF("v", "tag")),
      Job("consumer", Seq("local"), 0, (_, deps) => deps("local").filter($"v" === 1L))
    )).run(spark, parallelism = 2)
    assert(runs.map(r => r.name -> r.status).toMap ==
      Map("local" -> "ok", "consumer" -> "ok"))
    assert(dfs("consumer").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("outputs that already exist (a fixture scan, its plain columns, committed files) launch no job and stay consumable") {
    val out = java.nio.file.Files.createTempDirectory("dagspec_scan").toString + "/nation"
    try {
      val t = Tables(spark, sfDir)
      t.nation.select(col("n_nationkey"), col("n_name")).write.parquet(out)
      // built before the count: a bare read.parquet infers its schema with
      // a job of its own, and the first read of a fixture resolves it once
      val written = spark.read.parquet(out)
      t.region; t.nation
      val (jobs, (dfs, runs)) = jobsLaunched(new Dag(Seq(
        Job("scan", Nil, 0, (s, _) => Tables(s, sfDir).region),
        Job("cols", Nil, 0, (s, _) =>
          Tables(s, sfDir).nation.select(col("n_name"), col("n_nationkey"))),
        Job("written", Nil, 0, (_, _) => written)
      )).run(spark, parallelism = 3))
      assert(jobs == 0, runs)
      val byName = runs.map(r => r.name -> r).toMap
      assert(runs.forall(_.status == "ok"), runs)
      assert(byName("scan").inputs == Seq("region.parquet"))
      assert(byName("cols").inputs == Seq("nation.parquet"))
      assert(byName("written").inputs.nonEmpty &&
        byName("written").inputs.forall(_.startsWith("part-")), byName("written"))
      // each one flows downstream like any materialized output
      val (dfs2, runs2) = new Dag(Seq(
        Job("scan", Nil, 0, (_, _) => dfs("scan")),
        Job("cols", Nil, 0, (_, _) => dfs("cols")),
        Job("written", Nil, 0, (_, _) => dfs("written")),
        Job("joined", Seq("scan", "cols", "written"), 0, (_, d) =>
          d("cols").join(d("written"), Seq("n_nationkey", "n_name"))
            .agg(count(lit(1)).as("n"))
            .crossJoin(d("scan").agg(count(lit(1)).as("regions"))))
      )).run(spark, parallelism = 2)
      assert(runs2.forall(_.status == "ok"), runs2)
      val row = dfs2("joined").head()
      assert(row.getLong(0) == 25L && row.getLong(1) == 5L)
    } finally Tables.rmrf(new java.io.File(out).getParent)
  }

  test("work still materializes: filters and aggregates launch a job; an execution-time failure fails its own node") {
    Tables(spark, sfDir).nation
    def jobsOf(df: org.apache.spark.sql.SparkSession => org.apache.spark.sql.DataFrame) = {
      val (jobs, (_, runs)) = jobsLaunched(new Dag(Seq(Job("work", Nil, 0,
        (s, _) => df(s)))).run(spark))
      assert(runs.head.status == "ok", runs)
      jobs
    }
    assert(jobsOf(s => Tables(s, sfDir).nation.filter(col("n_regionkey") === 1)) >= 1)
    assert(jobsOf(s => Tables(s, sfDir).nation.groupBy(col("n_regionkey")).count()) >= 1)
    // the frame builds fine; only running it fails, so only count() sees
    // it (a filter: count() would prune a failing select column unread)
    val (_, runs) = new Dag(Seq(
      Job("bad", Nil, 1, (s, _) =>
        Tables(s, sfDir).region.filter(assert_true(lit(false)).isNull)),
      Job("child", Seq("bad"), 0, (s, d) => d("bad"))
    )).run(spark)
    val byName = runs.map(r => r.name -> r).toMap
    assert(byName("bad").status == "failed" && byName("bad").attempts == 2, byName("bad"))
    assert(byName("child").status == "skipped", byName("child"))
  }

  test("j5 launches 5 Spark jobs per evaluation; its read-back schema is the inferred one") {
    val t = Tables(spark, sfDir)
    t.customer // the fixture's one-time resolution is not j5's work
    val (jobs, df) = jobsLaunched(SparkEntry.queries("j5_dag_incremental")(spark, sfDir))
    assert(jobs == 5)
    assert(df.collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSeq ==
      Seq(("load_customer", 1, 0), ("nation_counts", 1, 0), ("segment_counts", 1, 0)))
    // the column types j5 writes: long and int keys, a string, a count
    val dims = t.customer.select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))
    val base = java.nio.file.Files.createTempDirectory("dagspec_j5").toString
    try Seq(dims, dims.groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n")),
        dims.groupBy(col("c_nationkey")).agg(count(lit(1)).as("n"))).zipWithIndex.foreach {
      case (body, i) =>
        val p = s"$base/$i"
        body.coalesce(1).write.parquet(p)
        assert(spark.read.schema(body.schema).parquet(p).schema == spark.read.parquet(p).schema)
    } finally Tables.rmrf(base)
  }

  test("retry succeeds after transient failures and records attempts") {
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val dag = new Dag(Seq(Job("flaky", Nil, 3, (s, _) => {
      if (counter.incrementAndGet() < 3) sys.error("transient")
      Tables(s, sfDir).region
    })))
    val (_, runs) = dag.run(spark)
    assert(runs.head.status == "ok" && runs.head.attempts == 3)
  }

  test("dynamic mapping: runtime items expand, a failing item retries, reduce skips on exhaustion") {
    val spark2 = spark
    import spark2.implicits._
    // expansion count comes from the DATA (here: 3 runtime items)
    val hits = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val (out, runs) = Dag.runMapped(spark,
      prelude = Seq(Job("disc", Nil, 0, (_, _) =>
        Seq("a", "b", "c").toDF("item"))),
      discover = dfs => dfs("disc").collect().map(_.getString(0)).toSeq,
      mapName = "work",
      runOne = (_, _, it) => { hits.put(it, 1); Seq(it).toDF("item") },
      reduce = (_, parts) => parts.map(_._2).reduce(_ unionByName _))
    assert(out.isDefined && out.get.count() == 3L)
    assert(hits.size == 3)
    val byName = runs.map(r => r.name -> r).toMap
    assert(Seq("work[a]", "work[b]", "work[c]", "work_reduce")
      .forall(n => byName(n).status == "ok"), runs)

    // a mapped item exhausting its retries skips ONLY the reduce; sibling
    // items still complete — the per-task isolation mapping promises
    val (out2, runs2) = Dag.runMapped(spark,
      prelude = Seq(Job("disc", Nil, 0, (_, _) => Seq("x", "y").toDF("item"))),
      discover = dfs => dfs("disc").collect().map(_.getString(0)).toSeq,
      mapName = "w2",
      runOne = (_, _, it) =>
        if (it == "x") sys.error("poisoned item") else Seq(it).toDF("item"),
      reduce = (_, parts) => parts.map(_._2).reduce(_ unionByName _),
      retries = 1)
    assert(out2.isEmpty)
    val by2 = runs2.map(r => r.name -> r).toMap
    assert(by2("w2[x]").status == "failed" && by2("w2[x]").attempts == 2)
    assert(by2("w2[y]").status == "ok")
    assert(by2("w2_reduce").status == "skipped")

    // a failed prelude returns no reduce and never expands
    val (out3, runs3) = Dag.runMapped(spark,
      prelude = Seq(Job("disc", Nil, 0, (_, _) => sys.error("no source"))),
      discover = dfs => dfs("disc").collect().map(_.getString(0)).toSeq,
      mapName = "w3",
      runOne = (_, _, it) => Seq(it).toDF("item"),
      reduce = (_, parts) => parts.map(_._2).reduce(_ unionByName _))
    assert(out3.isEmpty && runs3.map(_.name) == Seq("disc"))

    // ZERO discovered items: the mapped stage skips cleanly instead of
    // feeding the caller's reduce an empty list it would crash on
    val (out4, runs4) = Dag.runMapped(spark,
      prelude = Seq(Job("disc", Nil, 0, (_, _) =>
        Seq.empty[String].toDF("item"))),
      discover = dfs => dfs("disc").collect().map(_.getString(0)).toSeq,
      mapName = "w4",
      runOne = (_, _, it) => Seq(it).toDF("item"),
      reduce = (_, parts) => parts.map(_._2).reduce(_ unionByName _))
    assert(out4.isEmpty)
    val red4 = runs4.find(_.name == "w4_reduce").get
    assert(red4.status == "skipped" &&
      red4.error.contains("no items discovered"), runs4)
  }

  test("one_failed fires on a FAILED dep only — a merely-skipped dep must not cascade cleanups") {
    val dag = new Dag(Seq(
      noop("a"),
      Job("b", Seq("a"), 0, (s, _) => Tables(s, sfDir).region,
        trigger = "one_failed"), // a succeeded → b skips
      Job("c", Seq("b"), 0, (s, _) => Tables(s, sfDir).region,
        trigger = "one_failed"), // b SKIPPED, nothing failed → c must skip
      Job("d", Seq("b"), 0, (s, _) => Tables(s, sfDir).region,
        trigger = "all_done") // runs regardless
    ))
    val (_, runs) = dag.run(spark, parallelism = 2)
    val byName = runs.map(r => r.name -> r).toMap
    assert(byName("b").status == "skipped" &&
      byName("b").error.contains("no upstream failure"))
    assert(byName("c").status == "skipped" &&
      byName("c").error.contains("no upstream failure"),
      s"one_failed over-fired on a skipped (not failed) dep: ${byName("c")}")
    assert(byName("d").status == "ok")
  }

  test("lineage records the scanned fixture files") {
    val dag = new Dag(Seq(noop("scan_region")))
    val (_, runs) = dag.run(spark)
    assert(runs.head.inputs == Seq("region.parquet"))
  }
}
