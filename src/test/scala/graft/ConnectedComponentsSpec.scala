package graft

import org.scalatest.funsuite.AnyFunSuite

/** graft.plans.ConnectedComponents — pointer-doubled min-label propagation
  * (the g24 group-resolution operator). The path-graph test is the shape
  * plain hash-min could NOT handle inside its old 25-round bound (a 100-node
  * path needs 99 propagation rounds without doubling).
  */
class ConnectedComponentsSpec extends AnyFunSuite {
  import TestSpark._

  /** Spark jobs scheduled while `body` runs. */
  private def countJobs(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      // listener bus is async — wait for the count to go stationary
      var prev = -1
      var waited = 0
      while (jobs.get() != prev && waited < 5000) {
        prev = jobs.get(); Thread.sleep(200); waited += 200
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }

  test("100-node path graph converges to the single min label") {
    val s = spark
    import s.implicits._
    val edges = (1L until 100L).map(i => (i, i + 1)).toDF("u", "v")
    val labels = graft.plans.ConnectedComponents.labels(edges)
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 100)
    assert(got.map(_._1).sorted.toSeq == (1L to 100L).toSeq)
    assert(got.forall(_._2 == 1L), got.filterNot(_._2 == 1L).take(5).toSeq.toString)
  }

  test("random graph labels equal brute-force union-find") {
    val rnd = new scala.util.Random(13)
    val n = 300
    val es = Seq.fill(260)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2).distinct
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    es.foreach { case (u, v) =>
      val ru = find(u.toInt); val rv = find(v.toInt)
      if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
    }
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
    val expected = nodes.groupBy(id => find(id.toInt)).values
      .flatMap { ids => val m = ids.min; ids.map(id => (id, m)) }.toSet
    val s = spark
    import s.implicits._
    val got = graft.plans.ConnectedComponents.labels(es.toDF("u", "v"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
  }

  test("folded convergence check schedules fewer jobs than the eager shape") {
    // The convergence signature's head() must BE the action that
    // materializes the round's lazy localCheckpoint — one ACTION per round
    // instead of two. Under AQE each action still fans into several
    // stage-jobs, so the clean measurement is an A/B on the same graph:
    // the folded (default) shape must schedule strictly fewer jobs than
    // the eagerCheckpoint=true shape it replaced.
    val s = spark
    import s.implicits._
    val edges = (1L until 100L).map(i => (i, i + 1)).toDF("u", "v")
    val eager = countJobs {
      graft.plans.ConnectedComponents.labels(edges, eagerCheckpoint = true)
    }
    val folded = countJobs {
      graft.plans.ConnectedComponents.labels(edges)
    }
    // ~8 doubled rounds on a 100-node path → at least a handful fewer jobs
    assert(folded < eager, s"folded=$folded eager=$eager")
  }

  test("two disjoint cliques resolve to their own minima") {
    val s = spark
    import s.implicits._
    val clique = (lo: Long) => for {
      a <- lo until (lo + 5); b <- (a + 1) until (lo + 5)
    } yield (a, b)
    val edges = (clique(10L) ++ clique(40L)).toDF("u", "v")
    val got = graft.plans.ConnectedComponents.labels(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = ((10L until 15L).map(i => (i, 10L)) ++
      (40L until 45L).map(i => (i, 40L))).toSet
    assert(got == expected)
  }

  test("labels() scopes AQE off on a clone: the caller's conf and a concurrent probe stay adaptive") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val key = "spark.sql.adaptive.enabled"
    assert(s.conf.get(key) == "true")
    val edges = (1L until 100L).map(i => (i, i + 1)).toDF("u", "v")
    // the AQE-off loop's job count on this graph, measured with labels()
    // scoping the caller's own conf (the shape it had before the clone)
    assert(countJobs(graft.plans.ConnectedComponents.labels(edges)) == 14)
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    @volatile var failure: Throwable = null
    val runner = new Thread(() =>
      try graft.plans.ConnectedComponents.labels(edges).collect()
      catch { case e: Throwable => failure = e }
      finally done.set(true))
    runner.start()
    val reads = scala.collection.mutable.ArrayBuffer[String]()
    var probes = 0
    var adaptive = 0
    while (!done.get()) {
      reads += s.conf.get(key)
      val probe = s.range(1000).groupBy((col("id") % 7).as("k")).count()
      probe.queryExecution.executedPlan match {
        case _: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => adaptive += 1
        case _ =>
      }
      probes += 1
    }
    runner.join()
    assert(failure == null, String.valueOf(failure))
    assert(probes > 0)
    assert(reads.forall(_ == "true"), s"caller's conf flipped: ${reads.distinct}")
    assert(adaptive == probes, s"$adaptive of $probes concurrent probes planned adaptively")
    assert(s.conf.get(key) == "true")
  }
}
