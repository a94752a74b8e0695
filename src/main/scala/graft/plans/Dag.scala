package graft.plans

import java.util.concurrent.{ConcurrentHashMap, Executors}

import scala.collection.mutable
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** SURVEY §2 J — the orchestration component (the reference's nominal
  * domain): declare Spark jobs + dependencies as a typed DAG, execute
  * topologically with independent branches in parallel, per-job retry with
  * backoff, downstream skip on failure, and input-lineage capture.
  *
  * One shared SparkSession serves all jobs — Spark's scheduler interleaves
  * their stages; the DAG layer only sequences logical dependencies. At
  * cluster scale this is exactly how a driver-side orchestrator should look:
  * job bodies are lazy DataFrame builders, materialization happens once per
  * job, and nothing is collected to the driver.
  */
/** `trigger` is the Airflow-style TRIGGER RULE deciding whether the job
  * runs once every dependency has settled:
  *  - `all_success` (default): run iff every dep produced output; any
  *    upstream failure skips this job (and transitively its descendants).
  *  - `all_done`: run once all deps settled REGARDLESS of their status —
  *    the "always publish the audit report" shape; the dep map carries
  *    only the successful deps' outputs.
  *  - `one_failed`: run iff at least one dep failed/skipped — the cleanup/
  *    alerting shape; skipped (reason `no upstream failure`) otherwise.
  */
final case class Job(
    name: String,
    deps: Seq[String] = Nil,
    retries: Int = 0,
    run: (SparkSession, Map[String, DataFrame]) => DataFrame,
    trigger: String = "all_success") {
  require(Seq("all_success", "all_done", "one_failed").contains(trigger),
    s"job $name: unknown trigger rule '$trigger'")
}

final case class JobRun(
    name: String,
    status: String, // ok | failed | skipped
    attempts: Int,
    inputs: Seq[String], // distinct basenames of scanned files
    error: Option[String])

object Dag {

  /** A job output that already exists, so [[Dag.run]] records it without a
    * `count()`: rows held by the driver (`LocalRelation`), or a scan of
    * committed files (`LogicalRelation` over a `HadoopFsRelation`), bare or
    * under a projection of plain columns. Nothing in such a plan can fail
    * at execution except reading the files themselves. A filter, a join or
    * a computed column is work, and still materializes. */
  private def outputExists(df: DataFrame): Boolean = {
    def fileScan(p: LogicalPlan) = p match {
      case r: LogicalRelation => r.relation.isInstanceOf[HadoopFsRelation]
      case _ => false
    }
    df.queryExecution.optimizedPlan match {
      case _: LocalRelation => true
      case Project(cols, child) =>
        cols.forall(_.isInstanceOf[AttributeReference]) && fileScan(child)
      case p => fileScan(p)
    }
  }

  /** DYNAMIC TASK MAPPING (Airflow 2.3's `expand()`): the task COUNT is
    * runtime data, not DAG-authoring data. Stage 1 runs `prelude` as an
    * ordinary [[Dag]]; `discover` then derives the item list from its
    * outputs (driver-side and METADATA-scale by contract — a list of
    * partitions/languages/files, never data rows); stage 2 is a second
    * [[Dag]] with one `mapName[item]` job per discovered item plus a
    * `reduce` job depending on all of them. Both stages share the retry /
    * downstream-skip / parallelism machinery, so a failing mapped task
    * retries like any job and only the reduce is skipped on exhaustion.
    * Returns the reduce output (None if it failed/skipped) and the
    * CONCATENATED ledger of both stages. */
  def runMapped(spark: SparkSession, prelude: Seq[Job],
      discover: Map[String, DataFrame] => Seq[String], mapName: String,
      runOne: (SparkSession, Map[String, DataFrame], String) => DataFrame,
      reduce: (SparkSession, Seq[(String, DataFrame)]) => DataFrame,
      parallelism: Int = 4, retries: Int = 0)
      : (Option[DataFrame], Seq[JobRun]) = {
    val (dfs1, runs1) = new Dag(prelude).run(spark, parallelism)
    if (prelude.exists(j => !dfs1.contains(j.name)))
      return (None, runs1) // discovery inputs failed — nothing to expand
    val items = discover(dfs1).distinct.sorted
    if (items.isEmpty)
      // zero discovered items: skip the whole mapped stage cleanly (the
      // Airflow expand() convention) instead of handing `reduce` an empty
      // list every caller would crash on
      return (None, runs1 :+ JobRun(s"${mapName}_reduce", "skipped", 0, Nil,
        Some("no items discovered")))
    val mapped = items.map { it =>
      Job(s"$mapName[$it]", Nil, retries, (sp, _) => runOne(sp, dfs1, it))
    }
    val reduceJob = Job(s"${mapName}_reduce", mapped.map(_.name), 0,
      (sp, deps) => reduce(sp,
        items.map(it => it -> deps(s"$mapName[$it]"))))
    val (dfs2, runs2) = new Dag(mapped :+ reduceJob).run(spark, parallelism)
    (dfs2.get(reduceJob.name), runs1 ++ runs2)
  }
}

final class Dag(val jobs: Seq[Job]) {
  private val byName: Map[String, Job] = jobs.map(j => j.name -> j).toMap
  require(byName.size == jobs.size, "duplicate job names")
  jobs.foreach(j => j.deps.foreach(d =>
    require(byName.contains(d), s"job ${j.name} depends on unknown job $d")))

  /** J1: deterministic topological order (Kahn, alphabetical ready queue).
    * Throws IllegalArgumentException on a cycle. */
  val topoOrder: Seq[String] = {
    val indeg = mutable.Map(jobs.map(j => j.name -> j.deps.size): _*)
    val out = jobs.flatMap(j => j.deps.map(_ -> j.name))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val ready = mutable.SortedSet(indeg.collect { case (n, 0) => n }.toSeq: _*)
    val order = mutable.ArrayBuffer.empty[String]
    while (ready.nonEmpty) {
      val n = ready.head
      ready.remove(n)
      order += n
      out.getOrElse(n, Nil).foreach { m =>
        indeg(m) -= 1
        if (indeg(m) == 0) ready += m
      }
    }
    require(order.size == jobs.size,
      s"dependency cycle among: ${indeg.collect { case (n, d) if d > 0 => n }.mkString(", ")}")
    order.toSeq
  }

  /** J2+J3+J4: execute the DAG. Each job materializes once (count) so
    * failures surface here, unless its output already exists (see
    * [[Dag.outputExists]]: rows the driver holds, or a plain scan of
    * committed files), which is recorded without launching a Spark job.
    * That rule has one visible consequence: a committed file that is
    * corrupt fails its first consumer, not the node that returned the scan.
    * Branches whose deps are all satisfied run concurrently on a fixed
    * pool. Failed jobs retry up to `retries` times with linear backoff; jobs
    * downstream of a failure are skipped. Returns per-job run records (J4
    * lineage, from `inputFiles`, included) and the completed DataFrames.
    */
  def run(spark: SparkSession, parallelism: Int = 4, backoffMs: Long = 10)
      : (Map[String, DataFrame], Seq[JobRun]) = {
    val pool = Executors.newFixedThreadPool(math.max(parallelism, 1))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val runs = new ConcurrentHashMap[String, JobRun]()
    val futures = new ConcurrentHashMap[String, Future[Option[DataFrame]]]()

    def futureFor(name: String): Future[Option[DataFrame]] =
      futures.computeIfAbsent(name, _ => {
        val job = byName(name)
        Future.sequence(job.deps.map(futureFor)).map { depResults =>
          val anyMissing = depResults.exists(_.isEmpty)
          // one_failed means a dep actually FAILED — a dep that was merely
          // skipped (its own trigger refused, or its ancestors failed) must
          // not fire a cleanup two levels down; statuses are settled by
          // the Future.sequence barrier above
          val anyFailedDirect =
            job.deps.exists(d => Option(runs.get(d)).exists(_.status == "failed"))
          val shouldRun = job.trigger match {
            case "all_success" => !anyMissing
            case "all_done"    => true
            case "one_failed"  => anyFailedDirect
          }
          if (!shouldRun) {
            // the reason names the TRIGGER's unmet condition: one_failed
            // skips because nothing failed (even when a dep was itself
            // skipped and produced no output); all_success skips because
            // an upstream produced nothing
            runs.put(name, JobRun(name, "skipped", 0, Nil,
              Some(if (job.trigger == "one_failed") "no upstream failure"
                else "upstream failure")))
            None
          } else {
            // only successful deps' outputs are visible (all_done /
            // one_failed bodies must tolerate missing upstreams by design)
            val depMap = job.deps.zip(depResults)
              .collect { case (d, Some(df)) => d -> df }.toMap
            var attempt = 0
            var result: Option[DataFrame] = None
            var lastErr: Option[String] = None
            while (result.isEmpty && attempt <= job.retries) {
              attempt += 1
              try {
                val df = job.run(spark, depMap)
                // materialize: a job is "done" when its output exists. An
                // output that exists already is not counted: driver-held
                // rows (j17's version-fresh skip markers, whose counts were
                // 5.7 s of an inventory run) or a plain scan of committed
                // files (a fixture, j5's read-back), so a corrupt committed
                // file fails its first consumer, not this node. Anything
                // that filters or computes counts here, since it can fail
                // at execution.
                if (!Dag.outputExists(df)) df.count()
                result = Some(df)
              } catch {
                case NonFatal(e) =>
                  lastErr = Some(e.getMessage)
                  if (attempt <= job.retries) Thread.sleep(backoffMs * attempt)
              }
            }
            result match {
              case Some(df) =>
                val inputs = df.inputFiles.map(f => f.substring(f.lastIndexOf('/') + 1))
                  .distinct.sorted.toSeq
                runs.put(name, JobRun(name, "ok", attempt, inputs, None))
                Some(df)
              case None =>
                runs.put(name, JobRun(name, "failed", attempt, Nil, lastErr))
                None
            }
          }
        }
      })

    try {
      topoOrder.foreach(futureFor)
      Await.result(Future.sequence(topoOrder.map(futureFor)), Duration.Inf)
    } finally pool.shutdown()

    val dfs = futures.asScala.toMap.flatMap { case (n, f) =>
      f.value.get.toOption.flatten.map(n -> _)
    }
    (dfs, topoOrder.map(runs.get))
  }
}
