package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.commons.math3.distribution.BetaDistribution
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** One query evaluation: timings (ms), the digest check and, on traced
  * passes, the planner's phase times and the executed plan's exchanges. */
final case class Sample(pass: Int, name: String, startMs: Double, readyMs: Double,
    buildMs: Double, execMs: Double, endMs: Double, ok: Boolean, digest: String,
    error: String, phases: Map[String, Long], exchanges: Int, broadcasts: Int) {
  def latencyMs: Double = endMs - readyMs
  def waitMs: Double = startMs - readyMs
  def bodyMs: Double = endMs - startMs
}

/** One pass over the workload. Times are relative to the pass start (ms);
  * `fromEpoch`/`toEpoch` bound the pass on the wall clock for task overlap. */
final case class Pass(index: Int, traced: Boolean, wallS: Double, samples: Seq[Sample],
    fromEpoch: Long, toEpoch: Long, counters: Counters, work: Work,
    tagged: Map[String, Work], busyUnionMs: Long, busySumMs: Long,
    batches: Seq[Batch], deps: Map[String, Seq[String]])

/** The benchmark harness: builds a session with the deployment conf of
  * `graft.Bench`/`graft.Verify`, then runs one mode.
  *
  *  - `run`: a cold pass, a settle pass, then `warm` warm passes; every
  *    result is digested and checked against the reference digests.
  *  - `setup`: build the session and stop, so `run.py` can time set-up
  *    more than once per run.
  *  - `digest`: evaluate every query twice and write its digest, for
  *    regenerating the reference digests.
  *
  * Arguments are `--key value` pairs; `run.py` supplies them. */
object Harness {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cpus = opt("cpus").toInt
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.hadoop.fs.file.impl", classOf[graft.NoForkLocalFileSystem].getName)
      .config("spark.sql.warehouse.dir", opt("warehouse"))
      .config("spark.local.dir", opt("local"))
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    val buildS = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("WARN")
    println(s"READY $buildS")
    System.out.flush()
    try opt("mode") match {
      case "setup" => Runtime.getRuntime.halt(0) // run.py removes what it leaves
      case "digest" => digestAll(spark, opt)
      case "run" => new Run(spark, opt, cpus, buildS).apply()
    } finally spark.stop()
  }

  /** Order-insensitive digest of a full result: the row count and the sum
    * of every row's xxhash64 over all columns, taken as a decimal so the sum
    * cannot wrap. Columns are renamed by position so duplicate names hash
    * too; map columns hash as their sorted entries. */
  def digestFrame(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => array_sort(map_entries(col(f.name)))
        case _ => col(f.name)
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    named.agg(count(lit(1)).as("rows"),
      coalesce(sum(h.cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")).as("hash"))
  }

  def readDigests(path: String): Map[String, String] =
    Files.readAllLines(Paths.get(path)).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(n, d) = l.split("\t", 2); n -> d }.toMap

  private def digestAll(spark: SparkSession, opt: Map[String, String]): Unit = {
    val dir = opt("fixtures")
    val names = opt("queries").split(",").toSeq
    val lines = names.map { n =>
      val fn = graft.SparkEntry.queries(n)
      def one(): (String, Double) = {
        val t0 = System.nanoTime()
        val r = digestFrame(fn(spark, dir)).collect()(0)
        (s"${r.getLong(0)}:${r.getDecimal(1).toPlainString}", (System.nanoTime() - t0) / 1e9)
      }
      val ((a, coldS), (b, warmS)) = (one(), one())
      if (a != b) sys.error(s"$n: digest differs between its first and second evaluation ($a vs $b)")
      System.err.println(f"[digest] $n $a cold $coldS%.3f s warm $warmS%.3f s")
      s"$n\t$a"
    }
    Files.write(Paths.get(opt("out")), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  object Plans extends AdaptiveSparkPlanHelper {
    def count(plan: SparkPlan): (Int, Int) = (
      collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }.size,
      collectWithSubqueries(plan) { case e: BroadcastExchangeLike => e }.size)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Harrell–Davis estimate of the q-quantile: a mean of the order
    * statistics weighted by a beta distribution centred on q. A workload's
    * latencies cluster by query, and a single order statistic jumps between
    * neighbouring clusters from run to run; this weighted mean does not. */
  def hdQuantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted.toIndexedSeq
      val n = s.size
      val beta = new BetaDistribution(null, (n + 1) * q, (n + 1) * (1 - q))
      val cdf = (0 to n).map(i => beta.cumulativeProbability(i.toDouble / n))
      s.indices.map(i => (cdf(i + 1) - cdf(i)) * s(i)).sum
    }

  /** Linear interpolation between closest ranks (numpy's default). */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted.toIndexedSeq
      val r = q * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
}

/** One `run`: cold pass, warm passes, metrics, spans. */
final class Run(spark: SparkSession, opt: Map[String, String], cpus: Int, buildS: Double) {
  import Harness._

  private val dir = opt("fixtures")
  private val names = opt("queries").split(",").toSeq
  private val refs = readDigests(opt("digests"))
  private val warmPasses = opt("warm").toInt
  private val traceMode = opt("trace") == "1"
  private val dag = opt("kind") == "dag"
  private val rng = new Random(opt("seed").toLong)
  private val fns = names.map(n => n -> graft.SparkEntry.queries.getOrElse(n,
    sys.error(s"query $n is not declared by graft.SparkEntry"))).toMap
  names.foreach(n => require(refs.contains(n), s"no reference digest for $n"))
  private val sc = spark.sparkContext
  private val sparkTrace = new SparkTrace
  private val streamTrace = new StreamTrace

  /** The DAG's levels: declared order, round-robin, so every pass's levels
    * hold the same work. */
  private val levels: Seq[Seq[String]] =
    (0 until Run.DagLevels).map(l =>
      names.zipWithIndex.collect { case (n, i) if i % Run.DagLevels == l => n })
      .filter(_.nonEmpty)

  /** Fresh edges for one pass, drawn from the seeded generator: each job
    * of a level after the first depends on every job of the level before
    * but one. A level then starts about when the one before it ends, so the
    * seed moves edges without moving the critical path much. */
  private def drawDeps(): Map[String, Seq[String]] =
    levels.zipWithIndex.flatMap { case (level, i) =>
      level.map(n => n -> (if (i == 0) Nil else rng.shuffle(levels(i - 1)).drop(1)))
    }.toMap

  private def tag(t: String): Unit =
    if (t == null) sc.clearJobTags() else { sc.clearJobTags(); sc.addJobTag(t) }

  /** Evaluate one query to its full result and check its digest. */
  private def evaluate(pass: Int, name: String, traced: Boolean, passT0: Long,
      readyMs: Double): Sample = {
    def rel(t: Long) = (t - passT0) / 1e6
    val t0 = System.nanoTime()
    var t1 = t0
    var digest = ""
    var error = ""
    var phases = Map.empty[String, Long]
    var exchanges, broadcasts = 0
    try {
      if (traced) tag(s"${Trace.Prefix}$pass:$name:build")
      val df = fns(name)(spark, dir)
      t1 = System.nanoTime()
      if (traced) tag(s"${Trace.Prefix}$pass:$name:exec")
      val dd = digestFrame(df)
      val r = dd.collect()(0)
      digest = s"${r.getLong(0)}:${r.getDecimal(1).toPlainString}"
      if (traced) {
        val inner = df.queryExecution.tracker.phases
        val outer = dd.queryExecution.tracker.phases
        phases = Seq("analysis", "optimization", "planning").map { p =>
          p -> (inner.get(p).map(_.durationMs).getOrElse(0L) + outer.get(p).map(_.durationMs).getOrElse(0L))
        }.toMap
        val (x, b) = Plans.count(dd.queryExecution.executedPlan)
        exchanges = x; broadcasts = b
      }
    } catch {
      case NonFatal(e) =>
        if (t1 == t0) t1 = System.nanoTime()
        error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
    } finally if (traced) tag(null)
    val t2 = System.nanoTime()
    val ok = error.isEmpty && refs.get(name).contains(digest)
    if (!ok) System.err.println(s"[perfbench] FAIL pass $pass $name: " +
      (if (error.nonEmpty) error else s"digest $digest, expected ${refs(name)}"))
    Sample(pass, name, rel(t0), if (readyMs < 0) rel(t0) else readyMs,
      (t1 - t0) / 1e6, (t2 - t1) / 1e6, rel(t2), ok, digest, error, phases,
      exchanges, broadcasts)
  }

  private def loopBody(pass: Int, traced: Boolean, t0: Long): Seq[Sample] =
    rng.shuffle(names).map(n => evaluate(pass, n, traced, t0, -1))

  /** One pass as one `graft.plans.Dag` at parallelism = cores. A job's
    * body evaluates its query and returns an empty driver-local frame, so
    * the edges order work without passing data; a failing query is recorded
    * as failed and still releases its dependants. */
  private def dagBody(pass: Int, traced: Boolean, t0: Long,
      deps: Map[String, Seq[String]]): Seq[Sample] = {
    val done = new ConcurrentHashMap[String, Sample]()
    val jobs = names.map { n =>
      graft.plans.Job(n, deps(n), 0, (s, _) => {
        val ready = if (deps(n).isEmpty) 0.0 else deps(n).map(d => done.get(d).endMs).max
        done.put(n, evaluate(pass, n, traced, t0, ready))
        s.emptyDataFrame
      })
    }
    val (_, runs) = new graft.plans.Dag(jobs).run(spark, parallelism = cpus)
    runs.filter(_.status != "ok").foreach(r =>
      System.err.println(s"[perfbench] dag job ${r.name} ${r.status}: ${r.error.getOrElse("")}"))
    names.map(n => Option(done.get(n)).getOrElse(
      Sample(pass, n, 0, 0, 0, 0, 0, ok = false, "", "not run", Map.empty, 0, 0)))
  }

  private def pass(index: Int, traced: Boolean): Pass = {
    if (traced) { sc.addSparkListener(sparkTrace); spark.streams.addListener(streamTrace) }
    Bus.drain(sc)
    val before = Trace.counters()
    val workBefore = sparkTrace.total()
    val fromEpoch = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val deps = if (dag) drawDeps() else Map.empty[String, Seq[String]]
    val samples = if (dag) dagBody(index, traced, t0, deps) else loopBody(index, traced, t0)
    val wallS = (System.nanoTime() - t0) / 1e9
    val toEpoch = System.currentTimeMillis()
    Bus.drain(sc)
    val counters = Trace.counters() - before
    val work = sparkTrace.total().minus(workBefore)
    val tagged = names.flatMap(n => Seq("build", "exec").map { ph =>
      s"$n:$ph" -> sparkTrace.of(s"${Trace.Prefix}$index:$n:$ph")
    }).toMap
    val (union, summed) = sparkTrace.busy(fromEpoch, toEpoch)
    val batches = streamTrace.since(fromEpoch)
    if (traced) { sc.removeSparkListener(sparkTrace); spark.streams.removeListener(streamTrace) }
    val p = Pass(index, traced, wallS, samples, fromEpoch, toEpoch, counters, work,
      tagged, union, summed, batches, deps)
    System.err.println(f"[perfbench] pass $index%d${if (traced) " traced" else ""}%s: " +
      f"$wallS%.3f s, ${samples.count(!_.ok)}%d failed")
    p
  }

  def apply(): Unit = {
    val cold = pass(0, traceMode)
    // A settle pass: the JIT compiles most in the first pass after the cold
    // one, and a warm figure taken there moves with its pace. Then a fixed
    // number of warm passes, so every run does the same work and holds the
    // same state at its end. A traced run makes four warm passes,
    // untraced-traced-traced-untraced, so it can report what tracing costs on
    // the same JVM without the remaining drift landing on one side.
    val rest = scala.collection.mutable.ArrayBuffer.empty[Pass]
    (1 to Run.Settle).foreach(i => rest += pass(i, traced = false))
    if (traceMode) (1 to 4).foreach(k => rest += pass(Run.Settle + k, traced = k == 2 || k == 3))
    else (1 to warmPasses).foreach(k => rest += pass(Run.Settle + k, traced = false))
    val heapMb = retainedHeapMb()
    val all = cold +: rest.toSeq
    Metrics.report(opt, all, buildS, heapMb, cpus, traceMode, dag)
  }

  /** Heap used after a full GC. A collection lets Spark's cleaner thread
    * release the shuffles and broadcasts it found unreachable, which frees
    * more on the next one, so collect until the heap stops shrinking
    * (by 1 MB) or ten times. */
  private def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def collect(): Double = { System.gc(); mem.getHeapMemoryUsage.getUsed / 1048576.0 }
    var last = Double.MaxValue
    var now = collect()
    var n = 1
    while (last - now > 1.0 && n < 10) {
      Thread.sleep(Run.CleanerMs)
      last = now
      now = collect()
      n += 1
    }
    now
  }
}

object Run {
  val Settle = 1
  /** Time Spark's cleaner thread gets between two collections. */
  val CleanerMs = 200L
  val DagLevels = 4
}
