package perfbench

import java.nio.file.{Files, Paths}

import Harness.{hdQuantile, median}

/** Turns a run's passes into the benchmark's metrics, writes the per-query
  * spans of a traced run, and prints the result line `run.py` reads. */
object Metrics {
  private val MB = 1048576.0

  def report(opt: Map[String, String], passes: Seq[Pass], buildS: Double,
      heapMb: Double, cpus: Int, traced: Boolean, dag: Boolean): Unit = {
    val cold = passes.head
    val warm = passes.filter(_.index > Run.Settle)
    val untracedWarm = warm.filterNot(_.traced)
    val warmSamples = warm.flatMap(_.samples)
    val all = passes.flatMap(_.samples)
    val failed = all.count(!_.ok)
    val endToEnd = Seq(
      ("cold_s", cold.wallS, "s"),
      ("warm_s", median(untracedWarm.map(_.wallS)), "s"),
      ("query_p50_ms", hdQuantile(warmSamples.map(_.latencyMs), 0.5), "ms"),
      ("query_p90_ms", hdQuantile(warmSamples.map(_.latencyMs), 0.9), "ms"),
      ("failed_frac", failed.toDouble / all.size, "frac"),
      ("retained_heap_mb", heapMb, "MB"))

    val layers = if (!traced) Nil else {
      val tracedWarm = warm.filter(_.traced)
      def med(f: Pass => Double): Double = median(tracedWarm.map(f))
      def dagMed(f: Pass => Double): Double = if (dag) med(f) else 0.0
      val c = cold.counters
      val overhead = median(tracedWarm.map(_.wallS)) / median(untracedWarm.map(_.wallS)) - 1
      Seq(
        // cold-start layers: the cold pass (session build: once per JVM)
        ("session.build_s", buildS, "s"),
        ("tables.files_discovered", c.filesDiscovered.toDouble, "count"),
        ("tables.file_cache_hits", c.fileCacheHits.toDouble, "count"),
        ("codegen.compiles", c.compiles.toDouble, "count"),
        ("codegen.compile_ms", c.compileMs, "ms"),
        ("jvm.jit_ms", c.jitMs.toDouble, "ms"),
        ("jvm.classes_loaded", c.classes.toDouble, "count"),
        // every other layer: median over the traced warm passes
        ("operators.build_ms", med(_.samples.map(_.buildMs).sum), "ms"),
        ("operators.eager_jobs", med(p => p.tagged.collect { case (k, w) if k.endsWith(":build") => w.jobs }.sum.toDouble), "count"),
        ("plans.analysis_ms", med(phase(_, "analysis")), "ms"),
        ("plans.optimization_ms", med(phase(_, "optimization")), "ms"),
        ("plans.planning_ms", med(phase(_, "planning")), "ms"),
        ("plans.exchanges", med(_.samples.map(_.exchanges).sum.toDouble), "count"),
        ("plans.broadcasts", med(_.samples.map(_.broadcasts).sum.toDouble), "count"),
        ("exec.jobs", med(_.work.jobs.toDouble), "count"),
        ("exec.stages", med(_.work.stages.toDouble), "count"),
        ("exec.tasks", med(_.work.tasks.toDouble), "count"),
        ("exec.driver_only_frac", med(p => 1 - p.busyUnionMs / (p.wallS * 1000)), "frac"),
        ("exec.core_busy_frac", med(p => p.busySumMs / (p.wallS * 1000 * cpus)), "frac"),
        ("exec.task_run_s", med(_.work.runMs / 1e3), "s"),
        ("exec.task_cpu_s", med(_.work.cpuNs / 1e9), "s"),
        ("exec.task_gc_s", med(_.work.gcMs / 1e3), "s"),
        ("exec.shuffle_read_mb", med(_.work.shuffleRead / MB), "MB"),
        ("exec.shuffle_write_mb", med(_.work.shuffleWrite / MB), "MB"),
        ("exec.spill_mb", med(_.work.spill / MB), "MB"),
        ("exec.input_mb", med(_.work.input / MB), "MB"),
        ("sources.output_mb", med(_.work.outputBytes / MB), "MB"),
        ("sources.output_records", med(_.work.outputRecords.toDouble), "count"),
        ("streaming.batches", med(_.batches.size.toDouble), "count"),
        ("streaming.input_rows", med(_.batches.map(_.inputRows).sum.toDouble), "count"),
        ("streaming.trigger_p50_ms", median(tracedWarm.flatMap(_.batches.map(b => duration(b, "triggerExecution")))), "ms"),
        ("streaming.add_batch_ms", med(batchSum(_, "addBatch")), "ms"),
        ("streaming.query_planning_ms", med(batchSum(_, "queryPlanning")), "ms"),
        ("streaming.wal_commit_ms", med(batchSum(_, "walCommit")), "ms"),
        ("streaming.commit_offsets_ms", med(batchSum(_, "commitOffsets")), "ms"),
        ("streaming.latest_offset_ms", med(batchSum(_, "latestOffset")), "ms"),
        ("streaming.state_rows", med(_.batches.map(_.stateRows).sum.toDouble), "count"),
        ("streaming.state_commit_ms", med(_.batches.map(_.stateCommitMs).sum.toDouble), "ms"),
        ("dag.jobs", dagMed(_.samples.size.toDouble), "count"),
        ("dag.dispatch_wait_p50_ms", dagMed(p => median(p.samples.map(_.waitMs))), "ms"),
        ("dag.job_p50_ms", dagMed(p => median(p.samples.map(_.bodyMs))), "ms"),
        ("dag.slot_util", dagMed(p => p.samples.map(_.bodyMs).sum / (cpus * p.wallS * 1000)), "frac"),
        ("dag.critical_path_s", dagMed(criticalPathS), "s"),
        ("dag.makespan_over_critical", dagMed(p => p.wallS / criticalPathS(p)), "ratio"),
        ("jvm.gc_ms", med(_.counters.gcMs.toDouble), "ms"),
        ("trace.overhead_frac", overhead, "frac"))
    }

    if (traced) writeSpans(opt("out"), passes)
    val passJson = passes.map(p => Json.obj("pass" -> p.index, "traced" -> p.traced,
      "wall_s" -> p.wallS, "failed" -> p.samples.count(!_.ok),
      "jit_ms" -> p.counters.jitMs, "gc_ms" -> p.counters.gcMs,
      "steal_frac" -> p.counters.stealFrac,
      "latency_ms" -> Json.Raw(Json.obj(p.samples.map(s => s.name -> s.latencyMs): _*)),
      "failures" -> p.samples.filterNot(_.ok).map(s => s"${s.name}: ${if (s.error.nonEmpty) s.error else s.digest}")))
    println("RESULT " + Json.obj(
      "attempted" -> all.size, "failed" -> failed,
      "warm_samples" -> warmSamples.size, "warm_passes" -> warm.size,
      "end_to_end" -> metrics(endToEnd), "per_layer" -> metrics(layers),
      "passes" -> passJson.map(Json.Raw)))
  }

  /** name -> {"value", "unit"}, in the order given. */
  private def metrics(ms: Seq[(String, Double, String)]): Json.Raw =
    Json.Raw(ms.map { case (n, v, u) => Json.str(n) + ":" + Json.obj("value" -> v, "unit" -> u) }
      .mkString("{", ",", "}"))

  private def phase(p: Pass, name: String): Double =
    p.samples.map(_.phases.getOrElse(name, 0L)).sum.toDouble

  private def duration(b: Batch, key: String): Double =
    b.durations.getOrElse(key, 0L).toDouble

  private def batchSum(p: Pass, key: String): Double = p.batches.map(duration(_, key)).sum

  /** Longest chain of job bodies through the DAG's edges, in seconds. */
  def criticalPathS(p: Pass): Double = {
    val body = p.samples.map(s => s.name -> s.bodyMs).toMap
    val memo = scala.collection.mutable.Map.empty[String, Double]
    def longest(n: String): Double = memo.getOrElseUpdate(n,
      body.getOrElse(n, 0.0) + p.deps.getOrElse(n, Nil).map(longest).maxOption.getOrElse(0.0))
    body.keys.map(longest).maxOption.getOrElse(0.0) / 1000
  }

  private def writeSpans(path: String, passes: Seq[Pass]): Unit = {
    val lines = passes.flatMap { p =>
      Json.obj("span" -> "pass", "pass" -> p.index, "cold" -> (p.index == 0),
        "traced" -> p.traced, "wall_s" -> p.wallS, "from_epoch_ms" -> p.fromEpoch,
        "to_epoch_ms" -> p.toEpoch, "work" -> Json.Raw(p.work.json),
        "task_union_ms" -> p.busyUnionMs, "task_sum_ms" -> p.busySumMs,
        "codegen_compiles" -> p.counters.compiles, "jit_ms" -> p.counters.jitMs,
        "classes_loaded" -> p.counters.classes, "gc_ms" -> p.counters.gcMs,
        "files_discovered" -> p.counters.filesDiscovered,
        "file_cache_hits" -> p.counters.fileCacheHits,
        "stream_batches" -> p.batches.size) +:
      p.samples.map { s =>
        val w = (ph: String) => Json.Raw(p.tagged.getOrElse(s"${s.name}:$ph", new Work).json)
        Json.obj("span" -> "query", "pass" -> p.index, "query" -> s.name,
          "parent" -> s"pass ${p.index}", "ready_ms" -> s.readyMs, "start_ms" -> s.startMs,
          "build_ms" -> s.buildMs, "exec_ms" -> s.execMs, "end_ms" -> s.endMs,
          "deps" -> p.deps.getOrElse(s.name, Nil), "ok" -> s.ok, "digest" -> s.digest,
          "error" -> s.error, "phases_ms" -> s.phases, "exchanges" -> s.exchanges,
          "broadcasts" -> s.broadcasts, "build" -> w("build"), "exec" -> w("exec"))
      }
    }
    Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
