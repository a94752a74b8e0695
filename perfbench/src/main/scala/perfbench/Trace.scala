package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.Properties

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Executor-side work attributed to one job tag (or to a whole pass). */
final class Work {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill, input = 0L
  var outputBytes, outputRecords = 0L

  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; input += o.input
    outputBytes += o.outputBytes; outputRecords += o.outputRecords
  }

  def minus(o: Work): Work = {
    val w = new Work
    w.jobs = jobs - o.jobs; w.stages = stages - o.stages; w.tasks = tasks - o.tasks
    w.runMs = runMs - o.runMs; w.cpuNs = cpuNs - o.cpuNs; w.gcMs = gcMs - o.gcMs
    w.shuffleRead = shuffleRead - o.shuffleRead; w.shuffleWrite = shuffleWrite - o.shuffleWrite
    w.spill = spill - o.spill; w.input = input - o.input
    w.outputBytes = outputBytes - o.outputBytes; w.outputRecords = outputRecords - o.outputRecords
    w
  }

  def json: String = Json.obj(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_run_ms" -> runMs, "task_cpu_ms" -> cpuNs / 1e6, "task_gc_ms" -> gcMs,
    "shuffle_read_b" -> shuffleRead, "shuffle_write_b" -> shuffleWrite,
    "spill_b" -> spill, "input_b" -> input,
    "output_b" -> outputBytes, "output_records" -> outputRecords)
}

/** The benchmark's SparkListener. Jobs are attributed through the job tag
  * the harness sets around each query's build and execute calls (tags that
  * do not start with `Trace.Prefix` are ignored); tasks inherit their
  * stage's job tag. Task run intervals are kept so a pass can compute how
  * much of its wall time had no task running. All callbacks arrive on the
  * listener-bus thread; readers drain the bus first. */
final class SparkTrace extends SparkListener {
  private val stageTag = mutable.Map.empty[Int, String]
  private val byTag = mutable.Map.empty[String, Work]
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  private def tagOf(props: Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .flatMap(_.split(",").find(_.startsWith(Trace.Prefix))).getOrElse("")

  private def work(tag: String): Work = byTag.getOrElseUpdate(tag, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = tagOf(e.properties)
    work(tag).jobs += 1
    e.stageIds.foreach(stageTag(_) = tag)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    work(stageTag.getOrElse(e.stageInfo.stageId, "")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = work(stageTag.getOrElse(e.stageId, ""))
    w.tasks += 1
    if (e.taskInfo != null) intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      w.runMs += m.executorRunTime
      w.cpuNs += m.executorCpuTime
      w.gcMs += m.jvmGCTime
      w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      w.input += m.inputMetrics.bytesRead
      w.outputBytes += m.outputMetrics.bytesWritten
      w.outputRecords += m.outputMetrics.recordsWritten
    }
  }

  /** Work attributed to one tag, or an empty record. */
  def of(tag: String): Work = synchronized { byTag.getOrElse(tag, new Work) }

  /** All work seen so far, tagged or not. */
  def total(): Work = synchronized {
    val w = new Work
    byTag.values.foreach(w.add)
    w
  }

  /** Task-busy time inside [from, to] (epoch ms): the union of the task
    * intervals (time with at least one task running) and their summed
    * length (core-milliseconds). */
  def busy(from: Long, to: Long): (Long, Long) = synchronized {
    val clipped = intervals.iterator
      .map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    val summed = clipped.map { case (a, b) => b - a }.sum
    var union = 0L
    var end = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a >= end) { union += b - a; end = b }
      else if (b > end) { union += b - end; end = b }
    }
    (union, summed)
  }
}

/** One micro-batch's progress, as the streaming listener reported it. */
final case class Batch(at: Long, inputRows: Long, durations: Map[String, Long],
    stateRows: Long, stateCommitMs: Long)

/** Micro-batch progress of every streaming query the workload starts. */
final class StreamTrace extends StreamingQueryListener {
  private val batches = mutable.ArrayBuffer.empty[Batch]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    batches += Batch(System.currentTimeMillis(), p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.stateOperators.map(_.numRowsUpdated).sum,
      p.stateOperators.map(_.commitTimeMs).sum)
  }

  /** Batches whose progress arrived at or after `from` (epoch ms). Progress
    * arrives asynchronously, so a pass reads this after draining the bus. */
  def since(from: Long): Seq[Batch] = synchronized {
    batches.filter(_.at >= from).toSeq
  }
}

/** Process-wide counters read before and after a pass: JVM MXBeans and
  * Spark's static codegen and file-catalog metrics. */
final case class Counters(jitMs: Long, classes: Long, gcMs: Long,
    compiles: Long, compileMeanMs: Double, filesDiscovered: Long,
    fileCacheHits: Long, stealTicks: Long, cpuTicks: Long) {
  def -(o: Counters): Counters = Counters(jitMs - o.jitMs, classes - o.classes,
    gcMs - o.gcMs, compiles - o.compiles, compileMeanMs,
    filesDiscovered - o.filesDiscovered, fileCacheHits - o.fileCacheHits,
    stealTicks - o.stealTicks, cpuTicks - o.cpuTicks)
  /** Share of the machine's CPU time the hypervisor gave to others: a pass
    * that reads high here ran in a noisy window. */
  def stealFrac: Double = if (cpuTicks <= 0) 0.0 else stealTicks.toDouble / cpuTicks
  /** Codegen compile time: the histogram keeps a sample of recent compile
    * times, not their sum, so this is compiles × the sampled mean. */
  def compileMs: Double = compiles * compileMeanMs
}

object Trace {
  val Prefix = "pb:"

  def counters(): Counters = {
    val hist = CodegenMetrics.METRIC_COMPILATION_TIME
    val ticks = cpuTicks
    Counters(
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount,
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum,
      hist.getCount, hist.getSnapshot.getMean,
      HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount,
      HiveCatalogMetrics.METRIC_FILE_CACHE_HITS.getCount,
      ticks(7), ticks.sum)
  }

  /** The machine-wide CPU tick counters of /proc/stat (user, nice, system,
    * idle, iowait, irq, softirq, steal); zeros where there is none. */
  private def cpuTicks: IndexedSeq[Long] =
    try {
      val line = Files.readAllLines(Paths.get("/proc/stat")).get(0)
      line.trim.split("\\s+").slice(1, 9).map(_.toLong).toIndexedSeq.padTo(8, 0L)
    } catch { case NonFatal(_) => IndexedSeq.fill(8)(0L) }
}
