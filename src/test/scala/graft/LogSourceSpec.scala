package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftLog, GraftLogSource}

/** The Kafka-shaped log source's consumer contract: monotone per-partition
  * offsets, segment-seek reads, and CHECKPOINTED OFFSET RESUME — stop the
  * stream, append to the log, restart on the same checkpoint, and exactly
  * the delta arrives (no replay, no loss). */
class LogSourceSpec extends AnyFunSuite {
  import TestSpark._

  test("append assigns consecutive offsets and batch read round-trips") {
    val root = java.nio.file.Files.createTempDirectory("graft_logspec").toString
    GraftLog.append(root, 0, Seq((1000L, 7L, "click", 1.5), (2000L, 8L, "view", 2.5)))
    GraftLog.append(root, 0, Seq((3000L, 9L, "click", 3.5)))
    GraftLog.append(root, 1, Seq((1500L, 4L, "view", 4.5)))
    assert(GraftLog.endOffset(root, 0) == 3L && GraftLog.endOffset(root, 1) == 1L)
    val rows = spark.read.format("graft.sources.GraftLogSource")
      .option("path", root).load()
      .select(col("p"), col("offset"), col("user_id"), col("value"))
      .orderBy("p", "offset").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(rows == Seq((0L, 0L, 7L, 1.5), (0L, 1L, 8L, 2.5), (0L, 2L, 9L, 3.5),
      (1L, 0L, 4L, 4.5)))
    Tables.rmrf(root)
  }

  test("offset map JSON round-trips through the checkpoint format") {
    val o = graft.sources.GraftLogOffsetAccess.make(Map(0 -> 12L, 3 -> 7L))
    val back = graft.sources.GraftLogOffsetAccess.parse(o.json())
    assert(graft.sources.GraftLogOffsetAccess.ends(back) == Map(0 -> 12L, 3 -> 7L))
  }

  test("checkpointed resume: restart after an append delivers exactly the delta") {
    val root = java.nio.file.Files.createTempDirectory("graft_logresume").toString
    val out = java.nio.file.Files.createTempDirectory("graft_logresume_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_logresume_ck").toString
    (0 until 2).foreach(p => GraftLog.append(root, p,
      (0 until 5).map(i => (1000L * i, p * 100L + i, "click", i.toDouble))))
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft.sources.GraftLogSource")
        .option("path", root).option("maxRowsPerBatch", "4").load()
        .select(col("p"), col("offset"), col("user_id"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce() // phase 1: drains the initial 10 records (in capped batches)
    assert(spark.read.parquet(out).count() == 10L)
    // producer appends 3 more to partition 1 while the consumer is down
    GraftLog.append(root, 1, Seq((9000L, 991L, "view", 9.0),
      (9100L, 992L, "view", 9.1), (9200L, 993L, "view", 9.2)))
    runOnce() // phase 2: same checkpoint — ONLY the delta may arrive
    val all = spark.read.parquet(out)
    assert(all.count() == 13L, "resume replayed or lost records")
    // no duplicate (p, offset) — the exactly-once invariant
    assert(all.groupBy("p", "offset").count().filter(col("count") > 1).count() == 0)
    // the delta landed at the next offsets of partition 1
    val delta = all.filter(col("user_id") >= 991L)
      .orderBy("offset").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(delta == Seq((1L, 5L), (1L, 6L), (1L, 7L)))
    Seq(root, out, ckpt).foreach(Tables.rmrf)
  }

  test("admission control caps per-partition advance per micro-batch") {
    val root = java.nio.file.Files.createTempDirectory("graft_logcap").toString
    val out = java.nio.file.Files.createTempDirectory("graft_logcap_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_logcap_ck").toString
    (0 until 2).foreach(p => GraftLog.append(root, p,
      (0 until 6).map(i => (1000L * i, p * 10L + i, "click", i.toDouble))))
    // maxRowsPerBatch=4 over 2 partitions → 2 offsets per partition per
    // batch → 3 batches of exactly (2+2) rows
    val q = spark.readStream.format("graft.sources.GraftLogSource")
      .option("path", root).option("maxRowsPerBatch", "4").load()
      .writeStream.foreachBatch {
        (df: org.apache.spark.sql.DataFrame, id: Long) =>
          df.withColumn("batch_id", lit(id)).write.mode("append").parquet(out)
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val per = spark.read.parquet(out).groupBy("batch_id").count()
      .orderBy("batch_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(per == Seq((0L, 4L), (1L, 4L), (2L, 4L)), s"got $per")
    Seq(root, out, ckpt).foreach(Tables.rmrf)
  }
}
