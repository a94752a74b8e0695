package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** PERSISTED IVF index for an embeddings table — the serving-side shape the
  * in-query codebooks of g4b/g69 only simulate: a real vector-search
  * deployment builds its index ONCE, persists it, and serves every query
  * from the persisted artifact (FAISS writes IVF lists to its own file
  * format; a lakehouse expresses the identical structure as two tables).
  *
  * Layout under `path`:
  *  - `centroids/` — FLAT (cell, pos, c) rows: cell id × 64 rounded mean
  *    components (k×64 rows — metadata scale; the flat layout needs no
  *    array column and reassembles on the driver at read time);
  *  - `postings/`  — the vectors PARTITIONED BY cell (`cell=<id>/part-*`),
  *    so a probe's scan lists ONLY its probed cells' directories: partition
  *    pruning is the IVF "read 2 of k inverted lists" step, executed by the
  *    ordinary parquet source (PlanSpec pins the PartitionFilters).
  *
  * Cells are LEARNED: the build runs plans.KMeans (deterministic Lloyd —
  * smallest-id seeding, lowest-id argmin ties, decimal centroid means, so
  * the trained codebook is bit-identical at any executor count AND
  * SQL-replayable, the g40 discipline) and assigns every vector to its
  * nearest learned centroid. The persisted centroids are the Lloyd-final
  * vectors rounded to 6dp — what probe selection reads. Rebuilds go
  * through [[graft.Tables.staged]] on a content fingerprint (hardened by
  * the r14 sf10 gate): a regenerated corpus under the same path recommits
  * instead of silently serving the stale index.
  *
  * Scale notes (100 TB): the index build is `iters` single-scan Lloyd
  * passes (k×d driver doubles between passes) plus one partitioned
  * re-write of the vectors (postings) — all ordinary jobs; the per-query
  * serve cost is k×64 driver doubles + a scan of probes/k of the corpus.
  */
object IvfIndex {

  /** Row count + CRC sum over (vec_id, label, embedding) of an embeddings
    * frame. label rides along because the index CONTENT (cells, centroids,
    * postings partitioning) derives from it — any column the index depends
    * on must change the fingerprint ([[Tables.contentFingerprint]]). */
  private[sources] def contentFingerprint(emb: DataFrame, tag: String): String =
    Tables.contentFingerprint(emb, tag)(concat_ws(",", col("vec_id"), col("label"),
      concat_ws(",", transform(col("embedding"), x => x.cast("string")))))

  /** Build + persist (idempotent per content fingerprint). */
  def write(emb: DataFrame, path: String): Unit = {
    val spark = emb.sparkSession
    val fingerprint = contentFingerprint(emb, s"ivf:$path")
    // a rebuild starts a fresh index generation from an empty root:
    // segments, tombstones, compactions and the postings pointer reset
    Tables.staged(path, fingerprint) {
      val base = withX(emb)
      // train the coarse quantizer: k cells, `iters` deterministic Lloyd
      // passes (each ONE distributed scan; the driver holds k×d doubles)
      val (cents, _) =
        graft.plans.KMeans.fit(base, "vec_id", "__x", dim, cellsK, lloydIters)
      writeCentroids(spark, cents, path)
      // postings: every vector under its LEARNED cell
      val (cid, _) = graft.plans.KMeans.assignCols("__x", cents)
      writeCells(base.select(cid.as("cell"), col("vec_id"), col("label"),
        col("embedding")), s"$path/postings")
    }
    ()
  }

  /** (vec_id, label, embedding) plus the double vector `__x` both index
    * builds train and assign on. */
  private[sources] def withX(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("label"), col("embedding"), Ann.vd.as("__x"))

  /** Persist the coarse codebook as the flat rounded (cell, pos, c) table
    * [[centroids]] reads. */
  private[sources] def writeCentroids(spark: SparkSession,
      cents: Array[Array[Double]], path: String): Unit = {
    import spark.implicits._
    cents.toSeq.zipWithIndex
      .flatMap { case (c, cell) => c.toSeq.zipWithIndex.map { case (v, pos) =>
        (cell, pos, Ann.round6(v)) } }
      .toDF("cell", "pos", "c")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Write postings partitioned by `cell` — each directory is one inverted
    * list, so a `cell` filter on the read prunes to the probed lists. */
  private[sources] def writeCells(postings: DataFrame, dir: String): Unit =
    postings.write.mode("overwrite").partitionBy("cell").parquet(dir)

  /** COMPACTION — fold live segments back into the base (the index twin of
    * m9's file compaction): the merged postings (base ∪ segments, MINUS any
    * committed tombstones — this is [[delete]]'s physical fold, after which
    * the tombstone table resets) are rewritten under a fresh GENERATION
    * directory, the `_postings` pointer flips to it atomically (readers
    * never see a half-compacted index), and the segment dirs drop.
    * Idempotent per segment SET (the marker name sorts the segment list,
    * so a retried orchestrator may reorder it; the `_seg_*` markers stay,
    * so a query re-run neither re-appends nor re-compacts — segment names
    * are one-shot per index generation, a rebuild resets them). Serving
    * before and after must be identical — pinned in VectorSpec. At 100 TB
    * this is the background job that bounds per-query scan count: one
    * cell-partitioned rewrite, no training, no driver state beyond the
    * file lists. */
  def compact(spark: SparkSession, path: String, segs: Seq[String]): Unit = {
    // CRASH-RECOVERABLE sequencing: the marker names the target generation
    // and is written BEFORE the pointer flip, so every step after the
    // merged write is idempotent — a retry at any crash point re-reads the
    // marker, re-flips the pointer to the SAME generation (a no-op if it
    // already flipped), and resumes the tolerant cleanup. The old ordering
    // (flip → cleanup → marker) wedged a retried compact: it re-read
    // segment dirs it had already deleted AND re-unioned segments already
    // folded into the flipped generation.
    val marker = Paths.get(path, s"_compacted_${segs.sorted.mkString("_")}")
    val gen: String =
      if (Files.exists(marker)) {
        val m = new String(Files.readAllBytes(marker), "UTF-8").trim
        // legacy "done" markers predate generation-named markers: the old
        // ordering wrote them after cleanup, so the pointer already flipped
        if (m.startsWith("postings_g")) m
        else new String(Files.readAllBytes(Paths.get(path, "_postings")), "UTF-8").trim
      } else {
        val live = segs.foldLeft(postings(spark, path)) { (df, n) =>
          df.unionByName(segment(spark, path, n))
        }
        // physical fold of the tombstones: the compacted generation simply
        // omits deleted rows, and the tombstone table retires with them
        val merged = live.join(broadcast(tombstones(spark, path)),
          col("vec_id") === col("__dead_id"), "left_anti")
        val g = 1 + Option(new java.io.File(path).list()).toSeq.flatten
          .filter(_.startsWith("postings_g"))
          .map(_.stripPrefix("postings_g").toInt)
          .foldLeft(0)(math.max)
        writeCells(merged, s"$path/postings_g$g")
        Files.write(marker, s"postings_g$g".getBytes("UTF-8"))
        s"postings_g$g"
      }
    val tmp = Paths.get(path, s"._postings.$gen.tmp")
    Files.write(tmp, gen.getBytes("UTF-8"))
    Files.move(tmp, Paths.get(path, "_postings"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // cleanup tolerates already-deleted paths (Tables.rmrf no-ops on missing)
    segs.foreach(n => Tables.rmrf(s"$path/segments/$n"))
    Tables.rmrf(s"$path/tombstones")
    ()
  }

  /** INCREMENTAL index update — the segment discipline (how Lucene/FAISS
    * deployments absorb new vectors without retraining): the base index
    * stays immutable; a delta batch is assigned to the FROZEN persisted
    * codebook (the 6dp serving centroids — exactly what a serving node
    * holds; no retrain, no base rewrite) and written as its own
    * cell-partitioned segment under `segments/<name>/`. Serving unions the
    * base and segment postings scans, each partition-pruned to the probed
    * cells. Idempotent per segment content fingerprint (the `_ready`
    * discipline), and overwrite-mode makes a half-written segment
    * self-healing on rerun — the marker is only written after the segment
    * commit completes.
    *
    * Scale notes (100 TB): the delta assignment is one narrow codegen pass
    * over the delta batch (k×d literal codebook, no shuffle); the segment
    * write is a cell-partitioned write of ONLY the delta. Query cost grows
    * by one pruned scan per live segment — real deployments fold segments
    * back into the base on a compaction schedule (m9's compact shape). */
  def appendSegment(delta: DataFrame, path: String, name: String): Unit = {
    val spark = delta.sparkSession
    // the marker sits beside segments/, not inside: compact deletes the
    // segment dir but the marker must survive so a re-run does not re-append
    val segReady = Paths.get(path, s"_seg_${name}_ready")
    val fingerprint = contentFingerprint(delta, s"ivfseg:$path:$name")
    val stale = Files.exists(segReady) &&
      new String(Files.readAllBytes(segReady), "UTF-8") != fingerprint
    if (!Files.exists(segReady) || stale) {
      // FROZEN codebook: the rounded persisted centroids, i.e. what probe
      // selection itself reads — a serving node never sees the raw
      // Lloyd-final doubles
      val cents = centroids(spark, path).map(_._2).toArray
      val (cid, _) = graft.plans.KMeans.assignCols("__x", cents)
      writeCells(withX(delta).select(cid.as("cell"), col("vec_id"), col("label"),
        col("embedding")), s"$path/segments/$name")
      Files.write(segReady, fingerprint.getBytes("UTF-8"))
      ()
    }
  }

  /** A segment's postings (of either index kind); filter on `cell` prunes
    * exactly like the base. */
  def segment(spark: SparkSession, path: String, name: String): DataFrame =
    spark.read.parquet(s"$path/segments/$name")

  /** TOMBSTONE DELETE — how a vector store honors removals (takedowns,
    * GDPR erasure) without rewriting the index: the deleted ids are
    * committed as a tombstone table under the index and the serving query
    * anti-joins them; postings files stay byte-identical (pinned in
    * VectorSpec — at 100 TB a delete is O(tombstones), never a postings
    * rewrite; the next [[compact]]ion folds them in physically, exactly
    * like m16's deletion vectors fold into a purge). Idempotent per
    * tombstone-set fingerprint. */
  def delete(ids: DataFrame, path: String): Unit = {
    val fingerprint =
      Tables.contentFingerprint(ids, s"ivftomb:$path")(col("vec_id").cast("string"))
    Tables.staged(s"$path/tombstones", fingerprint) {
      ids.select(col("vec_id").as("__dead_id"))
        .coalesce(1).write.mode("overwrite").parquet(s"$path/tombstones")
    }
    ()
  }

  /** The committed tombstones (empty if none were ever deleted). */
  def tombstones(spark: SparkSession, path: String): DataFrame =
    if (Files.exists(Paths.get(path, "tombstones", "_ready")))
      spark.read.parquet(s"$path/tombstones")
    else spark.emptyDataFrame.withColumn("__dead_id", lit(0L)).limit(0)

  /** Codebook hyper-parameters — shared with the DuckDB oracles, which
    * unroll exactly [[lloydIters]] Lloyd iterations over [[cellsK]] cells
    * (operators/VectorQueries kmeansCtes). */
  val cellsK = 8
  val lloydIters = 5
  val dim = 64

  /** Driver-side codebook from the persisted centroids (of either index
    * kind): (cell, 64 rounded components in pos order). k×64 rows —
    * metadata scale. */
  def centroids(spark: SparkSession, path: String): Seq[(Int, Array[Double])] =
    spark.read.parquet(s"$path/centroids")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (cell, rows) =>
        val c = new Array[Double](rows.map(_._2).max + 1)
        rows.foreach { case (_, pos, v) => c(pos) = v }
        (cell, c)
      }

  /** The postings table; filter on `cell` before use — the filter becomes a
    * partition-pruning predicate (only probed directories are listed).
    * Resolves the CURRENT generation via the `_postings` pointer when a
    * [[compact]]ion has run; the original `postings/` directory otherwise. */
  def postings(spark: SparkSession, path: String): DataFrame = {
    val ptr = Paths.get(path, "_postings")
    val dir = if (Files.exists(ptr))
      new String(Files.readAllBytes(ptr), "UTF-8") else "postings"
    spark.read.parquet(s"$path/$dir")
  }
}
