package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import org.apache.spark.sql.functions._

/** PERSISTED IVF-PQ index — the full FAISS-style serving artifact, joining
  * the two halves the repo already proves separately: IvfIndex's learned
  * coarse cells (postings PARTITIONED BY cell → partition pruning IS the
  * inverted-list read) and g55's product quantization (4×16-dim subspace
  * codebooks; the corpus row a query scores is 4 small ints, never a raw
  * vector). Everything is deterministic (plans.KMeans: smallest-id seeding,
  * lowest-id argmin ties, decimal centroid means) and every persisted
  * number is 6dp-rounded — so the index BUILD and the serve path both
  * replay bit-for-bit in SQL (the g40/g71 discipline), which is what makes
  * g73 a fully oracle-backed IVF-PQ, unlike the in-query rows-only g55.
  *
  * Layout under `path`:
  *  - `centroids/`   — flat (cell, pos, c): k×64 rounded coarse means, the
  *    table [[IvfIndex]] writes, so [[IvfIndex.centroids]] reads it (and
  *    [[IvfIndex.segment]] an appended segment);
  *  - `pqcodebooks/` — flat (m, cid, pos, c): 4×16×16 rounded subspace
  *    centroids (metadata scale — 1k doubles);
  *  - `postings/`    — (vec_id, label, embedding, c0..c3) PARTITIONED BY
  *    cell: the coded corpus plus the raw vector for the exact re-rank
  *    (id-addressed shortlist fetch in a deployment; co-located here).
  *
  * Scale notes (100 TB): build = 5 + 4×3 single-scan Lloyd passes (driver
  * holds k×d doubles between passes) + one partitioned re-write; serve =
  * k×64 + 4×16×16 driver doubles, a scan of probes/k of the corpus reading
  * ONLY (vec_id, label, codes) columns, 4 array lookups per row, and a
  * 50-row exact re-rank. Rebuilds are content-fingerprint-gated (`_ready`).
  */
object IvfPqIndex {

  val subs = 4; val subDim = 16; val pqK = 16; val pqIters = 3

  /** [[IvfIndex.withX]] plus the `subs` subvector slices `__s<m>`. */
  private def withSubs(emb: DataFrame): DataFrame =
    (0 until subs).foldLeft(IvfIndex.withX(emb)) { case (d, m) =>
      d.withColumn(s"__s$m", expr(s"slice(__x, ${m * subDim + 1}, $subDim)"))
    }

  /** The coded postings row: learned cell, the raw columns, c0..c3. */
  private def coded(base: DataFrame, coarse: Array[Array[Double]],
      cbs: Seq[Array[Array[Double]]]): DataFrame = {
    val cellCol = graft.plans.KMeans.assignCols("__x", coarse)._1
    val codeCols = (0 until subs).map { m =>
      graft.plans.KMeans.assignCols(s"__s$m", cbs(m))._1.as(s"c$m")
    }
    base.select(cellCol.as("cell") +: col("vec_id") +: col("label") +:
      col("embedding") +: codeCols: _*)
  }

  /** Build + persist (idempotent per content fingerprint). */
  def write(emb: DataFrame, path: String): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    // a rebuild starts a fresh index generation from an empty root
    Tables.staged(path, IvfIndex.contentFingerprint(emb, s"ivfpq:$path")) {
      val base = withSubs(emb)
      val (cents, _) = graft.plans.KMeans.fit(base, "vec_id", "__x",
        IvfIndex.dim, IvfIndex.cellsK, IvfIndex.lloydIters)
      // 4 independent subspace codebooks; persisted ROUNDED, and the encode
      // below uses the SAME rounded values — self-consistent and replayable
      val cbs = (0 until subs).map { m =>
        graft.plans.KMeans.fit(base.select(col("vec_id"), col(s"__s$m")),
          "vec_id", s"__s$m", subDim, pqK, pqIters)._1.map(_.map(Ann.round6))
      }
      IvfIndex.writeCentroids(spark, cents, path)
      cbs.zipWithIndex
        .flatMap { case (cb, m) => cb.toSeq.zipWithIndex.flatMap {
          case (c, cid) => c.toSeq.zipWithIndex.map {
            case (v, pos) => (m, cid, pos, v) } } }
        .toDF("m", "cid", "pos", "c")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/pqcodebooks")
      IvfIndex.writeCells(coded(base, cents, cbs), s"$path/postings")
    }
    ()
  }

  /** INCREMENTAL update — FAISS's `add()` semantics as a lakehouse segment:
    * new vectors are ENCODED against the FROZEN persisted artifacts (the
    * 6dp coarse centroids for the cell, the 6dp subspace codebooks for the
    * codes — production PQ never retrains per batch) and committed as an
    * immutable cell-partitioned segment. One narrow codegen pass over the
    * delta (k×64 + 4×16×16 literal doubles, no shuffle), one partitioned
    * delta-only write; idempotent per content fingerprint, self-healing
    * overwrite. Serving unions base + segment scans, both pruned; a
    * compaction folds segments back (the IvfIndex.compact shape). */
  def appendSegment(delta: DataFrame, path: String, name: String): Unit = {
    val spark = delta.sparkSession
    Tables.staged(s"$path/segments/$name",
        IvfIndex.contentFingerprint(delta, s"ivfpqseg:$path:$name")) {
      val coarse = IvfIndex.centroids(spark, path).map(_._2).toArray
      IvfIndex.writeCells(coded(withSubs(delta), coarse, codebooks(spark, path)),
        s"$path/segments/$name")
    }
    ()
  }

  /** Driver-side PQ codebooks: codebooks(m)(cid) = 16 rounded components. */
  def codebooks(spark: SparkSession, path: String): Seq[Array[Array[Double]]] =
    spark.read.parquet(s"$path/pqcodebooks")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) =>
        val cb = Array.ofDim[Double](pqK, subDim)
        rows.foreach { case (_, cid, pos, v) => cb(cid)(pos) = v }
        cb
      }

  /** The coded postings; filter on `cell` before use — the filter becomes a
    * partition-pruning predicate (only probed directories are listed). */
  def postings(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/postings")
}
