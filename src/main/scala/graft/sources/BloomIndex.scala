package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.BloomSketch

/** File-level BLOOM-FILTER index — point-lookup data skipping for the case
  * zone maps structurally cannot serve: a high-cardinality column the table
  * is NOT clustered on. Every file's [min, max] envelope on such a column
  * spans nearly the whole domain (a range check prunes nothing), but a
  * per-file Bloom filter answers "might this file contain key = v?" with no
  * false negatives — so an equality lookup opens only the files whose
  * filter fires, and an exact residual filter inside those files removes
  * the false positives. Delta's bloom-filter indexes and Iceberg's puffin
  * blobs are this exact structure; here it is nothing but parquet files, a
  * stats pass, and the repo's own mergeable `bloom_sketch` aggregate.
  *
  * Scale notes (100 TB): the index has one ~8 KiB blob PER FILE (metadata
  * scale — ~400k rows at 256 MB files, ~3 GB of blobs, a small table of its
  * own); it is computed in the same single distributed pass a zone map costs
  * (`_metadata.file_path` group-by) and persisted next to the data, so
  * queries pay one tiny index scan, never a stats recompute. Pruning
  * decisions run `bloom_contains` over index ROWS (codegen'd, no data I/O);
  * the discarded files are never listed in the scan. False-positive rate at
  * the default geometry (64 Ki bits, 5 hashes) stays < 1% up to ~4k distinct
  * keys per file and degrades gracefully, never incorrectly.
  */
object BloomIndex {

  /** Default filter geometry: 64 Ki bits × 5 hashes ≈ 8 KiB per file. */
  val MBits = 65536
  val KHashes = 5

  /** Materialize `df` as `nFiles` files hash-clustered on `layoutCol` (a
    * DIFFERENT column than the indexed one — the realistic layout where the
    * index key is scattered across every file), and persist the per-file
    * Bloom index on `keyCol` alongside (`_bloomidx/`, underscore-hidden
    * from table scans). Idempotent per target path and input: built
    * through [[graft.Tables.staged]] on the content fingerprint of every
    * column of the copy, so a regenerated same-count input rebuilds.
    */
  def writeIndexed(df: DataFrame, path: String, keyCol: String,
      layoutCol: String, nFiles: Int): Unit = {
    val fingerprint = graft.Tables.contentFingerprint(df, s"bloomidx:$path")(
      to_json(struct(df.columns.toIndexedSeq.map(df.col): _*)))
    graft.Tables.staged(path, fingerprint) {
      df.repartition(nFiles, col(layoutCol))
        .write.mode("overwrite").parquet(path)
      fileSketches(df.sparkSession, path, keyCol)
        .write.mode("overwrite").parquet(s"$path/_bloomidx")
    }
    ()
  }

  /** The persisted index (normal path), else one recomputation pass. */
  def index(spark: SparkSession, path: String, keyCol: String): DataFrame =
    if (Files.exists(Paths.get(path, "_bloomidx")))
      spark.read.parquet(s"$path/_bloomidx")
    else fileSketches(spark, path, keyCol)

  /** One distributed pass: (file, bloom) per data file. */
  private def fileSketches(spark: SparkSession, path: String, keyCol: String): DataFrame =
    spark.read.parquet(path)
      .groupBy(col("_metadata.file_path").as("file"))
      .agg(BloomSketch.sketchColumn(col(keyCol).cast("string"), MBits, KHashes)
        .as("bloom"))

  /** Files whose filter fires for ANY of `values` — the scan list after
    * skipping. The collect is file-level METADATA, never data. */
  def prunedFiles(spark: SparkSession, path: String, keyCol: String,
      values: Seq[String]): Seq[String] = {
    val probe = values.map(v => BloomSketch.probeColumn(col("bloom"), lit(v)))
      .reduce(_ || _)
    index(spark, path, keyCol).filter(probe)
      .select(col("file")).collect().map(_.getString(0)).toSeq.sorted
  }

  /** Bloom-pruned point lookup: open only the files whose filter fires,
    * then apply the exact residual predicate (false positives die here).
    * Semantically identical to scanning the whole table with the filter —
    * no false negatives is the Bloom guarantee, proven in WarehouseSpec.
    */
  def prunedRead(spark: SparkSession, path: String, keyCol: String,
      values: Seq[String]): DataFrame = {
    val files = prunedFiles(spark, path, keyCol, values)
    if (files.isEmpty) spark.read.parquet(path).where(lit(false))
    else spark.read.parquet(files: _*)
      .filter(col(keyCol).cast("string").isin(values: _*))
  }
}
