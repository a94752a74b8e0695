package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.BitmapSketch

/** Row-level DELETE without rewriting data files — positional DELETION
  * VECTORS, the merge-on-read shape every modern table format converged on
  * (Delta deletion vectors, Iceberg positional delete files, Hudi record
  * index): a delete commits one BITMAP of row positions per affected data
  * file; readers scan the immutable files and anti-apply the bitmap; a
  * maintenance pass ("purge") rewrites only files whose deleted fraction
  * crossed a threshold. The payoff is the whole point of the design: a
  * GDPR-style delete of 0.1% of rows scattered across a 100 TB table costs
  * a metadata-scale bitmap write instead of rewriting 100 TB, while reads
  * stay one codegen'd probe per row.
  *
  * Built entirely from pieces the repo already owns:
  *  - positions come from the parquet reader's `_metadata.file_path` /
  *    `_metadata.row_index` constant-metadata columns (no custom source);
  *  - the bitmap is [[graft.functions.BitmapSketchAgg]] (exact, mergeable
  *    by bitwise OR — so a second delete batch merges into the first with
  *    `bitmap_union`, order-independent);
  *  - the read-path probe is the codegen'd `bitmap_contains`
  *    ([[graft.functions.BitmapContains]]), staying inside whole-stage
  *    codegen like `bloom_contains` does on the scan-prefilter path.
  *
  * Scale notes (100 TB):
  *  - build: ONE distributed scan evaluating the delete predicate; the
  *    aggregation groups by file path, so the shuffle carries only matched
  *    (file, position) pairs and the result has one row PER FILE with a
  *    delete — metadata scale (~400k files at 256 MB). Blob size is
  *    positions/8 bits ≤ file_rows/8 bytes; the 2^26-position cap is 67M
  *    rows per file, an order of magnitude past any sane file size.
  *  - read: the DV table broadcasts (file-count rows) onto the scan; the
  *    probe is one bounds-check + bit-test per row, codegen'd, no shuffle.
  *  - purge: only files whose deleted fraction ≥ threshold are rewritten;
  *    the decision list is a metadata-scale collect of file names.
  */
object DeletionVectors {

  /** The two parquet constant-metadata columns the DV mechanism rides on. */
  private def withPos(table: DataFrame): DataFrame =
    table.withColumn("__dv_file", col("_metadata.file_path"))
      .withColumn("__dv_pos", col("_metadata.row_index"))

  /** One deletion vector per affected file for rows matching `pred`:
    * `(file, dv, n_deleted)`. Files with no matching row get no DV row. */
  def build(table: DataFrame, pred: Column): DataFrame = {
    withPos(table).filter(pred)
      .groupBy(col("__dv_file").as("file"))
      .agg(BitmapSketch.sketchColumn(col("__dv_pos")).as("dv"),
        count(lit(1)).as("n_deleted"))
  }

  /** Merge two DV tables: bitwise OR per file (order-independent, so delete
    * batches can land in any order — the Bitmap blob is a mergeable
    * summary, same discipline as the h5 sketch rollup). */
  def merge(a: DataFrame, b: DataFrame): DataFrame = {
    a.unionByName(b)
      .groupBy(col("file"))
      .agg(BitmapSketch.unionColumn(col("dv")).as("dv"))
      // popcount of the merged bitmap, NOT a sum of the inputs' counts — a
      // row deleted by both batches must count once
      .withColumn("n_deleted", BitmapSketch.countColumn(col("dv")))
  }

  /** Merge-on-read: scan `table`, anti-apply `dvs`. The DV side is
    * file-count rows → broadcast; a file with no DV passes through
    * (null-DV rows survive via the coalesce). Output columns = the data
    * columns, metadata helpers dropped. */
  def applyTo(table: DataFrame, dvs: DataFrame): DataFrame = {
    val dataCols = table.columns.toSeq.map(col)
    // the DV side joins under reserved __dv_* names so a data table that
    // itself has `file`/`dv` columns can never make the condition ambiguous
    withPos(table)
      .join(broadcast(dvs.select(col("file").as("__dv_key"),
          col("dv").as("__dv_bm"))),
        col("__dv_file") === col("__dv_key"), "left")
      .filter(coalesce(!BitmapSketch.containsColumn(col("__dv_bm"), col("__dv_pos")),
        lit(true)))
      .select(dataCols: _*)
  }

  /** Per-file deleted fraction — the purge decision input: `(file, n_rows,
    * n_deleted, frac)`. One metadata-scale aggregate over the scan (row
    * counts per file; at a deployment this comes free from parquet footer
    * statistics rather than a count scan — the shape is the same). */
  def stats(table: DataFrame, dvs: DataFrame): DataFrame =
    withPos(table).groupBy(col("__dv_file").as("file"))
      .agg(count(lit(1)).as("n_rows"))
      .join(dvs.select(col("file"), col("n_deleted")), Seq("file"), "left")
      .withColumn("n_deleted", coalesce(col("n_deleted"), lit(0L)))
      .withColumn("frac", col("n_deleted").cast("double") / col("n_rows"))

  /** Files whose deleted fraction ≥ `threshold` — the rewrite list: the
    * purge commits [[applyTo]] over these files through
    * [[SnapshotTable.commitRewrite]], carrying the cold files over, so the
    * DV table keeps serving the cold files' deletes (rewritten files miss
    * the DV join and pass through clean). Metadata-scale collect (file
    * names only, never data). */
  def purgeCandidates(table: DataFrame, dvs: DataFrame,
      threshold: Double): Seq[String] =
    stats(table, dvs).filter(col("frac") >= threshold)
      .select(col("file")).collect().map(_.getString(0)).toSeq.sorted
}
