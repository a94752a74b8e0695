package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** STREAMING READ of a [[SnapshotTable]] — the table→stream half of the
  * CDC loop (the streaming-sink half is the i12/i13 exactly-once append
  * band): `spark.readStream.format("graft.sources.GraftTableStream")
  * .option("path", root)` turns every COMMITTED VERSION into micro-batch
  * input, so a downstream pipeline follows a table the way it would
  * follow a Kafka topic.
  *
  * Offsets ARE version numbers — the snapshot protocol already provides a
  * totally ordered, atomically published, checkpointable progress marker,
  * so the source needs no bookkeeping of its own: `getOffset` reads the
  * LATEST pointer (one 8-byte read), and `getBatch(v1, v2]` is the set of
  * data files v2's manifest adds over v1's — **O(delta) at any table
  * size**, never a table scan, never a diff. Restart replays from the
  * checkpointed version exactly-once.
  *
  * TWO MODES:
  *  - default (row feed): APPEND-ONLY lineage is required (the Delta
  *    streaming-source rule): a version that REWROTE files
  *    (UPDATE/DELETE/MERGE/OPTIMIZE) fails the batch loudly — rows already
  *    emitted downstream cannot be retracted by a source.
  *  - `option("readChangeFeed", "true")` (i30 — Delta's CDF streaming):
  *    batches carry ROW-LEVEL CHANGES instead of raw rows — the table's
  *    columns plus `_change_type` ('insert'/'delete'), `_n` (multiset
  *    multiplicity) and `_commit_version` — served PER VERSION via
  *    [[SnapshotTable.changes]], so appends still cost O(delta)
  *    while rewrites emit their multiset diff instead of refusing: a
  *    downstream pipeline follows the table through UPDATE/DELETE/MERGE.
  *    Because every version's changes are tagged with that version, the
  *    union of batch ledgers is independent of how versions pack into
  *    micro-batches — what gives the declared query its full value oracle.
  *
  * `option("startingVersion", v)` begins after version v (default 0 = the
  * table's full history, v1 included); starting at the current version
  * tails only future commits. `option("startingTimestamp", ts)` resolves
  * the logical timestamp to the as-of version through the commit-metadata
  * machinery (the m14 convention) and begins after THAT snapshot — a
  * timestamp before the first dated commit is the table's birth. `option("maxVersionsPerBatch", n)` is the
  * backpressure knob (Delta's maxFilesPerTrigger analog): the source
  * implements SupportsAdmissionControl + SupportsTriggerAvailableNow (the
  * FileStreamSource discipline), so catch-up over a long history runs in
  * bounded batches and Trigger.AvailableNow drains exactly to the version
  * committed at run start — no single-batch fallback. The change feed
  * DEFAULTS to a bound of [[GraftTableStream.DefaultCdfMaxVersionsPerBatch]]
  * versions per batch (its getBatch unions one plan per version, so an
  * unbounded catch-up would be a driver-side planning bomb — pass
  * `maxVersionsPerBatch=all` to opt out); the row feed defaults to
  * unbounded (one plan regardless of version count). On a KEYED table
  * (m43) the change feed serves keyed semantics (update_preimage /
  * update_postimage instead of delete+insert), same columns — keyed from
  * the version the key was validated at, keyless before it.
  *
  * The schema is PINNED per checkpoint in the source-metadata directory
  * (`graft.schema.pin`), so refusals are keyed to the checkpoint, never
  * to construction timing (the r18 ADVICE item). SCHEMA TRACKING (r20,
  * Delta's `schemaTrackingLocation`): a CHANGE-FEED restart after an
  * ADDITIVE `ALTER TABLE` (add / rename / widen) RE-PINS the checkpoint
  * to the new generation and CONTINUES from the checkpointed version —
  * pending pre-ALTER versions serve through the m44 field-id projection
  * (added columns NULL-fill). DROP/narrowing crossings, shape changes
  * without field-id metadata, and ANY schema change under the row feed
  * (emitted rows cannot be re-shaped, and the restarted plan was analyzed
  * under the current schema) refuse loudly with the fresh-checkpoint
  * message; an ALTER mid-run refuses the affected batch and tells the
  * operator to restart on the same checkpoint.
  *
  * Implementation note: this is a V1 `Source` — the API whose
  * `getBatch` returns a DataFrame, letting the delta files flow through
  * the ordinary parquet scan (codegen, pushdown, vectorization) instead
  * of a hand-rolled row reader; the `isStreaming` flag crosses the
  * `private[sql]` boundary via [[org.apache.spark.sql.classic.GraftSqlBridge]].
  */
class GraftTableStream extends StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft-table"

  private def root(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft table stream: set .option(\"path\", <snapshot table root>)"))

  private def isCdf(parameters: Map[String, String]): Boolean =
    parameters.get("readChangeFeed").exists(_.equalsIgnoreCase("true"))

  private def cdfSchema(base: StructType): StructType = base
    .add("_change_type", StringType).add("_n", LongType)
    .add("_commit_version", LongType)

  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) = {
    val base = schema.getOrElse(
      SnapshotTable.read(ctx.sparkSession, root(parameters)).schema)
    (s"graft_table(${root(parameters)})",
      if (isCdf(parameters)) cdfSchema(base) else base)
  }

  override def createSource(ctx: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val r = root(parameters)
    // `startingTimestamp` (Delta's analog, r20): resolve the logical
    // timestamp to the as-of version through the m14 commit-metadata
    // machinery and tail changes committed AFTER that snapshot — the same
    // exclusive-start-bound semantics as `CHANGES BETWEEN`'s first bound
    // (a timestamp before the first dated commit is the table's birth,
    // i.e. the full history). Ignored when startingVersion is given.
    val startVer = parameters.get("startingVersion").map(_.toLong)
      .orElse(parameters.get("startingTimestamp").map(ts =>
        SnapshotTable.resolveAsOf(r, ts).getOrElse(0L)))
      .getOrElse(0L)
    new GraftTableStreamSource(ctx, r, startVer,
      isCdf(parameters), metadataPath,
      GraftTableStream.maxVersions(parameters))
  }
}

object GraftTableStream {
  /** The change feed's DEFAULT catch-up bound (r20, the r19 verdict's
    * first item): getBatch unions ONE plan PER VERSION, so an unbounded
    * catch-up from version 0 of a long-history table would union thousands
    * of per-version plans into a single micro-batch — a driver-side
    * planning bomb at scale. Delta ships a bounded default the same way
    * (maxFilesPerTrigger = 1000); `allAvailable` is the explicit opt-in.
    * The row feed stays unbounded by default — its batch is ONE plan over
    * the delta files regardless of version count. */
  val DefaultCdfMaxVersionsPerBatch = 100

  private[graft] def maxVersions(
      parameters: Map[String, String]): Option[Int] =
    parameters.get("maxVersionsPerBatch") match {
      case Some(s) if s.equalsIgnoreCase("all") ||
        s.equalsIgnoreCase("allAvailable") => None
      case Some(s) =>
        // a non-positive bound would make latestOffset return null on
        // every trigger — a stream that silently stalls forever; refuse
        // at construction with the option named (Delta validates
        // maxFilesPerTrigger the same way)
        val n = try s.toInt catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"graft table stream: maxVersionsPerBatch must be a positive " +
              s"integer or 'all' (got '$s')")
        }
        require(n > 0, "graft table stream: maxVersionsPerBatch must be " +
          s"a positive integer or 'all' (got $n)")
        Some(n)
      case None if parameters.get("readChangeFeed")
        .exists(_.equalsIgnoreCase("true")) =>
        Some(DefaultCdfMaxVersionsPerBatch)
      case None => None
    }
}

private[sources] class GraftTableStreamSource(ctx: SQLContext, root: String,
    startingVersion: Long, cdf: Boolean, metadataPath: String,
    maxVersionsPerBatch: Option[Int]) extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  private val spark =
    ctx.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** The version whose schema generation the stream serves under, pinned
    * per checkpoint: written at first start, read back on restart
    * (single-writer — the streaming driver owns its checkpoint). SCHEMA
    * TRACKING (r20, Delta's `schemaTrackingLocation`): a CHANGE-FEED
    * restart that finds the table ALTERed since the pin RE-PINS to the new
    * generation when the evolution is ADDITIVE — pending pre-ALTER
    * versions then serve through the m44 field-id projection (renames come
    * back under new names, widenings upcast, added columns NULL-fill) and
    * the stream continues from the checkpointed version instead of
    * abandoning its progress. DROP/narrowing still refuses loudly (old
    * rows cannot be replayed under the new schema), as does any shape
    * change without field-id metadata. The ROW feed never re-pins —
    * emitted rows cannot be re-shaped, and the restarted plan was analyzed
    * under the CURRENT schema (the r19 ADVICE pin-vs-plan finding), so a
    * schema change refuses at construction with the fresh-checkpoint
    * message rather than binding old rows by position into a new-schema
    * plan. */
  private val pinPath = new org.apache.hadoop.fs.Path(metadataPath,
    "graft.schema.pin")
  private val pinFs =
    pinPath.getFileSystem(spark.sessionState.newHadoopConf())

  private def readPin(): Option[Long] =
    if (!pinFs.exists(pinPath)) None
    else {
      val in = pinFs.open(pinPath)
      val line =
        try new java.io.BufferedReader(
          new java.io.InputStreamReader(in, "UTF-8")).readLine()
        finally in.close()
      // an empty/torn pin (legacy non-atomic write) re-pins — safe: the
      // pin is written before the FIRST getBatch, so a missing value means
      // no batch was ever served under a different generation (and a
      // tracking re-pin that crashed mid-swap re-resolves to the same
      // current generation on the next restart)
      Option(line).map(_.trim).filter(_.nonEmpty).map(_.toLong)
    }

  /** Stage + rename (the repo's pointer-swap discipline): the pin must
    * never exist half-written — a crash mid-write would otherwise leave a
    * restart failing on an empty file forever. */
  private def writePin(v: Long): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(metadataPath,
      s".graft.schema.pin.tmp.${System.nanoTime()}")
    val out = pinFs.create(tmp, true)
    try out.write(s"$v\n".getBytes("UTF-8")) finally out.close()
    // RENAME FIRST: on filesystems whose rename overwrites this is the
    // whole swap; only when it refuses (an existing pin on a
    // no-overwrite filesystem) delete-and-retry — which shrinks the
    // no-pin crash window of a tracking RE-pin to that retry path alone
    // (a fresh start has no existing pin, so its swap stays atomic)
    if (!pinFs.rename(tmp, pinPath)) {
      if (pinFs.exists(pinPath)) pinFs.delete(pinPath, false)
      if (!pinFs.rename(tmp, pinPath)) {
        // lost a (theoretical) race to another starter: their pin wins
        pinFs.delete(tmp, false)
      }
    }
    ()
  }

  private val pinnedVersion: Long = readPin() match {
    case None =>
      val v = SnapshotTable.latestVersion(root).getOrElse(
        throw new IllegalStateException(
          s"graft table stream: no committed snapshot at $root"))
      writePin(v)
      readPin().getOrElse(throw new IllegalStateException(
        s"graft table stream: could not persist the schema pin at $pinPath"))
    case Some(pin) =>
      val latest = SnapshotTable.latestVersion(root).getOrElse(pin)
      val pinGen = SnapshotTable.schemaAt(root, pin)
      val curGen = SnapshotTable.schemaAt(root, latest)
      // equal DEFINED generations pin names/types by construction — only
      // metadata-less plain tables need the structural footer comparison
      // (a recommit can reshape them without any sidecar changing)
      lazy val sameShape = (pinGen, curGen) match {
        case (Some(a), Some(b)) => a == b
        case (None, None) => pin == latest ||
          SnapshotTable.read(spark, root, pin).schema ==
            SnapshotTable.read(spark, root, latest).schema
        case _ => false
      }
      if (sameShape) pin
      else if (!cdf) throw new IllegalStateException(
        s"graft table stream: the schema of $root changed since this " +
          "checkpoint's stream started — a row feed cannot re-shape " +
          "emitted rows; restart with a FRESH checkpoint (startingVersion " +
          "past the schema change), or follow the table with " +
          "option(\"readChangeFeed\", \"true\"), whose restarts track " +
          "additive schema changes")
      else (pinGen, curGen) match {
        case (Some(from), Some(to)) =>
          SnapshotTable.evolutionRefusal(from, to).foreach(r =>
            throw new IllegalStateException(
              s"graft table stream: the schema of $root crossed a $r " +
                "since this checkpoint's stream started — old change rows " +
                "cannot be replayed under the new schema; restart with a " +
                "FRESH checkpoint"))
          writePin(latest) // additive: re-pin and continue from the offset
          latest
        case _ => throw new IllegalStateException(
          s"graft table stream: the schema of $root changed WITHOUT " +
            "field-id evolution metadata since this checkpoint's stream " +
            "started — old change rows cannot be projected; restart with " +
            "a FRESH checkpoint")
      }
  }

  // the schema generation the stream STARTED under (from the PINNED
  // version, never from construction-time latest): every batch must be
  // served under this one schema — emitted rows cannot be re-shaped
  private val startSchemaGen = SnapshotTable.schemaAt(root, pinnedVersion)

  private val baseSchema: StructType =
    SnapshotTable.read(spark, root, pinnedVersion).schema

  override val schema: StructType =
    if (cdf) baseSchema.add("_change_type", StringType).add("_n", LongType)
      .add("_commit_version", LongType)
    else baseSchema

  /** The version a (V1 or connector) offset denotes — the V1 streaming
    * Offset extends the connector one, so one decoder serves both the
    * getBatch and the admission-control paths. */
  private def versionOf(
      o: org.apache.spark.sql.connector.read.streaming.Offset): Long =
    o match {
      case l: LongOffset => l.offset
      case other => other.json.trim.toLong // SerializedOffset from a restart
    }

  // ADMISSION CONTROL (r19): the engine drives this source through
  // latestOffset(start, limit) instead of the legacy getOffset, which
  // gives the table stream (a) REAL Trigger.AvailableNow semantics — the
  // run drains exactly to the version committed when it STARTED (pinned by
  // prepareForTriggerAvailableNow) instead of the single-batch fallback —
  // and (b) `option("maxVersionsPerBatch", n)` backpressure, Delta's
  // maxFilesPerTrigger analog: a stream starting against a long table
  // history catches up in bounded batches instead of one giant one. Both
  // reads are metadata (a pointer + version arithmetic).
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowCap = SnapshotTable.latestVersion(root)
  }

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit = {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    maxVersionsPerBatch.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())
  }

  override def latestOffset(
      startOffset: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset = {
    val start = Option(startOffset).map(versionOf).getOrElse(startingVersion)
    val latestNow = SnapshotTable.latestVersion(root).getOrElse(startingVersion)
    val capped = availableNowCap.fold(latestNow)(math.min(latestNow, _))
    val end = limit match {
      case f: org.apache.spark.sql.connector.read.streaming.ReadMaxFiles =>
        math.min(capped, start + f.maxFiles())
      case _ => capped
    }
    if (end <= start) null else LongOffset(end)
  }

  /** Unused once SupportsAdmissionControl is implemented — the engine
    * calls [[latestOffset]] (the FileStreamSource discipline). */
  override def getOffset: Option[Offset] =
    throw new UnsupportedOperationException(
      "graft table stream: latestOffset(Offset, ReadLimit) drives this source")

  /** One version's row-level changes under the CDF contract: (v-1, v]
    * through [[SnapshotTable.changes]] (v1 = 0 is the empty table, so
    * version 1 is the table's birth — every row an insert), which picks
    * the keyed kernel per version once the key's validation version is
    * reached (same columns either way) — O(delta) on append lineage, a diff
    * only across rewrites. Tagged with the commit version so the union
    * ledger is micro-batch-packing-independent. */
  private def versionChanges(v: Long): DataFrame = {
    val gen = SnapshotTable.schemaAt(root, v)
    val cols = baseSchema.fieldNames.toSeq
    val raw = SnapshotTable.changes(spark, root, v - 1, v)
    val base =
      if (gen == startSchemaGen) raw
      else {
        // only versions AT OR BELOW the pin differ benignly (pre-ALTER
        // backlog after a tracking re-pin — project them up); a different
        // generation ABOVE the pin is an ALTER that landed MID-RUN, and a
        // running plan cannot re-shape — the restart on the SAME
        // checkpoint re-pins (additive) and continues from the offset
        require(v <= pinnedVersion,
          s"graft table stream: version $v of $root was committed under a " +
            "different schema than the stream is pinned to — a running " +
            "stream cannot re-shape its plan; restart the stream on the " +
            "SAME checkpoint (additive schema changes re-pin and continue)")
        (gen, startSchemaGen) match {
          case (Some(from), Some(target)) =>
            // the backlog projection is gated the same way as the re-pin:
            // a version whose evolution to the pinned generation crosses a
            // DROP/narrowing cannot be replayed — projecting it would
            // silently lose (or lossily cast) the affected column
            SnapshotTable.evolutionRefusal(from, target).foreach(r =>
              throw new IllegalStateException(
                s"graft table stream: version $v of $root was committed " +
                  s"under a schema whose evolution to the stream's pinned " +
                  s"generation crosses a $r — its change rows cannot be " +
                  "replayed; start past the change with startingVersion"))
            SnapshotTable.projectFeedTo(raw, root, v, target)
          case _ => throw new IllegalStateException(
            s"graft table stream: version $v of $root predates the " +
              "table's field-id evolution metadata — its change rows " +
              "cannot be projected to the pinned schema; restart with a " +
              "fresh checkpoint past the schema change")
        }
      }
    base.withColumn("_commit_version", lit(v))
      .select(cols.map(col) ++ Seq(col("_change_type"), col("_n"),
        col("_commit_version")): _*)
  }

  /** Batch (v1, v2]: the row feed reads exactly the files v2's manifest
    * adds over v1's; the change feed unions each contained version's
    * changes. */
  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val v1 = start.map(versionOf).getOrElse(startingVersion)
    val v2 = versionOf(end)
    val batch =
      if (cdf) {
        (v1 + 1 to v2).map(versionChanges)
          .reduceOption(_.unionByName(_))
          .getOrElse(spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](), schema))
      } else {
        // every delta file must have been written under THE STREAM'S schema:
        // an ALTER TABLE mid-stream (or a pre-evolution generation reached by
        // startingVersion 0) would otherwise be force-read under the wrong
        // names and silently NULL-fill renamed columns into emitted rows
        SnapshotTable.appendedRows(spark, root, v1, v2, schema, startSchemaGen,
          s"graft table stream: versions ($v1, $v2] of $root carry files " +
            "whose physical schema differs from the stream's — the table " +
            "was reshaped without field-id evolution metadata; restart " +
            "with a fresh checkpoint past the schema change")
          .getOrElse(throw new IllegalArgumentException(
            s"graft table stream: versions ($v1, $v2] of $root are not " +
              "append-only under the stream's schema — a rewrite " +
              "(UPDATE/DELETE/MERGE/OPTIMIZE) cannot stream as a row feed " +
              "(already-emitted rows cannot be retracted), nor can files " +
              "written under a different schema than the stream started " +
              "with (a stream cannot re-shape emitted rows); use " +
              "option(\"readChangeFeed\", \"true\") to follow rewrites as " +
              "row-level changes, or restart past the rewrite or the schema " +
              "change with startingVersion"))
      }
    org.apache.spark.sql.classic.GraftSqlBridge.streamingDf(
      spark, batch.queryExecution.toRdd, schema)
  }

  override def stop(): Unit = ()
}
