package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SURVEY §2 A (scans/sources/sinks) + B (projection/filter).
  *
  * Every query ends in a total ORDER BY with a unique tiebreaker and rounds
  * floating projections (§7.4 determinism rules).
  */
object ScanFilterQueries extends QueryModule {

  /** The Kafka-shaped [[graft.sources.GraftLog]] fixture: events keyed into
    * 4 log partitions by user_id % 4, per-partition offsets following
    * event_id order — so offsets, record payloads, and (capped) micro-batch
    * boundaries all replay in SQL. Fingerprint-guarded like every derived
    * fixture. Segments are written as ONE distributed text job per
    * partition and adopted under the broker layout; a live producer appends
    * through [[graft.sources.GraftLog.append]] instead (LogSourceSpec
    * exercises that path plus checkpointed offset resume). */
  private[operators] def logFixture(s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    // partition count is the log's PARALLELISM UNIT (the Kafka model:
    // reader concurrency == partition count). The graded fixtures keep the
    // default 4 — the oracles replay `user_id % 4` — while the sf10
    // scaling runs set spark.graft.logPartitions=16 to demonstrate the
    // batch-read wall dropping with partition count (SCALING_r18 §item 7).
    val nParts = s.conf.get("spark.graft.logPartitions", "4").toInt
    val root = Tables.scratch(s"log_src${if (nParts == 4) "" else s"_p$nParts"}", dir)
    Tables.staged(root, s"${Tables.stamp(s"$dir/events.parquet")}:p$nParts") {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("p").orderBy("event_id")
      val ev = Tables(s, dir).events
        .withColumn("ts", col("ts").cast("timestamp"))
        .withColumn("p", pmod(col("user_id"), lit(nParts.toLong)))
        .withColumn("off", row_number().over(w).cast("long") - 1)
        .withColumn("line", concat_ws("\t", col("off"),
          unix_micros(col("ts")), col("user_id"), col("event_type"),
          col("value")))
        .localCheckpoint()
      (0 until nParts).foreach { p =>
        val stage = s"$root/stage_$p"
        val part = ev.filter(col("p") === p)
        part.orderBy("off").select("line")
          .coalesce(1).write.mode("overwrite").text(stage)
        val seg = Files.list(Paths.get(stage)).iterator().asScala
          .find(_.getFileName.toString.endsWith(".txt")).get
        Files.createDirectories(Paths.get(root, s"p=$p"))
        Files.move(seg, Paths.get(root, s"p=$p", f"${0L}%020d.seg"),
          StandardCopyOption.REPLACE_EXISTING)
        Files.write(Paths.get(root, s"p=$p", "_end"),
          part.count().toString.getBytes("UTF-8"))
        Tables.rmrf(stage)
      }
    }
  }

  val queries: Seq[(String, QFn)] = Seq(
    // A1: plain parquet scan.
    "a1_scan_parquet" -> ((s, dir) =>
      Tables(s, dir).region.orderBy("r_regionkey")),

    // A2: nanosecond-timestamp scan (events) — ns read as long, exact µs convert.
    "a2_scan_parquet_nanos" -> ((s, dir) =>
      Tables(s, dir).events
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          round(col("value"), 6).as("value"), col("props"))
        .orderBy("event_id")),

    // A3: CSV round-trip — write the region fixture as CSV, read it back with
    // an explicit schema. Oracle reads the parquet directly (round-trip is
    // lossless for these types).
    "a3_scan_csv" -> ((s, dir) => {
      val t = Tables(s, dir)
      val path = Tables.scratch("csv_region", dir)
      t.region.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)
      s.read.schema("r_regionkey INT, r_name STRING")
        .option("header", "true").csv(path)
        .orderBy("r_regionkey")
    }),

    // A13: malformed-record handling — the ingest-robustness contract. A
    // deterministic CSV mixes well-formed rows (40) with type-corrupt (5)
    // and ragged (5) ones; PERMISSIVE parsing quarantines unparseable
    // lines into _corrupt_record instead of failing the job (the posture
    // a 100 TB ingest needs) and null-pads ragged-but-parseable rows.
    // The query reports the good/corrupt split plus the good-row
    // checksum; oracle is the known VALUES row (the fixture is
    // synthesized in-query, deterministically).
    "a13_scan_corrupt_records" -> ((s, dir) => {
      val path = Tables.scratch("csv_corrupt", dir)
      val lines = (0 until 50).map { i =>
        if (i % 10 == 7) s"$i,not_a_number"   // type-corrupt value
        else if (i % 10 == 3) s"$i"           // ragged: missing column
        else s"$i,${i * 2}"
      }
      val csv = lines.mkString("\n")
      Tables.staged(path, Integer.toHexString(csv.hashCode)) {
        java.nio.file.Files.write(java.nio.file.Paths.get(path, "data.csv"),
          csv.getBytes("UTF-8"))
      }
      s.read
        .schema("id INT, v INT, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .csv(s"$path/data.csv")
        .agg(count(when(col("_corrupt_record").isNull, 1)).as("n_good"),
          count(col("_corrupt_record")).as("n_corrupt"),
          sum(when(col("_corrupt_record").isNull, col("v"))).as("good_v_sum"))
    }),

    // A14: CATALOG persistence — the metastore surface path-based reads
    // skip: the slice is saved as a MANAGED table (`saveAsTable` into a
    // tmp-located database), `ANALYZE TABLE ... FOR ALL COLUMNS` computes
    // CBO statistics, and the read goes back through `spark.table` name
    // resolution. The query self-asserts that the analyzed row count is
    // actually in the catalog (the stats that drive CostBasedJoinReorder —
    // exercised end-to-end in PlanSpec's cbo test), so a silently-dropped
    // ANALYZE fails loudly rather than passing as a plain scan.
    "a14_catalog_table" -> ((s, dir) => {
      val db = s"graft_cat_${Tables.pathKey(dir)}"
      val loc = Tables.scratch("catalog_db", dir)
      s.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
      s.sql(s"DROP TABLE IF EXISTS $db.orders_managed")
      // the in-memory catalog forgets tables across JVMs but their FILES
      // survive — clear the managed location or a fresh session's
      // saveAsTable dies with LOCATION_ALREADY_EXISTS
      Tables.rmrf(s"$loc/orders_managed")
      val t = Tables(s, dir)
      t.orders.filter(col("o_orderkey") % 11 === 0)
        .write.mode("overwrite").saveAsTable(s"$db.orders_managed")
      s.sql(s"ANALYZE TABLE $db.orders_managed COMPUTE STATISTICS FOR ALL COLUMNS")
      // self-assert the statistics really landed in the CATALOG (read via
      // DESCRIBE so the check is independent of the session's CBO conf)
      val statLine = s.sql(s"DESC EXTENDED $db.orders_managed")
        .filter(col("col_name") === "Statistics")
        .collect().map(_.getString(1)).headOption.getOrElse("")
      require(statLine.contains("rows"),
        s"ANALYZE left no row-count statistic in the catalog (got '$statLine')")
      s.table(s"$db.orders_managed")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), Tables.dsum(col("o_totalprice")).as("total_d"))
        .select(col("o_orderpriority"), col("n"), round(col("total_d"), 6).as("total"))
        .orderBy("o_orderpriority")
    }),

    // A3b: JSON round-trip over nation.
    "a3b_scan_json" -> ((s, dir) => {
      val t = Tables(s, dir)
      val path = Tables.scratch("json_nation", dir)
      t.nation.coalesce(1).write.mode("overwrite").json(path)
      s.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT").json(path)
        .orderBy("n_nationkey")
    }),

    // A3c: ORC round-trip — third columnar format; oracle reads the original
    // parquet (round-trip is lossless for these types).
    "a3c_scan_orc" -> ((s, dir) => {
      val t = Tables(s, dir)
      val path = Tables.scratch("orc_nation", dir)
      t.nation.coalesce(1).write.mode("overwrite").orc(path)
      s.read.orc(path).orderBy("n_nationkey")
    }),

    // A3d: line-text round-trip — the rawest source format (one string
    // column per line), the shape crawled corpora arrive in.
    "a3d_scan_text" -> ((s, dir) => {
      val t = Tables(s, dir)
      val path = Tables.scratch("text_docs", dir)
      t.documents.select(col("text")).coalesce(1)
        .write.mode("overwrite").text(path)
      s.read.text(path).orderBy("value")
    }),

    // A3e: XML round-trip — Spark 4's built-in XML source (the spark-xml
    // package merged upstream): write nation as <nations><nation>…</nation>
    // rows, read back with rowTag + explicit schema. Oracle reads the
    // original parquet (round-trip is lossless for these types).
    "a3e_scan_xml" -> ((s, dir) => {
      val t = Tables(s, dir)
      val path = Tables.scratch("xml_nation", dir)
      t.nation.coalesce(1).write.mode("overwrite")
        .option("rowTag", "nation").option("rootTag", "nations")
        .format("xml").save(path)
      s.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .option("rowTag", "nation").format("xml").load(path)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .orderBy("n_nationkey")
    }),

    // A12: production observability — Dataset.observe() attaches streaming-
    // safe accumulator metrics to a scan (row counts, checksums) that a 100 TB
    // pipeline reads per-batch WITHOUT a second pass over the data. The query
    // runs one counted pass over lineitem and returns the observed metrics;
    // the oracle recomputes them relationally.
    "a12_observe_metrics" -> ((s, dir) => {
      val t = Tables(s, dir)
      val obs = org.apache.spark.sql.Observation(s"a12_${System.nanoTime}")
      val observed = t.lineitem.observe(obs,
        count(lit(1)).as("n_rows"),
        Tables.dsum(col("l_quantity")).as("sum_qty"),
        Tables.dsum(col("l_extendedprice")).as("sum_price"))
      // one real pass, no collect: the noop sink consumes InternalRows
      // inside codegen — Dataset.foreach would deserialize every row into a
      // Scala Row just to discard it (measured 30x the scan cost at sf10)
      observed.write.format("noop").mode("overwrite").save()
      val m = obs.get
      import s.implicits._
      Seq((m("n_rows").asInstanceOf[Long],
        m("sum_qty").asInstanceOf[Double],
        m("sum_price").asInstanceOf[Double]))
        .toDF("n_rows", "sum_qty", "sum_price")
    }),

    // A4: parquet sink round-trip (write → re-read → aggregate).
    "a4_sink_parquet_roundtrip" -> ((s, dir) => {
      val t = Tables(s, dir)
      val path = Tables.scratch("sink_orders", dir)
      t.orders.filter(col("o_totalprice") > 300000.0)
        .coalesce(1).write.mode("overwrite").parquet(path)
      s.read.parquet(path)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), Tables.dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderstatus")
    }),

    // A6: partitioned layout + partition pruning — events written
    // partitioned by day, then read with a single-day filter: the scan
    // lists ONE directory (PartitionFilters, asserted in PlanSpec), the
    // on-disk layout every 100 TB table needs. Oracle filters the original.
    "a6_partition_pruning" -> ((s, dir) => {
      val t = Tables(s, dir)
      val path = Tables.scratch("events_byday", dir)
      if (!new java.io.File(s"$path/_SUCCESS").exists()) {
        t.events.withColumn("day", date_trunc("day", col("ts")).cast("date"))
          .write.mode("overwrite").partitionBy("day").parquet(path)
      }
      s.read.parquet(path)
        .filter(col("day") === lit("2024-01-05").cast("date"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), Tables.dsum(col("value")).as("val_sum"))
        .orderBy("event_type")
    }),

    // A7: schema evolution — two parquet files with different schemas (v2
    // adds n_regionkey) merged into one logical table via mergeSchema; the
    // missing column null-fills. This is how a 100 TB table absorbs a schema
    // change without rewriting history. Oracle reproduces the union shape.
    "a7_schema_evolution" -> ((s, dir) => {
      val t = Tables(s, dir)
      val path = Tables.scratch("evo_nation", dir)
      t.nation.select(col("n_nationkey"), col("n_name"))
        .withColumn("v", lit("v1"))
        .coalesce(1).write.mode("overwrite").parquet(s"$path/p1")
      t.nation.select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .withColumn("v", lit("v2"))
        .coalesce(1).write.mode("overwrite").parquet(s"$path/p2")
      s.read.option("mergeSchema", "true").parquet(s"$path/p1", s"$path/p2")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"), col("v"))
        .orderBy("v", "n_nationkey")
    }),

    // A8: dynamic-partition-overwrite upsert — the lakehouse-free way to
    // correct one day of a 100 TB partitioned table: rewrite ONLY the
    // affected partition directory, leave the other 29 days' files alone.
    // Seed writes all days (static overwrite), the "correction" doubles day
    // 3's values and overwrites just that partition (dynamic mode).
    "a8_upsert_dynamic_partition" -> ((s, dir) => {
      val t = Tables(s, dir)
      val path = Tables.scratch("events_upsert", dir)
      val ev = t.events.withColumn("day", date_trunc("day", col("ts")).cast("date"))
      def overwrite(mode: String, df: DataFrame): Unit =
        Tables.withConf(s, "spark.sql.sources.partitionOverwriteMode" -> mode)(c =>
          Tables.rehome(c, df).write.mode("overwrite").partitionBy("day").parquet(path))
      overwrite("static", ev)
      overwrite("dynamic", ev.filter(col("day") === lit("2024-01-03").cast("date"))
        .withColumn("value", col("value") * 2))
      s.read.parquet(path)
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n"), Tables.dsum(col("value")).as("val_sum"))
        .orderBy("day")
    }),

    // A9: small-file compaction — ingest leaves 16 files per day partition;
    // one repartition-by-partition-key pass rewrites each day as a single
    // file (every day hashes to exactly one task). input_file_name() proves
    // it: 1 distinct file per day after compaction. The no-op-looking shuffle
    // is the entire point — at 100 TB, file-count pathology kills scans.
    "a9_compact_small_files" -> ((s, dir) => {
      val t = Tables(s, dir)
      val path = Tables.scratch("events_compact", dir)
      // The fragmented ingest layout is test SETUP (the pathology), not the
      // operator under measurement — materialize it once per sfDir, like a6.
      if (!new java.io.File(s"$path/frag/_SUCCESS").exists()) {
        t.events.withColumn("day", date_trunc("day", col("ts")).cast("date"))
          .repartition(16)
          .write.mode("overwrite").partitionBy("day").parquet(s"$path/frag")
      }
      s.read.parquet(s"$path/frag")
        .repartition(col("day"))
        .write.mode("overwrite").partitionBy("day").parquet(s"$path/compact")
      s.read.parquet(s"$path/compact")
        .withColumn("fname", input_file_name())
        .groupBy(col("day"))
        .agg(countDistinct(col("fname")).as("n_files"),
          count(lit(1)).as("n"), Tables.dsum(col("value")).as("val_sum"))
        .orderBy("day")
    }),

    // A10: custom DataSource V2 connector (graft.sources.RangeEventsSource)
    // — the source extension tier for feeds the built-in formats can't read.
    // The generated stream is a pure function of the row id, so DuckDB
    // replays it from range(); aggregation is all-integer (no float risk).
    "a10_scan_custom_source" -> ((s, dir) => {
      s.read.format("graft.sources.RangeEventsSource")
        .option("rows", "10000").option("parts", "8").load()
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n"), sum(col("h")).as("hsum"))
        .orderBy("grp")
    }),

    // A10b: the same custom source with range predicates on `id` PUSHED into
    // the generator (SupportsPushDownFilters clips the slice bounds — rows
    // outside [2000, 7000) are never materialized; plan-asserted in PlanSpec).
    "a10b_scan_custom_pushdown" -> ((s, dir) => {
      s.read.format("graft.sources.RangeEventsSource")
        .option("rows", "10000").option("parts", "8").load()
        .filter(col("id") >= 2000 && col("id") < 7000)
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n"), sum(col("h")).as("hsum"))
        .orderBy("grp")
    }),

    // A16: KAFKA-SHAPED PARTITIONED LOG, batch read — the network-connector
    // contract (numbered partitions, per-partition monotone offsets,
    // seek-by-segment) over the sandbox's filesystem transport
    // (sources/GraftLogSource.scala). The graded row proves the offset
    // semantics, not just row counts: consecutive offsets per partition
    // (max_offset = n-1), offset order following the producer's event_id
    // order (the user at offset 0 IS the partition's min-event_id user),
    // and exact payload round-trip (the decimal value rollup). The
    // streaming half is i26; checkpointed resume is LogSourceSpec.
    "a16_scan_log_offsets" -> ((s, dir) => {
      val root = logFixture(s, dir)
      s.read.format("graft.sources.GraftLogSource").option("path", root).load()
        .groupBy(col("p"))
        .agg(count(lit(1)).as("n"), max(col("offset")).as("max_offset"),
          max(when(col("offset") === 0, col("user_id"))).as("first_user"),
          round(Tables.dsum(col("value")), 6).as("val_sum"))
        .orderBy("p")
    }),

    // A11: custom DataSource V2 WRITE path (graft.sources.GraftTsvSink) —
    // executor-local part files + driver-side atomic-rename commit, then
    // read back through the same provider. The oracle recomputes the
    // aggregate directly, so the roundtrip must preserve every value.
    "a11_sink_custom_roundtrip" -> ((s, dir) => {
      val t = Tables(s, dir)
      val path = Tables.scratch("graft_tsv_a11", dir)
      t.orders
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), Tables.dsum(col("o_totalprice")).as("total"))
        .write.format("graft.sources.GraftTsvSink")
        .mode("overwrite").option("path", path).save()
      s.read.format("graft.sources.GraftTsvSink").option("path", path).load()
        .orderBy("o_orderpriority")
    }),

    // A15: RAW-FILE multimodal ingest via the binaryFile source — the drop-
    // zone half the multimodal band (g10/g14/g63) reads from parquet today:
    // objects land as ONE FILE EACH (camera uploads, scraped images), and
    // `binaryFile` turns the directory into (path, length, content) rows
    // with no decode step. Here 64 GRF1 containers (g14's format) are
    // staged executor-side (foreachPartition — the write is distributed,
    // names derived from data, so any partitioning produces the same tree),
    // scanned back with a pathGlobFilter, and header-parsed declaratively
    // (byte slices on the BINARY column — no UDF). modificationTime is
    // dropped: wall-clock, not data. At 100 TB the source parallelizes
    // per-file with small files packed into splits by maxPartitionBytes;
    // the glob and the id-from-path parse are the catalog's job, shown
    // here in-plan. Oracle: every header field is derivable from the
    // documents row that generated the file.
    "a15_scan_binaryfile" -> ((s, dir) => {
      val t = Tables(s, dir)
      val path = Tables.scratch("graft_bin_a15", dir)
      Tables.rmrf(path) // no stale drop-zone files across reruns
      new java.io.File(path).mkdirs()
      val bin = t.documents.filter(col("doc_id") < 64)
        .withColumn("h", expr("CAST(greatest(1, least(8, n_chars DIV 8)) AS INT)"))
        .select(col("doc_id"),
          concat(
            lit("GRF1".getBytes("UTF-8")),
            encode(expr("chr(8)"), "UTF-8"),
            encode(expr("chr(h)"), "UTF-8"),
            lit(Array[Byte](0, 0)),
            encode(expr("rpad(substring(text, 1, 8 * h), 8 * h, ' ')"), "UTF-8"))
            .as("content"))
      bin.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        rows.foreach { r =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(path, s"doc_${r.getLong(0)}.grf"),
            r.getAs[Array[Byte]]("content"))
        }
      }
      s.read.format("binaryFile").option("pathGlobFilter", "*.grf").load(path)
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.grf$", 1).cast("long").as("doc_id"),
          col("length").as("n_bytes"),
          expr("ascii(decode(substring(content, 5, 1), 'UTF-8'))").as("w"),
          expr("ascii(decode(substring(content, 6, 1), 'UTF-8'))").as("h"),
          expr("decode(substring(content, 1, 4), 'UTF-8')").as("magic"))
        .orderBy("doc_id")
    }),

    // B1: projection incl. computed column; per-row double math is
    // IEEE-identical across engines. lineitem has no unique key → ORDER BY ALL.
    "b1_project" -> ((s, dir) =>
      Tables.orderAll(Tables(s, dir).lineitem.select(
        col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")), 6).as("charge")))),

    // B2: conjunctive/disjunctive predicates, BETWEEN / IN / LIKE; all pushed
    // to the parquet scan (asserted in PlanSpec).
    "b2_filter_pred" -> ((s, dir) =>
      Tables(s, dir).lineitem
        .filter(col("l_shipdate").between(lit("1996-01-01").cast("timestamp"),
          lit("1998-12-31").cast("timestamp")))
        .filter(col("l_discount").between(0.02, 0.08))
        .filter(col("l_returnflag").isin("A", "R") || col("l_linestatus") === "F")
        .filter(col("l_quantity") < 30.0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag"), col("l_linestatus"))
        .transform(Tables.orderAll))
  )

  val oracles: Seq[(String, String)] = Seq(
    "a1_scan_parquet" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",

    // the log's partition/offset assignment replayed from the raw events:
    // partition = user_id % 4, offset = event_id rank within the partition
    "a16_scan_log_offsets" ->
      ("WITH ev AS (SELECT user_id % 4 AS p, user_id, value, " +
        "row_number() OVER (PARTITION BY user_id % 4 ORDER BY event_id) - 1 AS off " +
        "FROM events) " +
        "SELECT p, count(*) AS n, max(off) AS max_offset, " +
        "max(CASE WHEN off = 0 THEN user_id END) AS first_user, " +
        s"round(${Tables.dsumSql("value")}, 6) AS val_sum " +
        "FROM ev GROUP BY p ORDER BY p"),

    "a2_scan_parquet_nanos" ->
      ("SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, " +
        "round(value, 6) AS value, props FROM events ORDER BY event_id"),

    "a3_scan_csv" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",

    // 40 good rows (sum 2i = 1950), 5 type-corrupt, 5 ragged (null-padded
    // good rows with v NULL) — fully determined by the synthesized fixture
    "a13_scan_corrupt_records" ->
      ("SELECT * FROM (VALUES (45, 5, 1950)) t(n_good, n_corrupt, good_v_sum)"),

    "a14_catalog_table" ->
      (s"SELECT o_orderpriority, count(*) AS n, " +
        s"round(${Tables.dsumSql("o_totalprice")}, 6) AS total FROM orders " +
        "WHERE o_orderkey % 11 = 0 GROUP BY 1 ORDER BY o_orderpriority"),

    "a3b_scan_json" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",

    "a3c_scan_orc" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",

    "a3d_scan_text" ->
      "SELECT text AS value FROM documents ORDER BY value",

    "a3e_scan_xml" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",

    "a12_observe_metrics" ->
      (s"SELECT count(*) AS n_rows, ${Tables.dsumSql("l_quantity")} AS sum_qty, " +
        s"${Tables.dsumSql("l_extendedprice")} AS sum_price FROM lineitem"),

    "a4_sink_parquet_roundtrip" ->
      (s"SELECT o_orderstatus, count(*) AS n, ${Tables.dsumSql("o_totalprice")} AS total " +
        "FROM orders WHERE o_totalprice > 300000.0 GROUP BY o_orderstatus ORDER BY o_orderstatus"),

    "a6_partition_pruning" ->
      (s"SELECT event_type, count(*) AS n, ${Tables.dsumSql("value")} AS val_sum " +
        "FROM events WHERE date_trunc('day', CAST(ts AS TIMESTAMP)) = TIMESTAMP '2024-01-05' " +
        "GROUP BY event_type ORDER BY event_type"),

    "a7_schema_evolution" ->
      ("SELECT n_nationkey, n_name, CAST(NULL AS INTEGER) AS n_regionkey, 'v1' AS v FROM nation " +
        "UNION ALL SELECT n_nationkey, n_name, n_regionkey, 'v2' AS v FROM nation " +
        "ORDER BY v, n_nationkey"),

    "a8_upsert_dynamic_partition" ->
      (s"SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day, " +
        "count(*) AS n, " +
        s"${Tables.dsumSql(
          "CASE WHEN CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) = DATE '2024-01-03' " +
            "THEN value * 2 ELSE value END")} AS val_sum " +
        "FROM events GROUP BY 1 ORDER BY day"),

    "a9_compact_small_files" ->
      (s"SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day, " +
        "CAST(1 AS BIGINT) AS n_files, count(*) AS n, " +
        s"${Tables.dsumSql("value")} AS val_sum " +
        "FROM events GROUP BY 1 ORDER BY day"),

    "a10_scan_custom_source" ->
      ("SELECT CAST(id % 10 AS INT) AS grp, count(*) AS n, " +
        "CAST(sum((id * 2654435761) % 1000003) AS BIGINT) AS hsum " +
        "FROM range(10000) t(id) GROUP BY 1 ORDER BY grp"),

    "a10b_scan_custom_pushdown" ->
      ("SELECT CAST(id % 10 AS INT) AS grp, count(*) AS n, " +
        "CAST(sum((id * 2654435761) % 1000003) AS BIGINT) AS hsum " +
        "FROM range(2000, 7000) t(id) GROUP BY 1 ORDER BY grp"),

    "a11_sink_custom_roundtrip" ->
      (s"SELECT o_orderpriority, count(*) AS n, ${Tables.dsumSql("o_totalprice")} AS total " +
        "FROM orders GROUP BY 1 ORDER BY o_orderpriority"),

    // each staged file's size and header are derivable from the documents
    // row that generated it: 8-byte header + 8*h payload, w fixed at 8
    "a15_scan_binaryfile" ->
      ("SELECT doc_id, CAST(8 + 8 * h AS BIGINT) AS n_bytes, 8 AS w, h, " +
        "'GRF1' AS magic FROM (SELECT doc_id, " +
        "CAST(greatest(1, least(8, n_chars // 8)) AS INT) AS h " +
        "FROM documents WHERE doc_id < 64) ORDER BY doc_id"),

    "b1_project" ->
      ("SELECT l_orderkey, l_linenumber, " +
        "round(l_extendedprice * (1.0 - l_discount), 6) AS revenue, " +
        "round(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax), 6) AS charge " +
        "FROM lineitem ORDER BY ALL"),

    "b2_filter_pred" ->
      ("SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_linestatus FROM lineitem " +
        "WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1998-12-31' " +
        "AND l_discount BETWEEN 0.02 AND 0.08 " +
        "AND (l_returnflag IN ('A','R') OR l_linestatus = 'F') " +
        "AND l_quantity < 30.0 " +
        "ORDER BY ALL")
  )
}
