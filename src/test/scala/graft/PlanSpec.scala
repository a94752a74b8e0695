package graft

import org.scalatest.funsuite.AnyFunSuite

/** B3 + §4: assert the physical plans are the ones we designed for scale —
  * filters/columns pushed into the parquet scan, join strategies as hinted,
  * top-k as TakeOrderedAndProject (no global sort).
  */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  private def finalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.count() // finalize AQE
    df.queryExecution.executedPlan.toString
  }

  test("b2: predicates and column pruning reach the parquet scan") {
    val p = finalPlan("b2_filter_pred")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("l_quantity"), p)
    // pruned: columns not referenced must not be read
    assert(!p.contains("l_partkey"), "scan reads an unused column")
    assert(!p.contains("l_extendedprice"), "scan reads an unused column")
  }

  test("c1: dimension join broadcasts (no shuffle of the fact side)") {
    assert(finalPlan("c1_join_broadcast").contains("BroadcastHashJoin"))
  }

  test("g84: the DSIR model joins broadcast — the pool is never shuffled on the model key") {
    // DSIR's scale contract: the fitted bucket model (≤4096 rows) reaches
    // every scoring task as a broadcast; the raw pool's per-doc buckets are
    // scored map-side. A sort-merge join here would shuffle the whole pool.
    val p = finalPlan("g84_dsir_importance")
    assert(p.contains("BroadcastHashJoin"), s"model join is not broadcast:\n$p")
    // the top-k must be a TakeOrdered, not a global sort of every score
    assert(p.contains("TakeOrderedAndProject"), s"top-k is a global sort:\n$p")
  }

  test("c2: SHUFFLE_HASH hint yields a shuffled hash join") {
    assert(finalPlan("c2_join_shuffle_hash").contains("ShuffledHashJoin"))
  }

  test("c20: dim filter prunes fact partitions at runtime (DPP subquery in scan)") {
    val p = finalPlan("c20_join_dpp")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning on the fact scan:\n$p")
  }

  test("c3: MERGE hint yields a sort-merge join") {
    assert(finalPlan("c3_join_sort_merge").contains("SortMergeJoin"))
  }

  test("c4: star join broadcasts every dimension") {
    val p = finalPlan("c4_join_5way_star")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
  }

  test("f2: ORDER BY + LIMIT compiles to TakeOrderedAndProject") {
    assert(finalPlan("f2_topk_limit").contains("TakeOrderedAndProject"))
  }

  test("c8: tiny band table joins as broadcast nested loop") {
    assert(finalPlan("c8_join_theta").contains("BroadcastNestedLoopJoin"))
  }

  test("c12: bucketed tables join with no shuffle on the join key") {
    val p = finalPlan("c12_join_bucketed")
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("hashpartitioning(l_orderkey"), "lineitem side re-shuffled")
    assert(!p.contains("hashpartitioning(o_orderkey"), "orders side re-shuffled")
    assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"), p)
  }

  test("AQE splits a skewed sort-merge join at runtime (no manual salt needed)") {
    // c14/d9 salt by hand; this documents the other tool in the box — AQE's
    // OptimizeSkewedJoin — with thresholds scaled down to fixture size (the
    // defaults target 256 MB shuffle partitions). A production job keeps the
    // defaults and gets the same split when a hot key exceeds 5x the median.
    import org.apache.spark.sql.functions._
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "4kb",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2kb",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val t = Tables(spark, sfDir)
      // 80% of the fact rows share one hot key; the rest spread over users.
      // props rides along so the hot shuffle partition is fat enough to
      // clear the (scaled-down) skew threshold at fixture size, and the
      // repartition(8) gives the map side >1 task — AQE can only split a
      // skewed reducer partition on MAPPER boundaries, so a single-mapper
      // fixture scan would make the skew unsplittable no matter its size.
      val fact = t.events.repartition(8).select(
        when(pmod(col("event_id"), lit(5)) < 4, lit(1L))
          .otherwise(col("user_id") + 1000000L).as("k"),
        col("value"), col("props"))
      val dim = spark.range(1000000L, 1000200L).select(col("id").as("k"))
        .union(spark.range(1L, 2L).select(col("id").as("k")))
        .withColumn("payload", col("k") * 2)
      val df = fact.join(dim.hint("MERGE"), "k")
        .agg(count(lit(1)).as("n"), sum(col("payload")).as("p"),
          sum(length(col("props"))).as("plen"))
      df.collect() // finalize THIS df's adaptive plan (count() would plan anew)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"), s"no skew split in plan:\n$p")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a10: column pruning pushes into the custom DSv2 source") {
    val df = spark.read.format("graft.sources.RangeEventsSource")
      .option("rows", "100").load()
      .select(org.apache.spark.sql.functions.col("grp"))
    df.collect()
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("grp"), scan)
    assert(!scan.contains("hsum") && !scan.contains("h#") && !scan.contains("id#"),
      s"unpruned columns survive in the scan: $scan")
  }

  test("a10b: id range predicates push into the custom DSv2 source and clip the scan") {
    import org.apache.spark.sql.functions.col
    val df = spark.read.format("graft.sources.RangeEventsSource")
      .option("rows", "10000").option("parts", "8").load()
      .filter(col("id") >= 2000 && col("id") < 7000)
    assert(df.count() == 5000)
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    // the Scan.description() surfaces the clipped range + pushed filters
    assert(scan.contains("range_events[2000, 7000)"), scan)
    assert(scan.contains("GreaterThanOrEqual(id,2000)") && scan.contains("LessThan(id,7000)"), scan)
    // and the generator really materialized only the clipped slice: a row
    // count via a partition-level accumulator equals the clipped width
    val acc = spark.sparkContext.longAccumulator("materialized")
    spark.read.format("graft.sources.RangeEventsSource")
      .option("rows", "10000").option("parts", "8").load()
      .filter(col("id") >= 2000 && col("id") < 7000)
      .foreach(r => acc.add(1L))
    assert(acc.value == 5000, s"generator materialized ${acc.value} rows, expected exactly 5000")
  }

  test("a11: DSv2 write path commits part files + sidecar and reads back exactly") {
    import org.apache.spark.sql.functions._
    val t = Tables(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_tsv_spec").toString
    val src = t.orders.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), Tables.dsum(col("o_totalprice")).as("total"))
    src.write.format("graft.sources.GraftTsvSink")
      .mode("overwrite").option("path", dir).save()
    val files = new java.io.File(dir).listFiles().map(_.getName).sorted
    assert(files.contains("_schema.ddl"), files.mkString(","))
    assert(files.exists(_.endsWith(".tsv")), files.mkString(","))
    assert(!files.contains("_tmp"), "temp dir survived commit")
    val back = spark.read.format("graft.sources.GraftTsvSink").option("path", dir).load()
    assert(back.schema == src.schema)
    val a = src.collect().map(_.toSeq).sortBy(_.head.toString)
    val b = back.collect().map(_.toSeq).sortBy(_.head.toString)
    assert(a.toSeq == b.toSeq)
    // overwrite truncates: second write must not double the data
    src.write.format("graft.sources.GraftTsvSink")
      .mode("overwrite").option("path", dir).save()
    assert(spark.read.format("graft.sources.GraftTsvSink").option("path", dir)
      .load().count() == src.count())
  }

  test("a11b: column pruning pushes into the TSV connector's read path") {
    import org.apache.spark.sql.functions._
    val t = Tables(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_tsv_prune").toString
    t.customer.select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        col("c_acctbal"))
      .write.format("graft.sources.GraftTsvSink")
      .mode("overwrite").option("path", dir).save()
    val df = spark.read.format("graft.sources.GraftTsvSink").option("path", dir)
      .load().select(col("c_mktsegment"))
    val n = df.distinct().count()
    assert(n == 5, s"expected 5 market segments, got $n")
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    // Scan.description() surfaces the pruned projection
    assert(scan.contains("c_mktsegment"), scan)
    assert(!scan.contains("c_name") && !scan.contains("c_acctbal"),
      s"unpruned columns survive in the TSV scan: $scan")
  }

  test("c22: table stats drive a cost-based join reorder (declared query's plan)") {
    // SURVEY §4's open note: at 100 TB you run ANALYZE TABLE once per load
    // and let CostBasedJoinReorder pick the join tree instead of trusting
    // query author order. c22 is WRITTEN in the worst order — the two big
    // tables joined first, the selective filtered dimension last — and the
    // optimizer must rewrite it to join the filtered dimension first,
    // driven only by the stored statistics.
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    def innermostJoinTables(plan: LogicalPlan): Set[String] = {
      val joins = plan.collect { case j: Join => j }
      val innermost = joins.last // collect is pre-order; last = deepest
      innermost.collectLeaves().flatMap(_.toString.split("\n").headOption)
        .flatMap(l => "cbo22_[a-z]+".r.findFirstIn(l)).toSet
    }
    // cloned session exactly as the declared query runs it
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.cbo.enabled", "true")
    s2.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val names = operators.JoinQueries.c22Tables(s2, sfDir)
    val sql = operators.JoinQueries.c22Sql(names)
    // the [a-z]+ match stops at the sf-key suffix, so names compare bare
    val on = innermostJoinTables(s2.sql(sql).queryExecution.optimizedPlan)
    assert(on == Set("cbo22_customer", "cbo22_nation"),
      s"CBO did not reorder the selective dimension first: innermost = $on")
    // negative control: without CBO the syntactic order survives
    s2.conf.set("spark.sql.cbo.enabled", "false")
    val off = innermostJoinTables(s2.sql(sql).queryExecution.optimizedPlan)
    assert(off == Set("cbo22_orders", "cbo22_customer"),
      s"sanity: syntactic order should survive without CBO, got $off")
  }

  test("a6: day filter prunes partitions at the scan") {
    val p = finalPlan("a6_partition_pruning")
    assert(p.contains("PartitionFilters: ["), p)
    assert(p.contains("2024-01-05"), p)
  }

  test("m25: spec evolution prunes BOTH generations' scans on their own partition columns") {
    // run the query once so the evolved table exists, then pin the shared
    // read path's plan: the v1 leg prunes on yr alone, the v2 leg on
    // (yr, mo) — partition pruning under two different specs in ONE read
    SparkEntry.queries("m25_partition_evolution")(spark, sfDir).count()
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_m25_${Tables.pathKey(sfDir)}"
    val p = graft.operators.WarehouseQueries.m25Read(spark, root)
      .queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(yr"), p)
    assert(p.contains("(mo"), s"v2 leg lost month-level pruning:\n$p")
    // pruning actually bites: the executed scans read exactly the files the
    // translated predicates select per generation (numFiles is the
    // post-pruning metric; inputFiles would show the pre-pruning index)
    val gens = graft.sources.SnapshotTable.partitionedGenerations(root)
    val expected =
      gens.find(_._1 == 1L).get._3.count(_.contains("yr=1996")) +
        gens.find(_._1 == 2L).get._3.count(f =>
          f.contains("yr=1996") && (3 to 12).exists(m => f.contains(s"/mo=$m/")))
    val total = gens.map(_._3.size).sum
    assert(expected < total, "fixture must span more than the pruned range")
    val df = graft.operators.WarehouseQueries.m25Read(spark, root)
    df.collect() // execute THIS plan instance so its scan metrics populate
    val exec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    val filesRead = exec.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metrics("numFiles").value
    }.sum
    assert(filesRead == expected,
      s"scanned $filesRead files, pruning should leave exactly $expected of $total")
  }

  test("m27: the re-issued view definition reads the MV, not the facts") {
    // the declared query materializes eagerly on a flag-on clone; the live
    // rewritten plan is pinned here against the pipeline helper, served
    // from this session with the flag on
    spark.conf.set(graft.plans.GraftMvRewriteRule.Flag, "true")
    try {
      val df = operators.WarehouseQueries.m27Pipeline(spark, sfDir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("graft_m27_"), s"MV path absent from the scan:\n$p")
      assert(!p.contains("orders.parquet"),
        s"rewrite missed — the fact scan survived:\n$p")
      // negative control: a NON-registered variant (extra filter) must keep
      // reading the facts — exact-match rewriting never over-fires
      import org.apache.spark.sql.functions._
      val t = Tables(spark, sfDir)
      val variant = t.orders.filter(col("o_totalprice") > 0)
        .groupBy(year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"))
        .agg(count(lit(1)).as("n_orders"))
      variant.collect()
      assert(variant.queryExecution.executedPlan.toString.contains("orders.parquet"),
        "the unregistered variant stopped reading the facts")
    } finally {
      spark.conf.set(graft.plans.GraftMvRewriteRule.Flag, "false")
    }
  }

  test("m28: the coarser rollup re-aggregates the MV instead of scanning the facts") {
    // the pipeline registers the MV; serving needs the flag on this session
    spark.conf.set(graft.plans.GraftMvRewriteRule.Flag, "true")
    try {
      val df = operators.WarehouseQueries.m28Pipeline(spark, sfDir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("graft_m28_"), s"MV path absent from the scan:\n$p")
      assert(!p.contains("orders.parquet"),
        s"containment missed — the fact scan survived:\n$p")
      // tier 2 is a RE-AGGREGATION, not a scan swap: the rewritten plan
      // still aggregates (over 84 MV rows, not 1500 facts)
      assert(p.contains("HashAggregate"), s"no re-aggregation in:\n$p")
      // negative control: a grouping OUTSIDE the MV's set keeps the facts
      import org.apache.spark.sql.functions._
      val t = Tables(spark, sfDir)
      val variant = t.orders
        .groupBy(dayofweek(col("o_orderdate")).as("dow"))
        .agg(count(lit(1)).as("n_orders"))
      variant.collect()
      assert(variant.queryExecution.executedPlan.toString.contains("orders.parquet"),
        "a grouping the MV cannot serve stopped reading the facts")
      // regression: with the flag ON session-wide, aggregates the rule
      // cannot even INSPECT (UDAF/window expressions whose .sql throws,
      // bare-attr outputs) must run untouched — the r15 full bench caught
      // 20 queries failing in later repeat passes before this guard
      assert(SparkEntry.queries("d17_weighted_median")(spark, sfDir).collect().nonEmpty)
      assert(SparkEntry.queries("g40_kmeans")(spark, sfDir).collect().nonEmpty)
      assert(SparkEntry.queries("i1_stream_tumbling")(spark, sfDir).collect().nonEmpty)
    } finally {
      spark.conf.set(graft.plans.GraftMvRewriteRule.Flag, "false")
    }
  }

  test("AQE splits the 50%-hot-key skewed join (OptimizeSkewedJoin fires)") {
    // the within-sandbox proxy for real-cluster skew handling, alongside
    // c14's MANUAL salting: an adversarial fixture where ONE key holds 50%
    // of the left side, thresholds scaled to fixture bytes (a cluster run
    // uses the 256 MB defaults — the mechanism is identical)
    import org.apache.spark.sql.functions._
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "65536",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.shuffle.partitions" -> "8")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val left = spark.range(200000).select(
        when(col("id") % 2 === 0, 0L).otherwise(col("id")).as("k"),
        md5(col("id").cast("string")).as("pad"))
      val right = spark.range(100000).select(col("id").as("rk"),
        md5((col("id") * 3).cast("string")).as("rpad"))
      // the payloads must SURVIVE column pruning (count(pad) folds to
      // count(1) and the pruned shuffle ducks the byte threshold), and the
      // plan must be read from the SAME df instance after collect() —
      // head()/count() execute a different wrapped plan
      val j = left.join(right, col("k") === col("rk"))
        .agg(count(lit(1)).as("n"), sum(length(col("pad"))).as("lp"),
          sum(length(col("rpad"))).as("lr"))
      // expected output: key 0 matches 100k left rows x 1 right row; the
      // 50k odd left ids below 100000 match one row each
      assert(j.collect()(0).getLong(0) === 150000L)
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"OptimizeSkewedJoin did not fire on the hot-key join:\n$p")
      // the hot partition must have been SPLIT: more shuffle-read tasks
      // than the static partition count on the skewed side
      val reads = "AQEShuffleRead".r.findAllIn(p).size
      assert(reads >= 1, s"no AQE shuffle reads in:\n$p")
      // negative control: a uniform join must NOT be marked skewed
      val uni = spark.range(200000).select(col("id").as("k"),
        md5(col("id").cast("string")).as("pad"))
        .join(right, col("k") === col("rk"))
        .agg(sum(length(col("pad"))).as("lp"))
      uni.collect()
      assert(!uni.queryExecution.executedPlan.toString.contains("skew=true"),
        "a uniform join was wrongly skew-split")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("m29: the coarser join rollup (incl avg) re-aggregates the join MV") {
    // the pipeline registers the MV; serving needs the flag on this session
    spark.conf.set(graft.plans.GraftMvRewriteRule.Flag, "true")
    try {
      val df = operators.WarehouseQueries.m29Pipeline(spark, sfDir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("graft_m29_"), s"MV path absent from the scan:\n$p")
      assert(!p.contains("orders.parquet") && !p.contains("customer.parquet"),
        s"containment missed — a fact scan survived:\n$p")
      assert(p.contains("HashAggregate"), s"no re-aggregation in:\n$p")
      import org.apache.spark.sql.functions._
      val t = Tables(spark, sfDir)
      def dash = t.orders
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(Tables.dec)).as("rev_sum"),
          avg(col("o_totalprice").cast(Tables.dec)).as("avg_raw"))
      // ANSWER PRESERVATION at full precision: the avg decomposition must
      // reproduce Average's decimal digits exactly, not approximately
      val served = dash.orderBy("c_mktsegment").collect()
      spark.conf.set(graft.plans.GraftMvRewriteRule.Flag, "false")
      val facts = dash.orderBy("c_mktsegment").collect()
      spark.conf.set(graft.plans.GraftMvRewriteRule.Flag, "true")
      assert(served.toSeq == facts.toSeq,
        s"rewritten != unrewritten:\n${served.toSeq}\n${facts.toSeq}")
      // negative control 1: a DIFFERENT join body (extra filter) keeps facts
      val filtered = t.orders.filter(col("o_totalprice") > 0)
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
      filtered.collect()
      assert(filtered.queryExecution.executedPlan.toString.contains("orders.parquet"),
        "a filtered join body was wrongly served from the MV")
      // negative control 2: a DOUBLE avg does not decompose — facts
      val dAvg = t.orders
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment")).agg(avg(col("o_totalprice")).as("a"))
      dAvg.collect()
      assert(dAvg.queryExecution.executedPlan.toString.contains("orders.parquet"),
        "a double avg was wrongly decomposed from stored partials")
    } finally {
      spark.conf.set(graft.plans.GraftMvRewriteRule.Flag, "false")
    }
  }

  test("m32: a group-column slice is pushed onto the MV scan (tier 4)") {
    // the pipeline registers the MV; serving needs the flag on this session
    spark.conf.set(graft.plans.GraftMvRewriteRule.Flag, "true")
    try {
      val df = operators.WarehouseQueries.m32Pipeline(spark, sfDir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("graft_m32_"), s"MV path absent from the scan:\n$p")
      assert(!p.contains("orders.parquet"),
        s"filtered containment missed — the fact scan survived:\n$p")
      // the pushed predicate must reach the MV scan as a filter on the
      // stored GROUP column (yr), prunable at the parquet level
      assert(p.contains("HashAggregate"), s"no re-aggregation in:\n$p")
      import org.apache.spark.sql.functions._
      val t = Tables(spark, sfDir)
      // refusal control: a predicate on a NON-grouping fact column cannot
      // select whole groups — the query must keep its fact scan
      val bad = t.orders.filter(col("o_totalprice") > 1000)
        .groupBy(month(col("o_orderdate")).as("mo"))
        .agg(count(lit(1)).as("n_orders"))
      bad.collect()
      assert(bad.queryExecution.executedPlan.toString.contains("orders.parquet"),
        "a non-grouping-column predicate was wrongly pushed onto the MV")
      // answer preservation: served slice == fact-computed slice
      def dash = t.orders.filter(year(col("o_orderdate")) === 1996)
        .groupBy(month(col("o_orderdate")).as("mo"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(Tables.dec)).as("rev_sum"))
      val served = dash.orderBy("mo").collect()
      spark.conf.set(graft.plans.GraftMvRewriteRule.Flag, "false")
      val facts = dash.orderBy("mo").collect()
      assert(served.toSeq == facts.toSeq,
        s"rewritten != unrewritten:\n${served.toSeq}\n${facts.toSeq}")
    } finally {
      spark.conf.set(graft.plans.GraftMvRewriteRule.Flag, "false")
    }
  }

  test("f15: variant extraction prunes the events scan to props + event_type") {
    val p = finalPlan("f15_fn_variant")
    assert(p.contains("props"), p)
    // untouched wide columns must not be read
    assert(!p.contains("value"), "scan reads an unused column")
    assert(!p.contains("user_id"), "scan reads an unused column")
  }

  test("e1c: column pruning propagates through the custom top-k operator") {
    val df = SparkEntry.queries("e1c_win_topk_native")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("GraftTopKPerKey"), p)
    assert(!p.contains("o_orderdate"), "scan reads an unused column")
    assert(!p.contains("o_comment"), "scan reads an unused column")
  }

  test("c15: the purchase filter pushes into the scan under the as-of join") {
    val df = SparkEntry.queries("c15_join_asof_native")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("GraftAsOfJoin"), p)
    assert(p.contains("EqualTo(event_type,purchase)"), p)
    assert(p.contains("EqualTo(event_type,click)"), p)
  }

  test("m16: the DV read path is one broadcast probe — no shuffle, probe inside codegen") {
    import org.apache.spark.sql.functions._
    import graft.sources.{DeletionVectors, SnapshotTable}
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_dv_plan_${Tables.pathKey(sfDir)}"
    val dvRoot = s"${root}_dv"
    Tables.rmrf(root); Tables.rmrf(dvRoot)
    val t = Tables(spark, sfDir)
    SnapshotTable.commit(
      t.orders.select("o_orderkey", "o_custkey").repartition(4, col("o_orderkey")), root)
    val data = SnapshotTable.read(spark, root)
    // deployed shape: the DV table is committed and read back — the read
    // path must not pay the build's aggregation again
    SnapshotTable.commit(DeletionVectors.build(data, col("o_orderkey") % 5 === 0), dvRoot)
    val read = DeletionVectors.applyTo(data, SnapshotTable.read(spark, dvRoot))
    read.collect() // executes THIS queryExecution → AQE finalizes, codegen marks appear
    val p = read.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"DV table not broadcast:\n$p")
    assert(p.contains("bitmap_contains"), s"probe missing from the plan:\n$p")
    // the scan side must reach the probe without a data shuffle — only the
    // DV build (the aggregation input) may exchange
    val scanSide = p.substring(p.indexOf("BroadcastHashJoin"))
    assert(!scanSide.contains("Exchange hashpartitioning") &&
      !scanSide.contains("Exchange rangepartitioning"),
      s"DV read path shuffles the data side:\n$p")
    // codegen stages print as "*(n)" in the executed tree — the probe's
    // Filter must carry the star (BitmapContains.doGenCode in effect)
    assert("""\*\(\d+\) Filter""".r.findFirstIn(p).isDefined,
      s"probe fell out of codegen:\n$p")
  }

  test("g71: the probed-cells filter prunes postings partitions at the scan") {
    val df = SparkEntry.queries("g71_ann_index_serve")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // IVF's "read 2 of k inverted lists" must execute as parquet partition
    // pruning on the persisted postings table, not a post-scan filter
    assert("""PartitionFilters: \[[^\]]*cell""".r.findFirstIn(p).isDefined,
      s"cell probe did not become a partition filter:\n$p")
  }

  test("g73: the IVF-PQ probed-cells filter prunes postings partitions at the scan") {
    val df = SparkEntry.queries("g73_ann_ivfpq_serve")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[[^\]]*cell""".r.findFirstIn(p).isDefined,
      s"cell probe did not become a partition filter:\n$p")
  }

  test("g75: filtered ANN composes partition pruning with a pushed metadata predicate") {
    val df = SparkEntry.queries("g75_ann_filtered")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[[^\]]*cell""".r.findFirstIn(p).isDefined,
      s"cell probe did not become a partition filter:\n$p")
    // the label predicate must reach the postings parquet scan, not run as
    // a post-scan Filter only — filtered serving costs LESS, never more
    assert("""PushedFilters: \[[^\]]*label""".r.findFirstIn(p).isDefined,
      s"label predicate did not push into the postings scan:\n$p")
  }

  test("g76: the probed-cells filter prunes BOTH the base and segment scans under the union") {
    val df = SparkEntry.queries("g76_ann_index_append")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val pruned = """PartitionFilters: \[[^\]]*cell""".r.findAllIn(p).size
    assert(pruned >= 2,
      s"expected cell partition pruning in both union legs, found $pruned:\n$p")
  }

  test("g78-g81: kernel-served IVF plans keep their cell-pruned postings scans and join shapes") {
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    object aqe extends AdaptiveSparkPlanHelper
    // (query, cell-pruned postings scans, broadcast anti-joins) in the final
    // plan: g78 serves from ONE compacted generation, g79 from one scan per
    // probe leg, g80 anti-joins its broadcast tombstones, g81 prunes both
    // the base and the segment under the union
    Seq(("g78_ann_index_compact", 1, 0), ("g79_ann_probe_sweep", 4, 0),
      ("g80_ann_index_delete", 1, 1), ("g81_pq_index_append", 2, 0)).foreach {
      case (q, scans, antiJoins) =>
        val df = SparkEntry.queries(q)(spark, sfDir)
        df.collect()
        val plan = df.queryExecution.executedPlan
        val pruned = aqe.collect(plan) {
          case s: FileSourceScanExec
              if s.partitionFilters.exists(_.references.exists(_.name == "cell")) => s
        }
        assert(pruned.size == scans,
          s"$q: expected $scans cell-pruned postings scans, found ${pruned.size}:\n$plan")
        val anti = aqe.collect(plan) {
          case j: BroadcastHashJoinExec if j.joinType == LeftAnti => j
        }
        assert(anti.size == antiJoins,
          s"$q: expected $antiJoins broadcast anti-joins, found ${anti.size}:\n$plan")
    }
  }

  test("s8: LATERAL + per-row LIMIT decorrelates to a window group-limit, not a nested loop") {
    val p = finalPlan("s8_sql_lateral")
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
      s"lateral planned as a per-row join:\n$p")
  }

  test("s7: WITH RECURSIVE plans through UnionLoop with the spine broadcast") {
    val p = finalPlan("s7_sql_recursive_cte")
    assert(p.contains("UnionLoop"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("s9: the HAVING-filtered IN subquery plans as a left-semi join on the re-aggregated key") {
    val p = finalPlan("s9_sql_tpch18")
    assert(p.contains("LeftSemi"), p)
    // the subquery aggregate map-side-combines before its exchange
    assert(p.contains("partial_sum"), p)
  }

  test("s10: the LIKE filter pushes into the part scan and the dim side broadcasts") {
    val p = finalPlan("s10_sql_tpch9")
    assert(p.contains("StringContains(p_name,widget)"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("p_brand"), "scan reads an unused column")
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // §4: Spark 4 injects a bloom filter built from the selective (dim) side
    // into the fact-side scan at runtime — the 100 TB behavior that turns a
    // full lineitem scan + shuffle into a pre-filtered one. Thresholds are
    // pinned so the toy fixture qualifies; results must equal the unfiltered
    // plan exactly (the bloom filter only drops provably-unjoinable rows).
    import org.apache.spark.sql.functions._
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set(keys(0), "-1")
      spark.conf.set(keys(1), "true")
      spark.conf.set(keys(2), "0")
      spark.conf.set(keys(3), "100MB")
      val t = Tables(spark, sfDir)
      val urgent = t.orders.filter(col("o_orderpriority") === "1-URGENT")
      val j = t.lineitem.join(urgent, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      val p = j.queryExecution.executedPlan.toString
      assert(p.toLowerCase.contains("bloom"), s"no runtime bloom filter injected:\n$p")
      val withFilter = j.collect().map(_.toSeq).toSeq
      spark.conf.set(keys(1), "false")
      val without = t.lineitem.join(urgent, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
        .collect().map(_.toSeq).toSeq
      assert(withFilter == without)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("s17/s26: EXISTS correlations decorrelate to semi/anti joins, not subquery re-execution") {
    // Q4's EXISTS must become one left-semi join against lineitem; Q21's
    // EXISTS + NOT EXISTS pair must become a semi + anti stack. If Catalyst
    // ever fell back to per-row subquery evaluation these would be
    // quadratic at scale — the plan shape IS the scale guarantee.
    val p4 = finalPlan("s17_sql_tpch4")
    assert(p4.contains("LeftSemi") || p4.contains("ExistenceJoin"), p4)
    val p21 = finalPlan("s26_sql_tpch21")
    assert(p21.contains("LeftSemi") || p21.contains("ExistenceJoin"), p21)
    assert(p21.contains("LeftAnti"), p21)
  }

  test("c17: declared bloom-runtime query carries the injected filter in its plan") {
    // the standalone test above proves the mechanism; this pins the DECLARED
    // query's plan so a regression in its cloned-session conf setup (or a
    // Spark upgrade changing the injection conditions) fails here, not as a
    // silent unpruned scan
    val p = finalPlan("c17_join_bloom_runtime")
    assert(p.toLowerCase.contains("bloom"), s"no runtime bloom filter in c17 plan:\n$p")
  }

  test("e1c: declared outputPartitioning lets a downstream same-key agg skip its exchange") {
    import org.apache.spark.sql.functions._
    val t = Tables(spark, sfDir)
    val topk = graft.plans.GraftOps.topKPerKey(
      t.orders.select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
      keys = Seq(col("o_custkey")),
      order = Seq(col("o_totalprice").desc, col("o_orderkey").asc),
      k = 3, rankName = "rn")
    val agg = topk.groupBy("o_custkey")
      .agg(sum(col("o_totalprice")).as("s"), count(lit(1)).as("c"))
    val rows = agg.collect()
    val p = agg.queryExecution.executedPlan.toString
    assert(p.contains("GraftTopKPerKey"), p)
    assert(!p.contains("Exchange"), s"downstream agg re-shuffled:\n$p")
    // and the claimed partitioning is physically true: values match the
    // canonical window formulation aggregated the ordinary way
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val expected = t.orders.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3).groupBy("o_custkey")
      .agg(sum(col("o_totalprice")).as("s"), count(lit(1)).as("c"))
      .collect()
    val norm = (rs: Array[org.apache.spark.sql.Row]) =>
      rs.map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(norm(rows) == norm(expected))
  }

  test("g4b: IVF probe kernel stays columnar — no object deserialization") {
    // the probe must be Catalyst expressions end-to-end (cosine_sim +
    // array_max over struct literals), not a typed-Dataset lambda: a
    // DeserializeToObject/MapElements node would break whole-stage codegen
    // and column pruning on the embeddings scan
    val df = SparkEntry.queries("g4b_sim_topk_ivf")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("DeserializeToObject") && !p.contains("MapElements") &&
      !p.contains("SerializeFromObject"), s"object boundary in the probe plan:\n$p")
    assert(p.contains("cosine_sim"), p)
  }

  test("c15: as-of join declares left-key partitioning for downstream reuse") {
    val df = SparkEntry.queries("c15_join_asof_native")(spark, sfDir)
    df.count()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def find(p: SparkPlan): Option[SparkPlan] =
      if (p.nodeName.contains("GraftAsOfJoin")) Some(p)
      else p match {
        case a: AdaptiveSparkPlanExec => find(a.executedPlan)
        case _ => p.children.view.flatMap(find(_)).headOption
      }
    val exec = find(df.queryExecution.executedPlan)
    assert(exec.isDefined, df.queryExecution.executedPlan.toString)
    assert(exec.get.outputPartitioning.toString.contains("hashpartitioning"),
      exec.get.outputPartitioning.toString)
  }

  test("merge into: broadcast-feed path never shuffles the target") {
    val s = spark
    import s.implicits._
    // the 100 TB shape: huge target, small CDC batch — every join must be
    // map-side (feed broadcast), with ZERO shuffle of the target; the
    // default co-sized path is one full-outer shuffle join instead (full
    // outer cannot broadcast), asserted second
    val target = Tables(s, sfDir).orders
      .select(org.apache.spark.sql.functions.col("o_orderkey").as("k"),
        org.apache.spark.sql.functions.col("o_totalprice").as("v"))
    val feed = Seq((4L, 1.0, "upsert"), (8L, 2.0, "delete"), (-1L, 3.0, "upsert"))
      .toDF("k", "v", "op")
    val bc = graft.operators.MergeInto.applyChanges(target, feed, "k",
      broadcastFeed = true)
    bc.count()
    val p = bc.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      s"broadcast-feed merge must not shuffle:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    // both shapes produce the identical merged table
    val fo = graft.operators.MergeInto.applyChanges(target, feed, "k")
    assert(bc.orderBy("k").collect().toSeq == fo.orderBy("k").collect().toSeq)
    val foPlan = fo.queryExecution.executedPlan.toString
    assert(foPlan.contains("SortMergeJoin") || foPlan.contains("ShuffledHashJoin"), foPlan)
  }

  test("merge cardinality guard: the source window rides the join's own shuffle") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // the shape GraftMergeColsCommand builds: a per-key window count over
    // the source side feeding a full-outer equi-join on the same keys. The
    // window's required distribution (hash on the keys) IS the join's
    // requirement for that side, so the plan must carry exactly TWO
    // exchanges — one per side — never a third for the window
    val tgt = (1L to 500L).map(i => (i, i % 7, i * 1.0)).toDF("k1", "k2", "v")
      .withColumn("__t_present", lit(true))
    val src = (300L to 800L).map(i => (i, i % 7, i * 2.0)).toDF("k1", "k2", "v")
      .select(col("k1").as("__s_k1"), col("k2").as("__s_k2"), col("v").as("__s_v"))
      .withColumn("__s_dup",
        count(lit(1)).over(Window.partitionBy(col("__s_k1"), col("__s_k2"))))
    val j = tgt.join(src,
      col("k1") === col("__s_k1") && col("k2") === col("__s_k2"), "full_outer")
    j.count()
    val p = j.queryExecution.executedPlan.toString
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(exchanges == 2,
      s"expected 2 exchanges (one per join side, window reusing the source " +
        s"side's), found $exchanges:\n$p")
    assert(p.contains("Window"), p)
  }

  test("g2, g53, g2c, g30: the pinned pair-join exchanges keep every partition under AQE") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // AQE coalesces a small shuffle's reads into ~1 partition; the pair
    // joins' exchanges (Tables.coPartition) must stay at the session's 4
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val joinKeys = Seq(
      "g2_dedup_near_jaccard" -> Seq(Set("blk")),
      "g53_setsim_prefix" -> Seq(Set("tid"), Set("tidb")),
      "g2c_dedup_simhash" -> Seq(Set("chunk", "cval")),
      "g30_fuzzy_pairs" -> Seq(Set("pfx", "band", "tile", "salt")))
    // every shuffle of a final adaptive plan, with the AQE read over it
    def shuffles(p: SparkPlan, read: Option[AQEShuffleReadExec])
        : Seq[(Option[AQEShuffleReadExec], ShuffleExchangeLike)] = p match {
      case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan, None)
      case r: AQEShuffleReadExec => shuffles(r.child, Some(r))
      case q: ShuffleQueryStageExec => (read -> q.shuffle) +: shuffles(q.shuffle.child, None)
      case q: QueryStageExec => shuffles(q.plan, None)
      case o => o.children.flatMap(shuffles(_, None))
    }
    joinKeys.foreach { case (name, keySets) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect() // runs this plan, so AQE finalizes it
      val plan = df.queryExecution.executedPlan
      assert(plan.toString.contains("isFinalPlan=true"), plan)
      val pinned = shuffles(plan, None).filter { case (_, e) =>
        e.outputPartitioning match {
          case h: HashPartitioning => keySets.contains(h.expressions.collect {
            case a: Attribute => a.name }.toSet)
          case _ => false
        }
      }
      assert(pinned.nonEmpty, s"$name: no exchange on ${keySets.mkString(" / ")}:\n$plan")
      pinned.foreach { case (read, e) =>
        assert(e.numPartitions == 4, s"$name: ${e.numPartitions} partitions:\n$plan")
        assert(read.forall(r => !r.isCoalescedRead && r.partitionSpecs.size == 4),
          s"$name: AQE coalesced a pinned pair-join exchange:\n$plan")
      }
    }
  }

  test("g49: delta dedup serves the existing side from the persisted snapshot index") {
    val df = SparkEntry.queries("g49_incremental_dedup")(spark, sfDir)
    df.count()
    // the big side must come from the committed SnapshotTable version's data
    // files, not a re-tokenize of documents.parquet
    val idx = df.inputFiles.filter(f => f.contains("graft_shidx_docs_") && f.contains("/data/v"))
    assert(idx.nonEmpty, s"no snapshot-index scan in inputs: ${df.inputFiles.mkString(", ")}")
    // the delta side still scans the corpus
    assert(df.inputFiles.exists(_.contains("documents.parquet")), "delta side missing")
  }
}
