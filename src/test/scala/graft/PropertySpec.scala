package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{TextFunctions => TF}

/** Algebraic properties of the similarity/dedup primitives (SURVEY §5.3). */
class PropertySpec extends AnyFunSuite {
  import TestSpark._

  test("jaccard: identity, symmetry, bounds on fixture shingle sets") {
    val base = Tables(spark, sfDir).documents.limit(50)
      .withColumn("toks", TF.tokens(lower(col("text"))))
      .select(col("doc_id"), TF.shingles3("toks").as("sh"))
    val self = base.select(TF.jaccard(col("sh"), col("sh")).as("j"))
      .agg(min("j"), max("j")).head()
    assert(self.getDouble(0) == 1.0 && self.getDouble(1) == 1.0)

    val a = base.select(col("doc_id").as("ida"), col("sh").as("sa"))
    val b = base.select(col("doc_id").as("idb"), col("sh").as("sb"))
    val pairs = a.join(b, col("ida") < col("idb"))
      .select(TF.jaccard(col("sa"), col("sb")).as("jab"),
        TF.jaccard(col("sb"), col("sa")).as("jba"))
    assert(pairs.filter(col("jab") =!= col("jba")).count() == 0)
    val mm = pairs.agg(min("jab"), max("jab")).head()
    assert(mm.getDouble(0) >= 0.0 && mm.getDouble(1) <= 1.0)
  }

  test("holt linear fold matches a hand-traced recurrence on a crafted series") {
    val s = spark
    import s.implicits._
    // hand trace, integer micros, zero-seeded, alpha=0.3 beta=0.1:
    //   x=100: l = (300 + 0) /10 = 30;  t = ((30-0) + 0) /10 = 3
    //   x=200: l = (600 + 7*33)/10 = 83; t = ((83-30) + 27)/10 = 8
    //   x=50:  l = (150 + 7*91)/10 = 78; t = ((78-83) + 72)/10 = 6
    //     (trend step: (-5 + 72) = 67 -> 6, truncation toward zero)
    def td(a: String) =
      s"(CASE WHEN ($a) < 0L THEN -((-($a)) DIV 10L) ELSE ($a) DIV 10L END)"
    val lNew = td("3L * x + 7L * (acc[0] + acc[1])")
    val tNew = td(s"($lNew - acc[0]) + 9L * acc[1]")
    val out = Seq(Seq(100L, 200L, 50L)).toDF("xs")
      .withColumn("st",
        expr(s"aggregate(xs, array(0L, 0L), (acc, x) -> array($lNew, $tNew))"))
      .select(col("st")(0), col("st")(1)).head()
    assert((out.getLong(0), out.getLong(1)) == (78L, 6L))
    // a negative-trend fold divides only non-negative magnitudes: a spike
    // followed by a long flat tail ends with trend < 0 (beta=0.1 damps the
    // turn, so the sign flip needs several steps) and no engine-dependent
    // rounding on the way there
    val neg = Seq(Seq(1000L) ++ Seq.fill(7)(1L)).toDF("xs")
      .withColumn("st",
        expr(s"aggregate(xs, array(0L, 0L), (acc, x) -> array($lNew, $tNew))"))
      .select(col("st")(1)).head()
    assert(neg.getLong(0) < 0L, "crafted decreasing series must yield a negative trend")
  }

  test("cosine pairs stay within [-1, 1]") {
    val r = SparkEntry.queries("g3_sim_cosine_pairs")(spark, sfDir)
      .agg(min("cos"), max("cos")).head()
    assert(r.getDouble(0) >= -1.0 - 1e-9 && r.getDouble(1) <= 1.0 + 1e-9)
  }

  test("exact dedup is idempotent") {
    val once = SparkEntry.queries("g1_dedup_exact")(spark, sfDir)
    val ids = once.select("doc_id").collect().map(_.getLong(0)).toSet
    // dedup of the already-deduped set keeps every row
    assert(ids.size == once.count())
  }

  test("windowed top-k rows are a subset of the group's rows") {
    val topk = SparkEntry.queries("e1_win_rownumber_topk")(spark, sfDir)
    val orders = Tables(spark, sfDir).orders
    assert(topk.join(orders, Seq("o_orderkey"), "left_anti").count() == 0)
    val maxPerGroup = topk.groupBy("o_custkey").count().agg(max("count")).head().getLong(0)
    assert(maxPerGroup <= 3)
  }

  test("union/except algebra: (A union B) except B is a subset of A") {
    val t = Tables(spark, sfDir)
    val a = t.orders.select(col("o_custkey").as("k")).distinct()
    val b = t.customer.filter(col("c_acctbal") > 0).select(col("c_custkey").as("k")).distinct()
    val lhs = a.union(b).except(b)
    assert(lhs.join(a, Seq("k"), "left_anti").count() == 0)
  }

  test("approx percentile within 5% of exact quantile") {
    val approx = SparkEntry.queries("d11_agg_approx_percentile")(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val exact = SparkEntry.queries("d7_agg_percentile")(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    exact.foreach { case (k, (p50, p95)) =>
      val (a50, a95) = approx(k)
      assert(math.abs(a50 - p50) / p50 <= 0.05, s"$k p50: $a50 vs $p50")
      assert(math.abs(a95 - p95) / p95 <= 0.05, s"$k p95: $a95 vs $p95")
    }
  }

  test("hll approx distinct within 5% of exact") {
    val t = Tables(spark, sfDir)
    val r = t.events.groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), 0.01).as("a"),
        countDistinct(col("user_id")).as("e"))
      .collect()
    r.foreach { row =>
      val (a, e) = (row.getLong(1).toDouble, row.getLong(2).toDouble)
      assert(math.abs(a - e) / e <= 0.05, s"${row.getString(0)}: approx $a vs exact $e")
    }
  }

  test("h3: imperative HLL sketch within 2% of exact (p=14 rsd is 0.81%)") {
    val t = Tables(spark, sfDir)
    val r = t.events.groupBy("event_type")
      .agg(expr("hll_approx(user_id)").as("a"),
        countDistinct(col("user_id")).as("e"))
      .collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val (a, e) = (row.getLong(1).toDouble, row.getLong(2).toDouble)
      assert(math.abs(a - e) / e <= 0.02, s"${row.getString(0)}: hll $a vs exact $e")
    }
    // merge-order independence: same answer at 1 thread as at 32 (buffer
    // merges happen in whatever order partials arrive)
    val single = t.events.repartition(1).groupBy("event_type")
      .agg(expr("hll_approx(user_id)").as("a")).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    val wide = t.events.repartition(32).groupBy("event_type")
      .agg(expr("hll_approx(user_id)").as("a")).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(single == wide)
  }

  test("scaled12 matches the BigDecimal double->DECIMAL(38,12) cast exactly") {
    // the Gram fold's fast path must be bit-identical to
    // BigDecimal.valueOf(p).setScale(12, HALF_UP) — the contract the g39
    // DuckDB oracle replays. Deterministic LCG over a spread of magnitudes,
    // plus adversarial near-boundary values.
    def ref(p: Double): Long =
      java.math.BigDecimal.valueOf(p)
        .setScale(12, java.math.RoundingMode.HALF_UP)
        .unscaledValue().longValueExact()
    var seed = 0x2545F4914F6CDD1DL
    def next(): Long = { seed ^= seed << 13; seed ^= seed >>> 7; seed ^= seed << 17; seed }
    val mags = Array(1e-14, 1e-9, 1e-6, 1e-3, 1.0, 37.0, 4096.0, 1e6)
    var i = 0
    while (i < 200000) {
      val u = (next() >>> 11).toDouble / (1L << 53).toDouble // [0,1)
      val p = (u * 2 - 1) * mags(i % mags.length)
      assert(graft.plans.PowerIteration.scaled12(p) == ref(p), s"p=$p")
      i += 1
    }
    // exact boundary / degenerate cases
    for (p <- Seq(0.0, -0.0, 0.5e-12, -0.5e-12, 1.5e-12, 2.5e-12,
        1.0000000000005, -1.0000000000005, 123.4567890123455))
      assert(graft.plans.PowerIteration.scaled12(p) == ref(p), s"p=$p")
  }

  test("change feed algebra: v1 plus the feed reconstructs v2 on random multisets") {
    import spark.implicits._
    import graft.sources.SnapshotTable
    // the defining property of a keyless CDC feed: for every row-shape,
    // count_v1 + inserts·_n − deletes·_n == count_v2 — over tables with
    // duplicate shapes, NULL fields, and ARBITRARY rewrites (not just the
    // DML paths the oracle queries exercise)
    var seed = 0xC0FFEE5EED1234L
    def next(): Long = {
      seed ^= seed << 13; seed ^= seed >>> 7; seed ^= seed << 17
      seed & Long.MaxValue
    }
    def pick(n: Int): Int = (next() % n).toInt
    def randRows(): Seq[(Option[Long], String)] =
      (0 until 3 + pick(20)).map { _ =>
        (if (pick(6) == 0) None else Some(pick(5).toLong), // dup-heavy keys
          Seq("a", "b", "c")(pick(3)))
      }
    (1 to 15).foreach { i =>
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_cdcprop$i").toString + "/t"
      val r1 = randRows(); val r2 = randRows()
      SnapshotTable.commit(r1.toDF("k", "tag"), root)
      SnapshotTable.commit(r2.toDF("k", "tag"), root)
      def counts(rs: Seq[(Option[Long], String)]) =
        rs.groupBy(identity).map { case (r, g) => r -> g.size.toLong }
      val c1 = counts(r1); val c2 = counts(r2)
      val feed = SnapshotTable.changes(spark, root, 1, 2).collect()
        .map(r => ((if (r.isNullAt(0)) None else Some(r.getLong(0)),
          r.getString(1)), r.getString(2), r.getLong(3)))
      val applied = scala.collection.mutable.Map(c1.toSeq: _*)
        .withDefaultValue(0L)
      feed.foreach { case (shape, typ, n) =>
        applied(shape) += (if (typ == "insert") n else -n)
      }
      val got = applied.filter(_._2 != 0).toMap
      assert(got == c2,
        s"scenario $i: v1 ⊎ feed != v2\nv1=$c1\nv2=$c2\nfeed=${feed.toSeq}")
    }
  }
}
