package graft

import org.scalatest.funsuite.AnyFunSuite

/** Mergeable HLL sketch columns (graft.functions.HllSketch): sketch →
  * union → estimate must behave exactly like one global sketch — the
  * property that makes persisted sketch partials re-aggregatable at will.
  */
class SketchSpec extends AnyFunSuite {
  import TestSpark._
  import org.apache.spark.sql.functions._

  private def t = Tables(spark, sfDir)

  test("union of per-day sketches equals one global sketch, estimate-for-estimate") {
    val ev = t.events.withColumn("day", to_date(col("ts")))
    val viaUnion = ev
      .groupBy(col("event_type"), col("day"))
      .agg(expr("hll_sketch(user_id)").as("sk"))
      .groupBy(col("event_type"))
      .agg(expr("hll_estimate(hll_union(sk))").as("est"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val direct = ev.groupBy(col("event_type"))
      .agg(expr("hll_approx(user_id)").as("est"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(viaUnion == direct, s"$viaUnion vs $direct")
  }

  test("estimates track exact distincts within 2%") {
    val ev = t.events.withColumn("day", to_date(col("ts")))
    val est = ev.groupBy(col("event_type"), col("day"))
      .agg(expr("hll_sketch(user_id)").as("sk"))
      .groupBy(col("event_type"))
      .agg(expr("hll_estimate(hll_union(sk))").as("est"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val exact = t.events.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    exact.foreach { case (k, n) =>
      val e = est(k)
      assert(math.abs(e - n).toDouble / n <= 0.02, s"$k: est $e vs exact $n")
    }
  }

  test("union is merge-order independent and skips nulls/empties") {
    val ev = t.events.withColumn("day", to_date(col("ts")))
    val daily = ev.groupBy(col("event_type"), col("day"))
      .agg(expr("hll_sketch(user_id)").as("sk"))
    val asc = daily.orderBy(col("day").asc).groupBy(col("event_type"))
      .agg(expr("hll_estimate(hll_union(sk))").as("est"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val desc = daily.orderBy(col("day").desc).repartition(7).groupBy(col("event_type"))
      .agg(expr("hll_estimate(hll_union(sk))").as("est"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(asc == desc)
    // null sketches are skipped, not fatal
    val withNulls = daily.withColumn("sk",
      when(col("day") === lit(java.sql.Date.valueOf("2024-01-01")), lit(null)).otherwise(col("sk")))
    val est = withNulls.groupBy(col("event_type"))
      .agg(expr("hll_estimate(hll_union(sk))").as("est"))
      .collect()
    assert(est.length > 0 && est.forall(_.getLong(1) >= 0))
  }

  test("histogram: union of per-day partials equals one global sketch, byte-for-byte") {
    val ev = t.events.withColumn("day", to_date(col("ts")))
    val viaUnion = ev.groupBy(col("event_type"), col("day"))
      .agg(expr("hist_sketch(value, 0.0D, 500.0D, 100)").as("sk"))
      .groupBy(col("event_type"))
      .agg(expr("hist_union(sk)").as("sk"))
      .collect().map(r => (r.getString(0), r.getAs[Array[Byte]](1).toSeq)).toMap
    val global = ev.groupBy(col("event_type"))
      .agg(expr("hist_sketch(value, 0.0D, 500.0D, 100)").as("sk"))
      .collect().map(r => (r.getString(0), r.getAs[Array[Byte]](1).toSeq)).toMap
    assert(viaUnion == global)
  }

  test("histogram quantile edges bound the exact percentile from above within one bin") {
    val edges = t.events.groupBy(col("event_type"))
      .agg(expr("hist_sketch(value, 0.0D, 500.0D, 100)").as("sk"))
      .select(col("event_type"), expr("hist_quantile(sk, 0.5D)").as("p50"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    val exact = t.events.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5D)").as("p50"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    exact.foreach { case (k, ex) =>
      val edge = edges(k)
      // interpolated exact percentile can dip just below the bin's lower
      // edge, so allow a two-bin bound
      assert(edge >= ex && edge - ex <= 10.0, s"$k: edge $edge vs exact $ex")
    }
  }

  test("histogram union rejects mismatched headers") {
    val a = t.events.agg(expr("hist_sketch(value, 0.0D, 500.0D, 100)").as("sk"))
    val b = t.events.agg(expr("hist_sketch(value, 0.0D, 500.0D, 50)").as("sk"))
    val e = intercept[Exception] {
      a.union(b).agg(expr("hist_union(sk)")).collect()
    }
    def causes(x: Throwable): Seq[String] =
      if (x == null) Nil else String.valueOf(x.getMessage) +: causes(x.getCause)
    assert(causes(e).exists(_.contains("hist_union")), e.toString)
  }

  test("hist_sketch rejects bad literal args at analysis time, not mid-aggregation") {
    def analysisMessage(sql: String): String = {
      val e = intercept[Exception](t.events.createOrReplaceTempView("ev_hist_args")
        match { case _ => spark.sql(sql).collect() })
      def causes(x: Throwable): Seq[String] =
        if (x == null) Nil else String.valueOf(x.getMessage) +: causes(x.getCause)
      causes(e).mkString("\n")
    }
    // bins = 0 → width would be Infinity, add() would index out of bounds
    assert(analysisMessage(
      "SELECT hist_sketch(value, 0.0D, 500.0D, 0) FROM ev_hist_args")
      .contains("bins must be > 0"))
    // hi <= lo → negative width, nonsense binning
    assert(analysisMessage(
      "SELECT hist_sketch(value, 500.0D, 0.0D, 10) FROM ev_hist_args")
      .contains("hi must be > lo"))
    // non-foldable lo → would NPE in eval(null) with an opaque error
    assert(analysisMessage(
      "SELECT hist_sketch(value, value, 500.0D, 10) FROM ev_hist_args")
      .contains("foldable"))
    // the valid form still analyzes and runs
    assert(spark.sql(
      "SELECT hist_sketch(value, 0.0D, 500.0D, 10) FROM ev_hist_args")
      .collect().length == 1)
  }

  test("freq_union fails fast on sketches built with different k") {
    val a = t.documents.agg(expr("freq_sketch(source, 64)").as("sk"))
    val b = t.documents.agg(expr("freq_sketch(source, 128)").as("sk"))
    val e = intercept[Exception] {
      a.union(b).agg(expr("freq_union(sk)")).collect()
    }
    def causes(x: Throwable): Seq[String] =
      if (x == null) Nil else String.valueOf(x.getMessage) +: causes(x.getCause)
    assert(causes(e).exists(_.contains("different k")), e.toString)
    // equal-k merge still works
    assert(a.union(a).agg(expr("freq_union(sk)")).collect().length == 1)
  }

  test("misra-gries: merged per-source sketches keep every heavy hitter within the n/k bound") {
    val toks = t.documents
      .select(col("source"), explode(split(lower(col("text")), " ")).as("term"))
    val k = 256
    val est = toks.groupBy(col("source")).agg(expr(s"freq_sketch(term, $k)").as("sk"))
      .agg(expr("freq_union(sk)").as("sk"))
      .select(explode(expr("freq_items(sk)")).as(Seq("term", "est")))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val exact = toks.groupBy(col("term")).count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val n = exact.values.sum
    val bound = n.toDouble / k
    // every true heavy hitter (> n/k) must survive the merge…
    val heavy = exact.filter(_._2 > bound)
    val missing = heavy.keySet -- est.keySet
    assert(missing.isEmpty, s"heavy hitters lost: ${missing.take(5)} (bound $bound)")
    // …and every estimate undercounts by at most n/k, never overcounts
    est.foreach { case (term, e) =>
      val ex = exact(term)
      assert(e <= ex && ex - e <= bound, s"$term: est $e exact $ex bound $bound")
    }
  }

  test("misra-gries: hand-checked decrement semantics") {
    val s = new graft.functions.FreqSketch.Summary
    // k=2 over a a a b b c: c's arrival decrements a,b
    Seq("a", "a", "a", "b", "b", "c").foreach(graft.functions.FreqSketch.update(s, 2, _))
    assert(s.toMap == Map("a" -> 2L, "b" -> 1L), s.toMap.toString)
    val rt = graft.functions.FreqSketch.deserialize(
      graft.functions.FreqSketch.serialize(s, 2))
    assert(rt._1.toMap == s.toMap && rt._2 == 2)
  }

  test("property: histogram quantile edge always brackets the empirical quantile (200 random datasets)") {
    import graft.functions.HistSketch
    val rnd = new scala.util.Random(99)
    (1 to 200).foreach { trial =>
      val n = 1 + rnd.nextInt(500)
      val lo = rnd.nextDouble() * 10 - 5
      val w = 0.1 + rnd.nextDouble() * 5
      val bins = 1 + rnd.nextInt(50)
      val hi = lo + w * bins
      val values = Array.fill(n)(lo + rnd.nextDouble() * (hi - lo) * 1.2 - (hi - lo) * 0.1)
      val sk = HistSketch.create(lo, w, bins)
      values.foreach(HistSketch.add(sk, _))
      // union of split partials is byte-identical to the one-pass sketch
      val (p1, p2) = values.splitAt(rnd.nextInt(n + 1))
      val ska = HistSketch.create(lo, w, bins); p1.foreach(HistSketch.add(ska, _))
      val skb = HistSketch.create(lo, w, bins); p2.foreach(HistSketch.add(skb, _))
      HistSketch.union(ska, skb)
      assert(java.util.Arrays.equals(sk, ska), s"trial $trial: union != one-pass")
      val q = rnd.nextDouble()
      val edge = HistSketch.quantileEdge(sk, q).asInstanceOf[Double]
      // the k-th smallest CLAMPED value (k = ceil(q·n)) lies in the bin whose
      // upper edge the sketch reports
      val clamped = values.map(v =>
        math.min(math.max(math.floor((v - lo) / w), 0), bins - 1).toInt).sorted
      val k = math.max(1, math.ceil(q * n).toInt)
      val binOfK = clamped(k - 1)
      val expected = lo + (binOfK + 1) * w
      assert(math.abs(edge - expected) < 1e-9,
        s"trial $trial: edge $edge expected $expected (q=$q n=$n bins=$bins)")
    }
  }

  test("property: misra-gries bound holds under random streams and 3-way merges (100 trials)") {
    import graft.functions.FreqSketch
    val rnd = new scala.util.Random(7)
    (1 to 100).foreach { trial =>
      val k = 2 + rnd.nextInt(30)
      val n = 50 + rnd.nextInt(2000)
      // skewed vocabulary: term id ~ floor(u^3 * 100) — few hot, many rare
      val stream = Array.fill(n) {
        val u = rnd.nextDouble(); "t" + math.floor(u * u * u * 100).toInt
      }
      val exact = stream.groupBy(identity).view.mapValues(_.length.toLong).toMap
      val bound = n.toDouble / k
      // one-pass summary and a 3-way merged summary must BOTH satisfy the bound
      val one = new FreqSketch.Summary
      stream.foreach(FreqSketch.update(one, k, _))
      val parts = stream.grouped(math.max(1, n / 3)).map { chunk =>
        val s = new FreqSketch.Summary; chunk.foreach(FreqSketch.update(s, k, _)); s
      }.toSeq
      val merged = parts.reduce((a, b) => FreqSketch.merge(a, b, k))
      Seq("one-pass" -> one, "merged" -> merged).foreach { case (tag, sk) =>
        exact.foreach { case (term, c) =>
          if (c > bound)
            assert(sk.contains(term), s"trial $trial $tag: heavy $term ($c > $bound) lost")
        }
        sk.foreach { case (term, est) =>
          val c = exact(term)
          assert(est <= c && c - est <= bound + 1e-9,
            s"trial $trial $tag: $term est $est exact $c bound $bound")
        }
      }
    }
  }

  test("hll set algebra: inclusion-exclusion intersection within 5% of exact") {
    import org.apache.spark.sql.functions._
    val t = Tables(spark, sfDir)
    val approx = SparkEntry.queries("h6_sketch_intersect")(spark, sfDir)
      .select(col("day"), col("approx_both")).collect()
      .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val exact = t.events
      .withColumn("day", to_date(col("ts")))
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(col("day"), col("user_id"))
      .agg(countDistinct(col("event_type")).as("k"))
      .filter(col("k") === 2)
      .groupBy(col("day")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    // days with activity but an empty exact intersection still appear on
    // the approx side (estimate ~0); missing exact entries mean 0
    assert(exact.keySet.subsetOf(approx.keySet))
    approx.foreach { case (day, a) =>
      val n = exact.getOrElse(day, 0L)
      assert(math.abs(a.toDouble - n) <= math.max(5.0, 0.05 * n),
        s"day $day: approx $a vs exact $n")
    }
  }

  test("bloom: no false negatives — every inserted member probes true") {
    val terms = t.documents
      .select(explode(split(lower(col("text")), " ")).as("term")).distinct()
    val bloom = terms.agg(expr("bloom_sketch(term, 262144, 5)").as("sk"))
    val misses = terms.join(broadcast(bloom))
      .filter(!expr("bloom_contains(sk, term)"))
      .count()
    assert(misses == 0L)
  }

  test("bloom: false-positive rate stays near the analytic bound") {
    val n = 20000
    val m = 262144
    val k = 5
    val s = spark
    import s.implicits._
    val members = (0 until n).map(i => s"member_$i").toDF("x")
    val bloom = members.agg(expr(s"bloom_sketch(x, $m, $k)").as("sk"))
    val probes = (0 until 50000).map(i => s"absent_$i").toDF("x")
    val fp = probes.join(broadcast(bloom))
      .filter(expr("bloom_contains(sk, x)")).count()
    // (1 - e^(-k n/m))^k ≈ 0.35% here; allow 2× for hash imperfection
    val expected = math.pow(1 - math.exp(-k.toDouble * n / m), k)
    assert(fp.toDouble / 50000 <= 2 * expected + 1e-4,
      s"fp rate ${fp / 50000.0} vs bound $expected")
  }

  test("bloom: union of per-source partials is byte-identical to one global sketch") {
    val terms = t.documents
      .select(col("source"), explode(split(lower(col("text")), " ")).as("term"))
    val viaUnion = terms.groupBy(col("source"))
      .agg(expr("bloom_sketch(term, 65536, 4)").as("sk"))
      .repartition(5)
      .agg(expr("bloom_union(sk)").as("sk"))
      .head().getAs[Array[Byte]](0)
    val global = terms.agg(expr("bloom_sketch(term, 65536, 4)").as("sk"))
      .head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(viaUnion, global))
  }

  test("bloom: mismatched headers fail fast; bad literal args fail at analysis") {
    val a = t.documents.agg(expr("bloom_sketch(source, 1024, 3)").as("sk"))
    val b = t.documents.agg(expr("bloom_sketch(source, 2048, 3)").as("sk"))
    val e = intercept[Exception] {
      a.union(b).agg(expr("bloom_union(sk)")).collect()
    }
    def causes(x: Throwable): Seq[String] =
      if (x == null) Nil else String.valueOf(x.getMessage) +: causes(x.getCause)
    assert(causes(e).exists(_.contains("bloom_union")), e.toString)
    val bad = intercept[Exception] {
      t.documents.agg(expr("bloom_sketch(source, 0, 3)")).collect()
    }
    assert(causes(bad).exists(_.contains("m_bits must be > 0")), bad.toString)
  }

  test("bloom: the scan-side probe runs inside whole-stage codegen") {
    val blob = t.documents.agg(expr("bloom_sketch(source, 4096, 3)"))
      .head().getAs[Array[Byte]](0)
    val df = t.documents.filter(
      expr(s"bloom_contains(unhex('${blob.map("%02x".format(_)).mkString}'), source)"))
    val plan = df.queryExecution.executedPlan.toString
    // the Filter containing the probe must carry the codegen star — a
    // CodegenFallback expression would split the stage
    val filterLine = plan.linesIterator.find(_.contains("bloom_contains")).get
    assert(filterLine.trim.startsWith("*"), s"probe fell out of codegen:\n$plan")
  }

  test("GraftOps.bloomSemiJoin equals the plain left-semi join and probes scan-side") {
    val orders = t.orders
    val bigSpenders = t.customer.filter(col("c_acctbal") > 9000)
    val viaBloom = graft.plans.GraftOps.bloomSemiJoin(
      orders, bigSpenders, "o_custkey", "c_custkey", mBits = 65536, kHashes = 5)
    val plain = orders.join(
      bigSpenders.select(col("c_custkey").as("o_custkey")).distinct(),
      Seq("o_custkey"), "left_semi")
      .select(orders.columns.map(col).toIndexedSeq: _*)
    assert(viaBloom.columns.toSeq == orders.columns.toSeq)
    val key = (r: org.apache.spark.sql.Row) => r.getLong(0)
    assert(viaBloom.collect().map(key).sorted.toSeq ==
      plain.collect().map(key).sorted.toSeq)
    val plan = viaBloom.queryExecution.executedPlan.toString
    assert(plan.contains("bloom_contains"), plan)
    assert(plan.contains("LeftSemi"), plan)
  }

  test("the extension-built session resolves the sketch trio in plain SQL") {
    import org.apache.spark.sql.SparkSession
    spark.sparkContext // ensure the shared context exists
    // getOrCreate returns the active session (extensions would be ignored) —
    // same clear/build/restore dance as ExtensionsSpec
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val n = s2.sql(
        "SELECT hll_estimate(hll_union(sk)) AS est FROM (" +
          "SELECT hll_sketch(id) AS sk FROM range(1000) GROUP BY id % 4)")
        .head().getLong(0)
      assert(math.abs(n - 1000).toDouble / 1000 <= 0.02, n.toString)
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("bitmap sketch: growth, length-tolerant union, exact AND") {
    val s = spark
    import s.implicits._
    // group a's blob spans bit 1,000,000 (growth path); b's stays tiny —
    // the union must OR across the length mismatch and count exactly
    val df = Seq((1L, "a"), (9L, "a"), (1000000L, "a"), (9L, "b"), (2L, "b"))
      .toDF("id", "g")
    df.createOrReplaceTempView("bm_in")
    val total = s.sql(
      "SELECT bitmap_count(bitmap_union(bm)) AS n FROM " +
        "(SELECT g, bitmap_sketch(id) AS bm FROM bm_in GROUP BY g)")
      .head().getLong(0)
    assert(total == 4, s"expected 4 distinct ids, got $total") // {1, 2, 9, 1000000}
    // AND of the two per-group blobs (different lengths) = exactly {9}
    val both = s.sql(
      "SELECT bitmap_count(bitmap_and_pair(a.bm, b.bm)) AS n FROM " +
        "(SELECT bitmap_sketch(id) AS bm FROM bm_in WHERE g = 'a') a, " +
        "(SELECT bitmap_sketch(id) AS bm FROM bm_in WHERE g = 'b') b")
      .head().getLong(0)
    assert(both == 1, s"expected |{9}| = 1, got $both")
  }
}
