package graft

import org.scalatest.funsuite.AnyFunSuite

/** G5/G5b/G6: k-NN shape + the LSH scale path's quality. */
class VectorSpec extends AnyFunSuite {
  import TestSpark._

  test("g14d: JPEG round-trip preserves dims exactly and bounds channel drift") {
    // the decode-tolerance contract the declared query's oracle can't carry
    // (lossy pixels don't hash-match): dims exact, mean per-pixel channel
    // error within a few grey levels on the gradient fixtures
    import graft.operators.VectorQueries._
    (0 until 60 by 7).foreach { k =>
      val src = patternImage(k)
      val dec = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(encodeImage(src, "jpg")))
      assert(dec.getWidth == src.getWidth && dec.getHeight == src.getHeight,
        s"img $k: JPEG changed dimensions")
      val n = src.getWidth.toLong * src.getHeight
      val (r0, g0, b0) = channelSums(src)
      val (r1, g1, b1) = channelSums(dec)
      Seq(("R", r0, r1), ("G", g0, g1), ("B", b0, b1)).foreach {
        case (c, a, b) =>
          val meanErr = math.abs(a - b).toDouble / n
          assert(meanErr <= 10.0,
            s"img $k channel $c: mean per-pixel drift $meanErr > 10")
      }
      // and the lossless control on the same fixture: PNG is exact
      val png = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(encodeImage(src, "png")))
      assert(channelSums(png) == ((r0, g0, b0)), s"img $k: PNG not lossless")
    }
  }

  test("g5: exactly <= 5 neighbors per vector, self excluded") {
    val knn = SparkEntry.queries("g5_knn_join")(spark, sfDir).collect()
    val byA = knn.groupBy(_.getLong(0))
    byA.foreach { case (a, rows) =>
      assert(rows.length <= 5)
      assert(!rows.exists(_.getLong(1) == a), s"self-neighbor for $a")
    }
  }

  test("g5b: LSH knn respects bucket blocking and recalls some true neighbors") {
    val exact = SparkEntry.queries("g5_knn_join")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = SparkEntry.queries("g5b_knn_lsh")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(approx.nonEmpty)
    val recall = (approx & exact).size.toDouble / exact.size
    assert(recall >= 0.1, s"LSH recall $recall too low")
  }

  test("g4b: IVF probe recalls a reasonable share of the exact top-10") {
    val exact = SparkEntry.queries("g4_sim_topk_search")(spark, sfDir).collect()
      .map(_.getLong(0)).toSet
    val ivf = SparkEntry.queries("g4b_sim_topk_ivf")(spark, sfDir).collect()
      .map(_.getLong(0)).toSet
    assert(ivf.size == 10)
    val recall = (ivf & exact).size.toDouble / exact.size
    assert(recall >= 0.2, s"IVF recall $recall")
  }

  test("g83: binary-quantized shortlist recalls a reasonable share of the exact top-10") {
    val exact = SparkEntry.queries("g4_sim_topk_search")(spark, sfDir).collect()
      .map(_.getLong(0)).toSet
    val bq = SparkEntry.queries("g83_ann_binary_quant")(spark, sfDir).collect()
    assert(bq.length == 10)
    // hamming distances are consistent: non-negative, <= 64
    bq.foreach(r => assert(r.getInt(1) >= 0 && r.getInt(1) <= 64))
    val recall = (bq.map(_.getLong(0)).toSet & exact).size.toDouble / exact.size
    assert(recall >= 0.2, s"binary-quant recall $recall too low")
  }

  test("g15: embedding near-dup pairs respect the threshold and ordering") {
    val pairs = SparkEntry.queries("g15_dedup_embed_cosine")(spark, sfDir).collect()
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.45 && r.getDouble(2) <= 1.0)
    }
  }

  test("g5c: block nested-loop kNN equals an in-test brute force exactly") {
    // Independent oracle: brute-force top-5 computed here, driver-side, from
    // the raw fixture (fine at test SF; the plan under test never collects).
    def dotd(x: Array[Double], y: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < x.length) { acc += x(i) * y(i); i += 1 }
      acc
    }
    def round6(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val all = Tables(spark, sfDir).embeddings
      .select("vec_id", "embedding").collect()
      .map { r =>
        val v = r.getSeq[Float](1).map(_.toDouble).toArray
        (r.getLong(0), v, math.sqrt(dotd(v, v)))
      }
    val brute = all.flatMap { case (aId, a, na) =>
      all.iterator
        .filter(_._1 != aId)
        .map { case (bId, b, nb) => (bId, round6(dotd(a, b) / (na * nb))) }
        .toArray
        .sortBy { case (bId, cos) => (-cos, bId) }
        .take(5)
        .zipWithIndex
        .map { case ((bId, cos), i) => (aId, i + 1) -> (bId, cos) }
    }.toMap
    val blk = SparkEntry.queries("g5c_knn_block")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(blk == brute)
  }

  test("g15b: banded LSH dedup emits only true pairs and recalls most of brute force") {
    val exact = SparkEntry.queries("g15_dedup_embed_cosine")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SparkEntry.queries("g15b_dedup_embed_lsh")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact-verify step ⇒ precision is 1.0 by construction
    assert((lsh -- exact).isEmpty, s"LSH emitted non-pairs: ${(lsh -- exact).take(5)}")
    val recall = (lsh & exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"banded LSH recall $recall too low (${lsh.size}/${exact.size})")
  }

  test("g3b: native codegen cosine expression matches the HOF formulation exactly") {
    val hof = SparkEntry.queries("g3_sim_cosine_pairs")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val df = SparkEntry.queries("g3b_sim_cosine_native")(spark, sfDir)
    val native = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(native == hof)
    // and it must run inside whole-stage codegen, not as a fallback: the
    // `*(n)` stage marker on the projection that evaluates cosine_sim
    // (collect() above finalized this df's adaptive plan)
    val plan = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[[^\n]*cosine_sim""".r.findFirstIn(plan).isDefined, plan)
  }

  test("cosine_sim: many calls fused into ONE codegen stage still compile") {
    // regression: doGenCode used fixed local names (i, dot, …), so two
    // cosine_sim calls landing in the same whole-stage-codegen function
    // (exactly what g4b's 10-column probe projection does) made janino
    // reject the stage and Spark silently fall back to the interpreted
    // path. fallback=false turns that silent downgrade into a hard error.
    val s = spark
    import s.implicits._
    val prev = s.conf.get("spark.sql.codegen.fallback", "true")
    s.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val df = Seq((Array(1.0, 2.0, 3.0), Array(3.0, 2.0, 1.0)))
        .toDF("a", "b")
        .selectExpr("cosine_sim(a, b) AS c1", "cosine_sim(b, a) AS c2",
          "cosine_sim(a, a) AS c3")
        .filter("cosine_sim(a, b) > -2")
      val row = df.head()
      assert(math.abs(row.getDouble(0) - row.getDouble(1)) < 1e-15)
      assert(math.abs(row.getDouble(2) - 1.0) < 1e-12)
    } finally s.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("g6: one centroid component per (label, pos), full 64-dim coverage") {
    val c = SparkEntry.queries("g6_centroid_per_label")(spark, sfDir).collect()
    val labels = c.map(_.getInt(0)).distinct
    assert(c.length == labels.length * 64)
  }

  test("h2: aggregator vector sum equals per-position sums") {
    val h2 = SparkEntry.queries("h2_udaf_vecsum")(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val g6 = SparkEntry.queries("g6_centroid_per_label")(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val counts = Tables(spark, sfDir).embeddings.groupBy("label").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    h2.foreach { case ((l, p), s) =>
      val centroidTimesN = g6((l, p)) * counts(l)
      assert(math.abs(s - centroidTimesN) < 1e-3, s"label $l pos $p: $s vs $centroidTimesN")
    }
  }

  test("g33: sign JL projection preserves norms in expectation (mean ratio ~ 1)") {
    import org.apache.spark.sql.functions._
    val proj = SparkEntry.queries("g33_random_projection")(spark, sfDir)
      .groupBy("vec_id").agg(sum(col("xp") * col("xp")).as("pn"))
    val orig = Tables(spark, sfDir).embeddings.select(col("vec_id"),
      expr("aggregate(embedding, 0D, (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))").as("vn"))
    val ratios = proj.join(orig, "vec_id")
      .select((col("pn") / col("vn")).as("r")).collect().map(_.getDouble(0))
    val mean = ratios.sum / ratios.length
    assert(math.abs(mean - 1.0) < 0.1, s"mean norm ratio $mean over ${ratios.length} vectors")
    // individual distortion at d_out=16 is wide but must stay sane
    assert(ratios.forall(r => r > 0.05 && r < 5.0), s"extreme distortion: ${ratios.min}..${ratios.max}")
  }

  test("g40: Lloyd's k-means — monotone inertia, argmin assignment, full coverage") {
    import org.apache.spark.sql.functions._
    val base = Tables(spark, sfDir).embeddings.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("x")).cache()
    val (cents, inertias) = graft.plans.KMeans.fit(base, "vec_id", "x", 64, 8, 10)
    assert(cents.length == 8 && cents.forall(_.length == 64))
    // Lloyd monotonicity: inertia never increases across iterations
    inertias.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a + 1e-9, s"inertia rose: $a -> $b") }
    // CONVERGENCE PIN for the declared query's 5-iteration budget (r19):
    // by iteration 5 the fixture's inertia is within 1% of the
    // 10-iteration value (measured 0.3-0.6% across sf0.001/0.01/0.1), so
    // the 5 extra passes the query used to run bought noise-scale inertia
    // for double the training wall — this assertion licenses the cut.
    assert(inertias(4) - inertias(9) <= 0.01 * inertias(9),
      s"fixture no longer converges by iter 5: ${inertias(4)} vs ${inertias(9)}")
    // the declared query: every vector in exactly one cluster
    val q = SparkEntry.queries("g40_kmeans")(spark, sfDir).collect()
    assert(q.map(_.getLong(1)).sum == base.count())
    assert(q.length <= 8)
    // assignment is the true argmin over the final centroids
    def d2(x: Array[Double], c: Array[Double]): Double =
      x.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
    val (cid, _) = graft.plans.KMeans.assignCols("x", cents)
    base.select(col("vec_id"), col("x"), cid.as("cid")).collect().foreach { r =>
      val x = r.getSeq[Double](1).toArray
      val best = cents.indices.minBy(i => d2(x, cents(i)))
      assert(d2(x, cents(r.getInt(2))) <= d2(x, cents(best)) + 1e-12)
    }
    base.unpersist()
    ()
  }

  test("g42: kmeans-blocked dedup emits only true pairs and recalls most of brute force") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("g42_kmeans_dedup")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force truth at the same threshold
    val vecs = Tables(spark, sfDir).embeddings
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val truth = (for {
      i <- vecs.indices.iterator; j <- (i + 1) until vecs.length
      c = cos(vecs(i)._2, vecs(j)._2)
      if BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP) >= 0.45
    } yield {
      val (x, y) = (vecs(i)._1, vecs(j)._1)
      (math.min(x, y), math.max(x, y))
    }).toSet
    assert(got.subsetOf(truth), s"false positives: ${got -- truth}")
    assert(truth.nonEmpty && got.size.toDouble / truth.size >= 0.6,
      s"recall ${got.size}/${truth.size} below floor")
    ()
  }

  test("g39: power-iteration PC1 satisfies the eigen-invariants") {
    import org.apache.spark.sql.functions._
    val base = Tables(spark, sfDir).embeddings.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("x"))
    val (centered, _) = graft.plans.PowerIteration.center(base, "x")
    val xc = centered.cache()
    val (v, lambda) = graft.plans.PowerIteration.topComponent(xc, "x", 64, 30)
    // the one-pass Gram path runs the same normalized recurrence driver-side
    // — both paths must land on the same component
    val (vg, lambdag) = graft.plans.PowerIteration.topComponentGram(xc, "x", 64, 30)
    assert(math.abs(lambdag - lambda) < 1e-6 * math.max(1.0, lambda),
      s"gram lambda $lambdag vs matrix-free $lambda")
    assert(v.zip(vg).map { case (a, b) => math.abs(a - b) }.max < 1e-6,
      "gram eigenvector diverges from matrix-free path")
    // unit norm, canonical sign
    assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-12)
    assert(v(v.indices.maxBy(i => math.abs(v(i)))) > 0)
    // PC1 captures at least the variance of EVERY coordinate axis
    val axisVar = xc.select(posexplode(col("x")).as(Seq("pos", "e")))
      .groupBy("pos").agg((sum(col("e") * col("e")) / count(lit(1))).as("av"))
      .collect().map(_.getDouble(1))
    assert(lambda >= axisVar.max - 1e-9, s"lambda $lambda < max axis var ${axisVar.max}")
    // eigen-residual: ||A v - lambda v|| / lambda modest after 30 iterations
    // (the fixture spectrum is near-flat, so convergence is slow by design)
    // — and strictly SHRINKING with more iterations
    val n = xc.count().toDouble
    def residOf(vec: Array[Double], lam: Double): Double = {
      val vlit = array(vec.toIndexedSeq.map(lit): _*)
      val t = aggregate(zip_with(col("x"), vlit, (a, b) => a * b), lit(0.0), (acc, e) => acc + e)
      val av = xc.withColumn("__t", t)
        .select(posexplode(transform(col("x"), x => x * col("__t"))).as(Seq("pos", "wv")))
        .groupBy("pos").agg((sum(col("wv")) / lit(n)).as("w"))
        .orderBy("pos").collect().map(_.getDouble(1))
      math.sqrt(av.zip(vec).map { case (a, b) => val d = a - lam * b; d * d }.sum)
    }
    val resid = residOf(v, lambda)
    assert(resid / lambda < 0.05, s"residual $resid vs lambda $lambda")
    val (v60, lambda60) = graft.plans.PowerIteration.topComponent(xc, "x", 64, 60)
    assert(residOf(v60, lambda60) < resid, "residual must shrink with more iterations")
    // projections of CENTERED data sum to ~0
    val vfin = array(v.toIndexedSeq.map(lit): _*)
    val tfin = aggregate(zip_with(col("x"), vfin, (a, b) => a * b), lit(0.0), (acc, e) => acc + e)
    val meanProj = xc.select((sum(tfin) / lit(n)).as("m")).collect()(0).getDouble(0)
    assert(math.abs(meanProj) < 1e-9, s"mean projection $meanProj")
    // and the declared query runs: one row per label carrying that lambda
    val q = SparkEntry.queries("g39_pca_power")(spark, sfDir).collect()
    assert(q.length == Tables(spark, sfDir).embeddings.select("label").distinct().count())
    q.foreach(r => assert(math.abs(r.getDouble(4) - lambda) < 1e-5))
    xc.unpersist()
    ()
  }

  test("g76: segment append freezes the codebook, partitions the delta exactly, and re-appends are no-ops") {
    import org.apache.spark.sql.functions._
    val t = Tables(spark, sfDir)
    val idx = s"${System.getProperty("java.io.tmpdir")}/graft_ivfseg_${Tables.pathKey(sfDir)}"
    val base = t.embeddings.filter(col("vec_id") % 10 =!= 9)
    val delta = t.embeddings.filter(col("vec_id") % 10 === 9)
    graft.sources.IvfIndex.write(base, idx)
    val before = graft.sources.IvfIndex.centroids(spark, idx)
      .map { case (c, v) => (c, v.toSeq) }
    graft.sources.IvfIndex.appendSegment(delta, idx, "d1")
    // no retrain: the serving codebook is bit-identical after the append
    val after = graft.sources.IvfIndex.centroids(spark, idx)
      .map { case (c, v) => (c, v.toSeq) }
    assert(before == after, "segment append retrained the codebook")
    // the segment holds exactly the delta, every row in a valid cell
    val seg = graft.sources.IvfIndex.segment(spark, idx, "d1")
    assert(seg.count() == delta.count())
    assert(seg.filter(col("cell") < 0 || col("cell") >= graft.sources.IvfIndex.cellsK)
      .count() == 0)
    // idempotence: the fingerprint marker makes a re-append a no-op
    graft.sources.IvfIndex.appendSegment(delta, idx, "d1")
    assert(graft.sources.IvfIndex.segment(spark, idx, "d1").count() == delta.count(),
      "re-append duplicated the segment")
    // base ∪ segment covers the corpus exactly once
    val union = graft.sources.IvfIndex.postings(spark, idx)
      .select("vec_id").unionByName(seg.select("vec_id"))
    assert(union.count() == t.embeddings.count())
    assert(union.distinct().count() == t.embeddings.count())
  }

  test("g78: compaction flips the pointer, drops the segment, and serves identically") {
    import java.nio.file.{Files, Paths}
    val g76 = SparkEntry.queries("g76_ann_index_append")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val g78 = SparkEntry.queries("g78_ann_index_compact")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    // compaction must not change a single served row
    assert(g76 == g78, "post-compaction serve diverged from base∪segment serve")
    val idx = s"${System.getProperty("java.io.tmpdir")}/graft_ivfcmp_${Tables.pathKey(sfDir)}"
    // the pointer names the compacted generation and the segment is gone
    val ptr = Paths.get(idx, "_postings")
    assert(Files.exists(ptr), "compaction did not flip the postings pointer")
    assert(new String(Files.readAllBytes(ptr), "UTF-8").startsWith("postings_g"))
    assert(!Files.exists(Paths.get(idx, "segments/d1")),
      "compaction left the folded segment behind")
    // single-scan serving: the compacted generation holds the full corpus
    assert(graft.sources.IvfIndex.postings(spark, idx).count() ==
      Tables(spark, sfDir).embeddings.count())
  }

  test("g81: PQ append freezes coarse AND subspace codebooks; the segment is exactly the delta") {
    import org.apache.spark.sql.functions._
    val t = Tables(spark, sfDir)
    val idx = s"${System.getProperty("java.io.tmpdir")}/graft_pqseg_${Tables.pathKey(sfDir)}"
    val base = t.embeddings.filter(col("vec_id") % 10 =!= 9)
    val delta = t.embeddings.filter(col("vec_id") % 10 === 9)
    graft.sources.IvfPqIndex.write(base, idx)
    val coarseBefore = graft.sources.IvfIndex.centroids(spark, idx)
      .map { case (c, v) => (c, v.toSeq) }
    val cbsBefore = graft.sources.IvfPqIndex.codebooks(spark, idx)
      .map(_.map(_.toSeq).toSeq)
    graft.sources.IvfPqIndex.appendSegment(delta, idx, "d1")
    assert(graft.sources.IvfIndex.centroids(spark, idx)
      .map { case (c, v) => (c, v.toSeq) } == coarseBefore,
      "append retrained the coarse codebook")
    assert(graft.sources.IvfPqIndex.codebooks(spark, idx)
      .map(_.map(_.toSeq).toSeq) == cbsBefore,
      "append retrained a subspace codebook")
    val seg = graft.sources.IvfIndex.segment(spark, idx, "d1")
    assert(seg.count() == delta.count())
    // every segment row carries valid codes for all 4 subspaces
    assert(seg.filter((0 until 4).map(m =>
      col(s"c$m") < 0 || col(s"c$m") >= 16).reduce(_ || _)).count() == 0)
    // idempotent re-append
    graft.sources.IvfPqIndex.appendSegment(delta, idx, "d1")
    assert(graft.sources.IvfIndex.segment(spark, idx, "d1").count() == delta.count())
  }

  test("g80: tombstone delete never rewrites postings and makes deleted ids unfindable") {
    import org.apache.spark.sql.functions._
    import java.nio.file.{Files, Paths}
    val t = Tables(spark, sfDir)
    val idx = s"${System.getProperty("java.io.tmpdir")}/graft_ivfdel_${Tables.pathKey(sfDir)}"
    graft.sources.IvfIndex.write(t.embeddings, idx)
    def postingsState(): Seq[(String, Long, Long)] = {
      import scala.jdk.CollectionConverters._
      val base = Paths.get(idx, "postings")
      Files.walk(base).iterator().asScala
        .filter(Files.isRegularFile(_))
        .map(p => (base.relativize(p).toString, Files.size(p),
          Files.getLastModifiedTime(p).toMillis))
        .toSeq.sortBy(_._1)
    }
    val before = postingsState()
    val dead = t.embeddings.filter(col("vec_id") % 101 === 7).select(col("vec_id"))
    graft.sources.IvfIndex.delete(dead, idx)
    // a delete is O(tombstones): no postings file was touched
    assert(postingsState() == before, "delete rewrote postings files")
    // idempotence: the fingerprint marker makes a re-delete a no-op
    graft.sources.IvfIndex.delete(dead, idx)
    assert(postingsState() == before)
    // deleted ids are unfindable through the declared serve
    val served = SparkEntry.queries("g80_ann_index_delete")(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    val deadIds = dead.collect().map(_.getLong(0)).toSet
    assert((served & deadIds).isEmpty, "a tombstoned vector was served")
  }

  test("g79: probe-sweep recall is monotone and hits 100% at full probes only if exact ⊆ cells") {
    val rows = SparkEntry.queries("g79_ann_probe_sweep")(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(rows.map(_._1).toSeq == Seq(1, 2, 3, 4))
    // candidate sets nest as probes grow, so hits can never decrease
    rows.sliding(2).foreach { case Array((_, a), (_, b)) =>
      assert(b >= a, s"recall decreased across probe counts: $a -> $b")
    }
    assert(rows.forall { case (_, h) => h >= 0 && h <= 10 })
  }

  test("g55: PQ-ADC distances equal query-to-decoded distances exactly; recall is sane") {
    import org.apache.spark.sql.functions._
    val t = Tables(spark, sfDir)
    // re-derive the SAME codebooks the query trains (KMeans.fit is
    // deterministic), then check the declared output against a driver-side
    // re-encode: adist(v) must be EXACTLY ||q - decode(codes(v))||^2 (after
    // the query's HALF_UP 6dp round) — the defining ADC identity.
    val base = operators.VectorQueries.withPqSubs(
      t.embeddings.select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("x")))
    val (cbs, q) = operators.VectorQueries.pqTrain(base, t)
    assert(cbs.length == 4 && cbs.forall(cb => cb.length == 16 && cb.forall(_.length == 16)))
    // CONVERGENCE PIN for the 2-round training budget (r19): per subspace,
    // rounds 3-4 improve inertia by < 10% of the round-4 value (measured
    // 3-5% across fixtures) — round 1 does the clustering, so the trainer's
    // 2-round budget keeps nearly all the quantization quality at half the
    // distributed passes.
    (0 until 4).foreach { j =>
      val (_, pin) = graft.plans.KMeans.fit(
        base.select(org.apache.spark.sql.functions.col("vec_id"),
          org.apache.spark.sql.functions.col(s"sub$j")), "vec_id", s"sub$j", 16, 16, 4)
      assert(pin(1) - pin(3) <= 0.10 * pin(3),
        s"subspace $j no longer near-converged by round 2: ${pin(1)} vs ${pin(3)}")
    }
    val vecs = t.embeddings.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray)).toMap
    def sq(a: Array[Double], b: Array[Double], off: Int): Double = {
      var acc = 0.0; var i = 0
      while (i < b.length) { val d = a(off + i) - b(i); acc += d * d; i += 1 }
      acc
    }
    def adistOf(v: Array[Double]): Double =
      (0 until 4).map { j =>
        // nearest sub-centroid, ties toward the lowest id (KMeans.assignCols)
        val ds = cbs(j).map(c => sq(v, c, j * 16))
        val code = ds.indexOf(ds.min)
        sq(q, cbs(j)(code), j * 16)
      }.sum
    def round6(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val out = SparkEntry.queries("g55_pq_adc_topk")(spark, sfDir).collect()
    assert(out.length == 10)
    out.foreach { r =>
      val id = r.getLong(0)
      assert(r.getDouble(2) == round6(adistOf(vecs(id))), s"ADC identity broken for $id")
      // the re-rank distance is the true distance, exactly
      assert(r.getDouble(3) == round6(sq(vecs(id), q, 0)), s"re-rank dist broken for $id")
    }
    // final output exact-ordered by true distance, self excluded
    assert(!out.exists(_.getLong(0) == 0L))
    val ds = out.map(_.getDouble(3)).toSeq
    assert(ds == ds.sorted)
    // recall vs the exact L2 top-10 (query = vec 0, self excluded): the
    // 50-candidate ADC shortlist + exact re-rank must recover most of it
    val exact = vecs.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => (sq(v, q, 0), id) }.sorted.take(10).map(_._2).toSet
    val got = out.map(_.getLong(0)).toSet
    val recall = (exact & got).size.toDouble / 10
    assert(recall >= 0.4, s"PQ shortlist recall@10 $recall too low")
  }
}
