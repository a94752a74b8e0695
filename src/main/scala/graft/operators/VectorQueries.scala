package graft.operators

import graft.{QueryModule, Tables}
import graft.functions.VecSumAgg
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** SURVEY §2 G vector band (G3–G6, G10) + H2 (typed Aggregator UDAF) + the
  * north-star multimodal-binary pipeline.
  *
  * Scale notes (100 TB): pairwise similarity never collects and never holds
  * the full set on one node — g3 blocks on label, exact kNN/dedup use block
  * replication (`knnBlock`/`dedupBlock`), and the approximate paths bucket
  * by sign-LSH; norms are precomputed per row before any join so the join
  * side carries one double, not a recomputed aggregate; centroid/vector-sum
  * aggregations are two-phase partial aggregates (flat (label,pos) keys →
  * even shuffle).
  */
object VectorQueries extends QueryModule {

  /** embedding float[] → double[] (all math in double; float formatting
    * diverges between engines). */
  private def vd = expr("transform(embedding, x -> CAST(x AS DOUBLE))")

  /** Sequential left-fold dot product — index order fixed, so the double
    * result is bit-identical across engines evaluating the same order. */
  private def dot(a: String, b: String) =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> x * y), 0D, (s, v) -> s + v)")

  /** Deterministic ±1 JL projection matrix, sign(md5("j_i")) — 16 rows of
    * 64 signs, rendered once as a nested-array literal (g33). The same md5
    * rule is re-derived in SQL by the oracle. */
  private lazy val jlSigns: String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(j: Int, i: Int): String = {
      val hex = md.digest(s"${j}_$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (hex.charAt(0) < '8') "1.0D" else "-1.0D"
    }
    (0 until 16).map(i => (0 until 64).map(j => sign(j, i))
      .mkString("array(", ", ", ")")).mkString("array(", ", ", ")")
  }

  private def dotd(x: Array[Double], y: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < x.length) { acc += x(i) * y(i); i += 1 }
    acc
  }

  /** HALF_UP 6dp — what Spark's round() does, so kernel output matches the
    * declarative form (and the DuckDB oracle) bit-for-bit. */
  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Query vector lookup shared by the ANN serving family: vec 0's
    * embedding as driver doubles (one row — metadata scale). */
  private def queryVec(t: Tables): Array[Double] =
    t.embeddings.filter(col("vec_id") === 0).select(col("embedding"))
      .head().getSeq[Float](0).map(_.toDouble).toArray

  /** Driver-side probe selection shared by every persisted-index serve:
    * rank cells on the HALF_UP-6dp-ROUNDED cosine with cell-id ties low —
    * the exact ordering every oracle replays — and keep the top p. ONE
    * definition so the serving family cannot drift from its oracles. */
  private def topCells(cents: Seq[(Int, Array[Double])],
      query: Array[Double], p: Int): Seq[Int] = {
    val qn = math.sqrt(dotd(query, query))
    cents.map { case (cell, c) =>
      (cell, BigDecimal(dotd(query, c) / (qn * math.sqrt(dotd(c, c))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP))
    }.sortBy { case (cell, sim) => (-sim, cell) }.take(p).map(_._1)
  }

  /** EXACT k-NN (k=5) with no driver collect and no full-set broadcast — the
    * block nested-loop plan that holds at 100 TB: rows are hashed into B
    * blocks; each row is replicated B times as a query (to buckets
    * (myBlock, *)) and B times as a candidate (to buckets (*, myBlock)),
    * every (qBlock, cBlock) bucket runs the local top-k kernel over its
    * n/B × n/B slice, and a final per-query merge of the B partial top-k
    * lists yields the global top-k (each global winner is a within-block
    * winner, so the union of partials always contains it). One shuffle of
    * 2B data copies; per-task memory is 2n/B vectors — B trades shuffle
    * volume against task memory. Ascending-index fold + HALF_UP 6dp, so the
    * exact all-pairs oracle replays bit-for-bit. */
  private def knnBlock: QFn = (s, dir) => {
    val spark = s
    import spark.implicits._
    val t = Tables(s, dir)
    val B = 4
    t.embeddings.select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .flatMap { case (id, vf) =>
        val v = vf.map(_.toDouble).toArray
        val m = (id % B).toInt
        // role 0 = query copy, role 1 = candidate copy
        (0 until B).iterator.flatMap { o =>
          Iterator((m * B + o, 0, id, v), (o * B + m, 1, id, v))
        }
      }
      .groupByKey(_._1)
      .flatMapGroups { (_: Int, it: Iterator[(Int, Int, Long, Array[Double])]) =>
        val (qs, cs) = it.map { case (_, role, id, v) =>
          (role, id, v, math.sqrt(dotd(v, v)))
        }.toArray.partition(_._1 == 0)
        // candidates as parallel primitive arrays — the inner loop below runs
        // |qs|×|cs| times per bucket, so no tuples, no boxing
        val cIds = cs.map(_._2)
        val cVecs = cs.map(_._3)
        val cNorms = cs.map(_._4)
        qs.iterator.flatMap { case (_, aId, a, na) =>
          // bounded top-5 by (-roundedCos, bId), kept best-first. round6 is a
          // BigDecimal op, so it runs ONLY for candidates whose raw cosine
          // could still place after rounding (round6 moves a value < 5e-7).
          val ids = new Array[Long](5)
          val cos = new Array[Double](5)
          var filled = 0
          var ci = 0
          while (ci < cIds.length) {
            val bId = cIds(ci)
            if (bId != aId) {
              val raw = dotd(a, cVecs(ci)) / (na * cNorms(ci))
              if (filled < 5 || raw >= cos(4) - 5e-7) {
                val r = round6(raw)
                var pos = filled
                while (pos > 0 && (r > cos(pos - 1) ||
                    (r == cos(pos - 1) && bId < ids(pos - 1)))) pos -= 1
                if (pos < 5) {
                  var m = math.min(filled, 4)
                  while (m > pos) { cos(m) = cos(m - 1); ids(m) = ids(m - 1); m -= 1 }
                  cos(pos) = r
                  ids(pos) = bId
                  if (filled < 5) filled += 1
                }
              }
            }
            ci += 1
          }
          (0 until filled).iterator.map(i => (aId, ids(i), cos(i)))
        }
      }
      .groupByKey(_._1)
      .flatMapGroups { (aId: Long, partials: Iterator[(Long, Long, Double)]) =>
        partials.map { case (_, bId, cos) => (bId, cos) }
          .toArray
          .sortBy { case (bId, cos) => (-cos, bId) }
          .take(5)
          .iterator.zipWithIndex
          .map { case ((bId, cos), i) => (aId, bId, cos, i + 1) }
      }
      .toDF("a_id", "b_id", "cos", "rn")
      .orderBy("a_id", "rn")
  }

  /** EXACT embedding near-dup pairs (cos >= 0.45) with no driver collect —
    * the block upper-triangle plan: rows hash into B blocks, each row is
    * sent to the B buckets {(min(m,o), max(m,o))}, and bucket (i,j) emits
    * exactly the pairs with one side in block i and one in block j
    * (within-block pairs for i==j) — every unordered pair lands in EXACTLY
    * one bucket, so no dedup pass is needed. B(B+1)/2 buckets, one shuffle
    * of B copies, per-task memory 2n/B vectors. */
  private def dedupBlock: QFn = blockPairs(0.45)

  /** All unordered pairs with round6(cosine) >= `th`, via the block
    * upper-triangle plan above — parameterized so the similarity-graph
    * builders (g44) reuse it at a lower threshold. */
  private def blockPairs(th: Double): QFn = (s, dir) => {
    val spark = s
    import spark.implicits._
    val t = Tables(s, dir)
    val B = 4
    t.embeddings.select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .flatMap { case (id, vf) =>
        val v = vf.map(_.toDouble).toArray
        val m = (id % B).toInt
        (0 until B).iterator.map { o =>
          (math.min(m, o) * B + math.max(m, o), m, id, v)
        }
      }
      .groupByKey(_._1)
      .flatMapGroups { (key: Int, it: Iterator[(Int, Int, Long, Array[Double])]) =>
        val i = key / B
        val j = key % B
        val rows = it.map { case (_, m, id, v) =>
          (m, id, v, math.sqrt(dotd(v, v)))
        }.toArray
        val out = Iterator.newBuilder[(Long, Long, Double)]
        // round6 (a BigDecimal op) only runs for pairs whose raw cosine can
        // still clear the threshold after rounding (round6 moves < 5e-7)
        if (i == j) {
          val rs = rows.sortBy(_._2)
          for (x <- rs.indices; y <- x + 1 until rs.length) {
            val raw = dotd(rs(x)._3, rs(y)._3) / (rs(x)._4 * rs(y)._4)
            if (raw >= th - 5e-7) {
              val cos = round6(raw)
              if (cos >= th) out += ((rs(x)._2, rs(y)._2, cos))
            }
          }
        } else {
          val as = rows.filter(_._1 == i)
          val bs = rows.filter(_._1 == j)
          for (ra <- as; rb <- bs) {
            val raw = dotd(ra._3, rb._3) / (ra._4 * rb._4)
            if (raw >= th - 5e-7) {
              val cos = round6(raw)
              if (cos >= th)
                out += ((math.min(ra._2, rb._2), math.max(ra._2, rb._2), cos))
            }
          }
        }
        out.result()
      }
      .toDF("a_id", "b_id", "cos")
      .orderBy("a_id", "b_id")
  }

  val queries: Seq[(String, QFn)] = Seq(
    // G3: pairwise cosine within each label block.
    "g3_sim_cosine_pairs" -> ((s, dir) => {
      val t = Tables(s, dir)
      val e = t.embeddings.select(col("vec_id"), col("label"), vd.as("v"))
        .withColumn("nrm", sqrt(dot("v", "v")))
      val a = e.select(col("vec_id").as("a_id"), col("label"), col("v").as("va"), col("nrm").as("na"))
      val b = e.select(col("vec_id").as("b_id"), col("label").as("lb"), col("v").as("vb"), col("nrm").as("nb"))
      a.join(b, col("label") === col("lb") && col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"), col("label"),
          round(dot("va", "vb") / (col("na") * col("nb")), 6).as("cos"))
        .orderBy("a_id", "b_id")
    }),

    // G3b: same pair set as G3, but cosine as a native codegen'd Catalyst
    // expression (single fused dot+norms pass inside whole-stage codegen) —
    // the custom-Expression extension tier. Identical fold order → identical
    // doubles → same oracle formulation as G3.
    "g3b_sim_cosine_native" -> ((s, dir) => {
      val t = Tables(s, dir)
      val e = t.embeddings.select(col("vec_id"), col("label"), vd.as("v"))
      val a = e.select(col("vec_id").as("a_id"), col("label"), col("v").as("va"))
      val b = e.select(col("vec_id").as("b_id"), col("label").as("lb"), col("v").as("vb"))
      a.join(b, col("label") === col("lb") && col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"), col("label"),
          round(expr("cosine_sim(va, vb)"), 6).as("cos"))
        .orderBy("a_id", "b_id")
    }),

    // G4: top-k most similar vectors to a query vector (vec_id 0), ranked on
    // the ROUNDED cosine with vec_id tiebreak so the cut is engine-stable.
    "g4_sim_topk_search" -> ((s, dir) => {
      val t = Tables(s, dir)
      val e = t.embeddings.select(col("vec_id"), col("label"), vd.as("v"))
      val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
      e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .select(col("vec_id"), col("label"),
          round(dot("v", "qv") / (sqrt(dot("v", "v")) * sqrt(dot("qv", "qv"))), 6).as("cos"))
        .orderBy(col("cos").desc, col("vec_id").asc)
        .limit(10)
    }),

    // G83: BINARY QUANTIZATION ANN — the third point on the compression
    // curve after float32 (g4 exact) and PQ codes (g55): each 64-dim float
    // vector (256 B) quantizes to ONE bit per dimension — two packed 32-bit
    // words, 8 B, 32× — by thresholding each dimension at its exact-decimal
    // corpus MEAN (the g6 centroid discipline, so the oracle re-derives the
    // same thresholds bit-for-bit). Serving is the standard two-stage
    // shape: Hamming distance to the query signature (two XOR+popcount
    // codegen ops — memory-bandwidth speed, the reason BQ is the hot first
    // stage in production vector stores) cuts a top-50 shortlist with
    // vec_id tiebreak, then the exact 6dp-rounded cosine re-ranks the
    // shortlist to the final 10. Everything replays in SQL: thresholds,
    // bit-packing, XOR/popcount, both cuts. At 100 TB the signature column
    // is 32× smaller than the vectors, scans at RAM speed, and the
    // re-rank touches only 50 full vectors per query; the threshold pass
    // is one aggregate (64 decimal sums — metadata to the driver).
    "g83_ann_binary_quant" -> ((s, dir) => {
      val t = Tables(s, dir)
      val e = t.embeddings.select(col("vec_id"), vd.as("v"))
      val aggs = count(lit(1)).as("n") +:
        (0 until 64).map(d =>
          sum(col("v")(d).cast(DecimalType(38, 12))).cast("double").as(s"s$d"))
      val mRow = e.agg(aggs.head, aggs.tail: _*).head()
      val n = mRow.getLong(0).toDouble
      val mu = (0 until 64).map(d => mRow.getDouble(d + 1) / n)
      def word(off: Int) = (0 until 32).map { d =>
        when(col("v")(off + d) > lit(mu(off + d)), lit(1L << d)).otherwise(lit(0L))
      }.reduce(_ + _)
      val sigs = e.select(col("vec_id"), col("v"),
        word(0).as("lo"), word(32).as("hi"))
      val qs = sigs.filter(col("vec_id") === 0).select(col("lo"), col("hi")).head()
      val (qlo, qhi) = (qs.getLong(0), qs.getLong(1))
      val query = queryVec(t)
      sigs.filter(col("vec_id") =!= 0)
        .withColumn("hamming",
          (bit_count(col("lo").bitwiseXOR(lit(qlo))) +
            bit_count(col("hi").bitwiseXOR(lit(qhi)))).cast("int"))
        .orderBy(col("hamming").asc, col("vec_id").asc)
        .limit(50)
        .withColumn("qv", typedLit(query.toSeq))
        .select(col("vec_id"), col("hamming"),
          round(dot("v", "qv") / (sqrt(dot("v", "v")) * sqrt(dot("qv", "qv"))), 6).as("cos"))
        .orderBy(col("cos").desc, col("vec_id").asc)
        .limit(10)
    }),

    // G33: Johnson–Lindenstrauss sign random projection 64 → 16 dims — the
    // dimensionality-reduction pass ANN pipelines run before indexing. The
    // ±1 matrix is DETERMINISTIC (sign of md5("j_i")) and embedded as a
    // 1024-double literal, so each row is a pure codegen'd fold: no
    // shuffle, no UDF, no per-row hashing — the projection runs at scan
    // speed, which is exactly what survives at 100 TB. The oracle
    // recomputes the same signs from md5 in SQL; both engines left-fold
    // the same index order, so the doubles agree bit-for-bit before the
    // final round.
    "g33_random_projection" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.embeddings
        .withColumn("v", vd)
        .select(col("vec_id"),
          posexplode(expr(
            s"transform(sequence(0, 15), i -> round(aggregate(sequence(0, 63), 0D, " +
              s"(a, j) -> a + v[j] * element_at(element_at($jlSigns, i + 1), j + 1)) / 4.0D, 6))"))
            .as(Seq("i", "xp")))
        .orderBy("vec_id", "i")
    }),

    // G32: maximum-inner-product search (MIPS) — retrieval scoring where
    // magnitude matters (unnormalized rerankers, recommender dot products),
    // so cosine top-k (g4) gives the WRONG answer. Brute force here is the
    // exact baseline: broadcast query vector, codegen'd fold per row,
    // TakeOrdered top-k. The 100 TB path is the standard norm-augmentation
    // reduction — x̃ = [x, sqrt(M² − ‖x‖²)] turns MIPS into cosine-NN, after
    // which the g15b/g5b sign-LSH bucketing applies unchanged.
    "g32_mips_topk" -> ((s, dir) => {
      val t = Tables(s, dir)
      val e = t.embeddings.select(col("vec_id"), col("label"), vd.as("v"))
      val q = e.filter(col("vec_id") === 1).select(col("v").as("qv"))
      e.filter(col("vec_id") =!= 1).crossJoin(broadcast(q))
        .select(col("vec_id"), col("label"), round(dot("v", "qv"), 6).as("dotp"))
        .orderBy(col("dotp").desc, col("vec_id").asc)
        .limit(10)
    }),

    // G5: exact k-NN join (k=5), served by the block nested-loop plan (see
    // `knnBlock`) — no driver collect, no full-set broadcast. The approximate
    // 100 TB path is g5b (LSH bucketing).
    "g5_knn_join" -> knnBlock,

    // G5c: the same block plan under its original extension-tier name (kept
    // so both declared inventory rows stay green against the same oracle).
    "g5c_knn_block" -> knnBlock,

    // G5b: the scale path — sign-LSH bucketing (4 deterministic hyperplanes
    // → 16 buckets), then k-NN inside each bucket as a local kernel behind a
    // single shuffle on the bucket id: exactly the IVF/LSH plan that holds at
    // 100 TB (no bucket ever needs the full set). Approximate → rows-only
    // (recall asserted in VectorSpec).
    "g5b_knn_lsh" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val t = Tables(s, dir)
      val planes = lshPlanes(4, 64)
      val bcPlanes = s.sparkContext.broadcast(planes.toArray)
      def dotd(x: Array[Double], y: Array[Double]): Double = {
        var acc = 0.0; var i = 0
        while (i < x.length) { acc += x(i) * y(i); i += 1 }
        acc
      }
      def round6(x: Double): Double =
        java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      t.embeddings.select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
        .map { case (id, vf) =>
          val v = vf.map(_.toDouble).toArray
          val ps = bcPlanes.value
          var bucket = 0
          var i = 0
          while (i < ps.length) {
            if (dotd(v, ps(i)) >= 0) bucket |= (1 << i)
            i += 1
          }
          (bucket, id, v)
        }
        .groupByKey(_._1)
        .flatMapGroups { (bucket: Int, it: Iterator[(Int, Long, Array[Double])]) =>
          val vecs = it.map { case (_, id, v) => (id, v, math.sqrt(dotd(v, v))) }.toArray
          vecs.iterator.flatMap { case (aId, a, na) =>
            vecs.iterator
              .filter(_._1 != aId)
              .map { case (bId, b, nb) => (bId, round6(dotd(a, b) / (na * nb))) }
              .toArray
              .sortBy { case (bId, cos) => (-cos, bId) }
              .take(5)
              .iterator.zipWithIndex
              .map { case ((bId, cos), i) => (aId, bId, bucket, cos, i + 1) }
          }
        }
        .toDF("a_id", "b_id", "bucket", "cos", "rn")
        .orderBy("a_id", "rn")
    }),

    // G68: HARD-NEGATIVE MINING — build contrastive training triplets: for
    // each anchor in a mining batch (a FIXED batch of 100 anchors — the
    // training loop mines a bounded batch per step, so the batch size must
    // NOT scale with the pool: the original vec_id%10 rule made anchors a
    // constant FRACTION of the pool and the scored stream quadratic, which
    // the sf10 gate caught as a 4-billion-row window sort), the hardest
    // positive (most-similar same-label vector) and hardest negative
    // (most-similar OTHER-label vector), plus the margin between them — the
    // pair-selection pass every embedding-model training loop runs against
    // its candidate pool. Plan shape for scale: the SMALL side is the
    // anchor batch, broadcast onto a single streamed scan of the pool
    // (BroadcastNestedLoopJoin — the pool is never collected or
    // re-shuffled); the argmax runs as one window on (anchor, same-label)
    // over the scored stream. At 100 TB the pool scan drops to an IVF/PQ
    // shortlist first (g4b/g55), same downstream argmax. The per-pair score
    // is the fused codegen `cosine_sim` Expression (one array pass inside
    // whole-stage codegen), not three interpreted HOF folds — same
    // ascending-index accumulation order, so the doubles (and the oracle
    // hash) are bit-identical to the aggregate(zip_with(...)) form.
    "g68_hard_negative_mining" -> ((s, dir) => {
      val t = Tables(s, dir)
      val e = t.embeddings.select(col("vec_id"), col("label"), vd.as("v"))
      val anchors = e.filter(col("vec_id") < 100)
        .select(col("vec_id").as("a_id"), col("label").as("a_label"),
          col("v").as("av"))
      val scored = e
        .select(col("vec_id").as("b_id"), col("label").as("b_label"), col("v").as("bv"))
        .join(broadcast(anchors), col("a_id") =!= col("b_id"))
        .select(col("a_id"), col("b_id"),
          (col("a_label") === col("b_label")).as("same"),
          round(expr("cosine_sim(av, bv)"), 6).as("cos"))
      val w = Window.partitionBy(col("a_id"), col("same"))
        .orderBy(col("cos").desc, col("b_id"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .groupBy(col("a_id"))
        .agg(max(when(col("same"), col("b_id"))).as("pos_id"),
          max(when(col("same"), col("cos"))).as("pos_cos"),
          max(when(!col("same"), col("b_id"))).as("neg_id"),
          max(when(!col("same"), col("cos"))).as("neg_cos"))
        .withColumn("margin", round(col("pos_cos") - col("neg_cos"), 6))
        .orderBy("a_id")
    }),

    // G69: GRADED ANN RECALL@K — the approximate-retrieval family's quality
    // as a full-oracle CORRECTNESS row, not only a unit-test promise: for a
    // FIXED probe set (the 50 lowest vec_ids — a query workload is a bounded
    // batch, so like g68's anchor batch it must not scale with the pool;
    // a %-of-pool rule makes the scoring quadratic), the overlap between the IVF
    // 2-probe top-10 (g4b's index shape) and the exact top-10 (g4's
    // brute-force shape), per probe, as integers. Both sides rank on the
    // 6dp-rounded cosine with vec_id tiebreak (g4's engine-stable cut) and
    // the codebook is the PERSISTED LEARNED one (IvfIndex's deterministic
    // Lloyd training — bit-replayable, the g40 discipline), so the whole
    // computation — training, assignment, probe selection, both top-k's,
    // the intersection — replays in SQL. Plan shape: codebook is a k×d
    // driver literal (never the corpus), probes broadcast onto ONE streamed
    // scan of the pool scored by the fused codegen cosine, per-probe top-k
    // as a window — the same shapes g4/g4b run at 100 TB.
    "g69_ann_recall" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val t = Tables(s, dir)
      // grade THE index a query would actually hit: the persisted learned
      // IVF (sources/IvfIndex — KMeans cells, fingerprint-cached build,
      // shared with g71's serve path)
      val idx = Tables.scratch("ivfidx", dir)
      graft.sources.IvfIndex.write(t.embeddings, idx)
      val cents = graft.sources.IvfIndex.centroids(s, idx)
        .map { case (cell, c) => (cell, c.toSeq) }.toDF("clabel", "cv")
      val post = graft.sources.IvfIndex.postings(s, idx)
        .select(col("vec_id"), col("cell"), vd.as("v"))
      val probes = post.filter(col("vec_id") < 50)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      // probe → its 2 nearest cells, ranked on the rounded centroid cosine
      val probed = probes.crossJoin(broadcast(cents))
        .select(col("q_id").as("pq_id"), col("clabel"),
          round(expr("cosine_sim(qv, cv)"), 6).as("sim"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("pq_id").orderBy(col("sim").desc, col("clabel"))))
        .filter(col("rn") <= 2).select(col("pq_id"), col("clabel"))
      val scored = post
        .select(col("vec_id").as("b_id"), col("cell").as("b_cell"), col("v").as("bv"))
        .join(broadcast(probes), col("q_id") =!= col("b_id"))
        .select(col("q_id"), col("b_id"), col("b_cell"),
          round(expr("cosine_sim(qv, bv)"), 6).as("cos"))
      val wk = Window.partitionBy("q_id").orderBy(col("cos").desc, col("b_id"))
      val exact = scored.withColumn("rn", row_number().over(wk))
        .filter(col("rn") <= 10).select("q_id", "b_id")
      val approx = scored.join(broadcast(probed),
          col("q_id") === col("pq_id") && col("b_cell") === col("clabel"))
        .withColumn("rn", row_number().over(wk))
        .filter(col("rn") <= 10).select("q_id", "b_id")
      val hits = exact.join(approx, Seq("q_id", "b_id"))
        .groupBy("q_id").agg(count(lit(1)).as("hits"))
      probes.select(col("q_id"))
        .join(hits, Seq("q_id"), "left")
        .select(col("q_id"), coalesce(col("hits"), lit(0L)).as("hits_at_10"))
        .withColumn("recall_pct", (col("hits_at_10") * 10).cast("int"))
        .orderBy("q_id")
    }),

    // G71: ANN served from the PERSISTED IVF index (sources/IvfIndex.scala)
    // — the deployment shape g4b/g69 only simulate in-query: the index
    // (centroids + postings PARTITIONED BY cell) is built once behind a
    // content fingerprint, and the query path touches NOTHING but the
    // persisted artifact — k×64 centroid rows to the driver for probe
    // selection, then a scan of ONLY the 2 probed cells' directories
    // (partition pruning = IVF's "read 2 of k inverted lists", pinned in
    // PlanSpec) with the codegen cosine re-rank. The dedup twin is g49's
    // persisted shingle index; together they close the "a deployment
    // persists this" comments into measured behavior. Full oracle: cells
    // are LEARNED by the deterministic Lloyd trainer (plans.KMeans — the
    // g40 bit-replay discipline), so DuckDB unrolls the same 5 training
    // iterations, reassigns every vector, and replays probe selection and
    // the top-10 cut exactly.
    "g71_ann_index_serve" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val t = Tables(s, dir)
      val idx = Tables.scratch("ivfidx", dir)
      graft.sources.IvfIndex.write(t.embeddings, idx)
      val query = queryVec(t)
      val probes = topCells(graft.sources.IvfIndex.centroids(s, idx), query, 2)
      graft.sources.IvfIndex.postings(s, idx)
        .filter(col("cell").isin(probes.map(Integer.valueOf): _*) &&
          col("vec_id") =!= 0)
        .withColumn("qv", typedLit(query.toSeq))
        .select(col("vec_id"), col("label"),
          round(expr("cosine_sim(transform(embedding, x -> CAST(x AS DOUBLE)), qv)"), 6).as("cos"))
        .orderBy(col("cos").desc, col("vec_id").asc)
        .limit(10)
    }),

    // G73: ANN served from the PERSISTED IVF-PQ index (sources/IvfPqIndex)
    // — the complete FAISS-style serving shape, composing g71's partition-
    // pruned inverted-list read with g55's product quantization, and unlike
    // the in-query g55 FULLY ORACLE-BACKED: coarse cells and all four
    // subspace codebooks come from deterministic Lloyd (bit-replayable),
    // every persisted number is 6dp-rounded, the ADC lookup table is an
    // ordered driver-side fold, and the two cuts (ADC top-50 shortlist,
    // exact top-10 re-rank) order on rounded values with vec_id ties — so
    // DuckDB unrolls the 5+4×3 training iterations, re-encodes the corpus,
    // and replays probe selection, ADC scoring, and both cuts exactly.
    // Plan shape at 100 TB: k×64 + 4×16×16 driver doubles; ONE scan of the
    // 2 probed cells' directories reading (vec_id, label, codes) — 4 array
    // lookups + 3 adds per row, no vector math; 50 raw vectors touched for
    // the exact re-rank.
    "g73_ann_ivfpq_serve" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val t = Tables(s, dir)
      val idx = Tables.scratch("ivfpq", dir)
      graft.sources.IvfPqIndex.write(t.embeddings, idx)
      val query = queryVec(t)
      val probes = topCells(graft.sources.IvfPqIndex.centroids(s, idx), query, 2)
      // ADC lookup table: exact subspace sq-L2 query↔rounded-centroid,
      // driver-side ordered fold (16 terms ascending — the oracle's
      // list_reduce order)
      val cbs = graft.sources.IvfPqIndex.codebooks(s, idx)
      val lut = cbs.zipWithIndex.map { case (cb, m) =>
        val q = query.slice(m * 16, m * 16 + 16)
        cb.toIndexedSeq.map { c =>
          var acc = 0.0; var i = 0
          while (i < 16) { val d = q(i) - c(i); acc += d * d; i += 1 }
          acc
        }
      }.toIndexedSeq
      val lutCol = typedLit(lut)
      val adist = (0 until 4).map(m =>
        element_at(element_at(lutCol, m + 1), col(s"c$m") + 1)).reduce(_ + _)
      val qv = typedLit(query.toIndexedSeq)
      graft.sources.IvfPqIndex.postings(s, idx)
        .filter(col("cell").isin(probes.map(Integer.valueOf): _*) &&
          col("vec_id") =!= 0)
        .select(col("vec_id"), col("label"), col("embedding"),
          round(adist, 6).as("adist"))
        .orderBy(col("adist").asc, col("vec_id").asc)
        .limit(50)
        .withColumn("qv", qv)
        .withColumn("dist", round(expr(
          "aggregate(zip_with(transform(embedding, x -> CAST(x AS DOUBLE)), qv, " +
            "(a, b) -> (a - b) * (a - b)), 0D, (s, v) -> s + v)"), 6))
        .select(col("vec_id"), col("label"), col("adist"), col("dist"))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(10)
    }),

    // G81: PQ INDEX APPEND — FAISS's `add()` for the deployable artifact:
    // g73's IVF-PQ index is built on a 90% base; the 10% delta is ENCODED
    // against the FROZEN persisted codebooks (6dp coarse cells for the
    // inverted list, 6dp subspace codebooks for the 4 codes — production
    // PQ never retrains per batch) and committed as an immutable
    // cell-partitioned segment (IvfPqIndex.appendSegment). Serving is
    // g73's two-stage pipeline over base ∪ segment, both scans pruned to
    // the probed cells: ADC top-50 shortlist from codes only, exact top-10
    // re-rank. Fully oracle-backed — DuckDB trains on the base, re-encodes
    // base AND delta against the rounded codebooks, and replays probe
    // selection, ADC, and both cuts bit-for-bit.
    "g81_pq_index_append" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val t = Tables(s, dir)
      val idx = Tables.scratch("pqseg", dir)
      graft.sources.IvfPqIndex.write(
        t.embeddings.filter(col("vec_id") % 10 =!= 9), idx)
      graft.sources.IvfPqIndex.appendSegment(
        t.embeddings.filter(col("vec_id") % 10 === 9), idx, "d1")
      val query = queryVec(t)
      val probes = topCells(graft.sources.IvfPqIndex.centroids(s, idx), query, 2)
      val cbs = graft.sources.IvfPqIndex.codebooks(s, idx)
      val lut = cbs.zipWithIndex.map { case (cb, m) =>
        val q = query.slice(m * 16, m * 16 + 16)
        cb.toIndexedSeq.map { c =>
          var acc = 0.0; var i = 0
          while (i < 16) { val d = q(i) - c(i); acc += d * d; i += 1 }
          acc
        }
      }.toIndexedSeq
      val lutCol = typedLit(lut)
      val adist = (0 until 4).map(m =>
        element_at(element_at(lutCol, m + 1), col(s"c$m") + 1)).reduce(_ + _)
      val qv = typedLit(query.toIndexedSeq)
      graft.sources.IvfPqIndex.postings(s, idx)
        .unionByName(graft.sources.IvfPqIndex.segment(s, idx, "d1"))
        .filter(col("cell").isin(probes.map(Integer.valueOf): _*) &&
          col("vec_id") =!= 0)
        .select(col("vec_id"), col("label"), col("embedding"),
          round(adist, 6).as("adist"))
        .orderBy(col("adist").asc, col("vec_id").asc)
        .limit(50)
        .withColumn("qv", qv)
        .withColumn("dist", round(expr(
          "aggregate(zip_with(transform(embedding, x -> CAST(x AS DOUBLE)), qv, " +
            "(a, b) -> (a - b) * (a - b)), 0D, (s, v) -> s + v)"), 6))
        .select(col("vec_id"), col("label"), col("adist"), col("dist"))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(10)
    }),

    // G75: FILTERED ANN — top-k under a metadata predicate, the serving
    // shape every production vector store exposes (Qdrant/Vespa/Milvus
    // "filtered search"): the SAME persisted IVF index as g71 serves a
    // query that only wants label % 3 == 1 candidates. The predicate
    // composes with the index read instead of post-filtering a materialized
    // top-k (which under-fills k when the filter is selective): cell
    // probing prunes partitions AND the label predicate pushes into the
    // postings parquet scan (both pinned in PlanSpec), so the executor
    // touches only probed-cell row groups that can contain matching labels.
    // Exact within the probed cells → the oracle replays training,
    // assignment, probe selection, the filter, and the top-10 cut.
    // Plan shape at 100 TB: identical to g71 plus one pushed predicate —
    // filtered serving costs LESS than unfiltered, never more.
    "g75_ann_filtered" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val t = Tables(s, dir)
      val idx = Tables.scratch("ivfidx", dir)
      graft.sources.IvfIndex.write(t.embeddings, idx)
      val query = queryVec(t)
      val probes = topCells(graft.sources.IvfIndex.centroids(s, idx), query, 2)
      graft.sources.IvfIndex.postings(s, idx)
        .filter(col("cell").isin(probes.map(Integer.valueOf): _*) &&
          col("label") % 3 === 1 && col("vec_id") =!= 0)
        .withColumn("qv", typedLit(query.toSeq))
        .select(col("vec_id"), col("label"),
          round(expr("cosine_sim(transform(embedding, x -> CAST(x AS DOUBLE)), qv)"), 6).as("cos"))
        .orderBy(col("cos").desc, col("vec_id").asc)
        .limit(10)
    }),

    // G76: INCREMENTAL INDEX UPDATE — the segment discipline: a 10% delta
    // batch (vec_id % 10 == 9) arrives AFTER the index was built on the
    // other 90%; retraining per batch is unaffordable at 100 TB, so the
    // delta is assigned to the FROZEN persisted codebook (the 6dp serving
    // centroids) and committed as its own immutable cell-partitioned
    // segment (sources/IvfIndex.appendSegment — idempotent per content
    // fingerprint, self-healing overwrite). Serving unions the base and
    // segment postings scans, the probed-cells filter pruning partitions
    // in BOTH (pinned in PlanSpec); VectorSpec pins that the append left
    // the codebook bit-identical and that a re-append is a no-op. Full
    // oracle: DuckDB trains on the base subset, re-assigns the delta to
    // the rounded codebook, unions, and replays probe + top-10. The ANN
    // twin of i23's pinned-index streaming dedup.
    "g76_ann_index_append" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val t = Tables(s, dir)
      val idx = Tables.scratch("ivfseg", dir)
      graft.sources.IvfIndex.write(t.embeddings.filter(col("vec_id") % 10 =!= 9), idx)
      graft.sources.IvfIndex.appendSegment(
        t.embeddings.filter(col("vec_id") % 10 === 9), idx, "d1")
      val query = queryVec(t)
      val probes = topCells(graft.sources.IvfIndex.centroids(s, idx), query, 2)
      graft.sources.IvfIndex.postings(s, idx)
        .unionByName(graft.sources.IvfIndex.segment(s, idx, "d1"))
        .filter(col("cell").isin(probes.map(Integer.valueOf): _*) &&
          col("vec_id") =!= 0)
        .withColumn("qv", typedLit(query.toSeq))
        .select(col("vec_id"), col("label"),
          round(expr("cosine_sim(transform(embedding, x -> CAST(x AS DOUBLE)), qv)"), 6).as("cos"))
        .orderBy(col("cos").desc, col("vec_id").asc)
        .limit(10)
    }),

    // G78: INDEX COMPACTION — the lifecycle close of g76's segment append
    // (the index twin of m9's file compaction / m20's vacuum): base ∪
    // segment rewrite into a fresh cell-partitioned GENERATION, an atomic
    // `_postings` pointer flip (readers never see a half-compacted index),
    // segment dirs dropped — so per-query scan count returns to ONE pruned
    // read no matter how many deltas accumulated. Idempotent end to end
    // (fingerprint + compaction markers), and serving equality is the
    // graded contract: the post-compaction serve must produce EXACTLY the
    // base∪delta answer — same oracle as g76 (VectorSpec additionally pins
    // the pointer flip, the dropped segment, and single-scan serving).
    "g78_ann_index_compact" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val t = Tables(s, dir)
      val idx = Tables.scratch("ivfcmp", dir)
      graft.sources.IvfIndex.write(t.embeddings.filter(col("vec_id") % 10 =!= 9), idx)
      graft.sources.IvfIndex.appendSegment(
        t.embeddings.filter(col("vec_id") % 10 === 9), idx, "d1")
      graft.sources.IvfIndex.compact(s, idx, Seq("d1"))
      val query = queryVec(t)
      val probes = topCells(graft.sources.IvfIndex.centroids(s, idx), query, 2)
      // ONE pruned scan again — the whole point of compacting
      graft.sources.IvfIndex.postings(s, idx)
        .filter(col("cell").isin(probes.map(Integer.valueOf): _*) &&
          col("vec_id") =!= 0)
        .withColumn("qv", typedLit(query.toSeq))
        .select(col("vec_id"), col("label"),
          round(expr("cosine_sim(transform(embedding, x -> CAST(x AS DOUBLE)), qv)"), 6).as("cos"))
        .orderBy(col("cos").desc, col("vec_id").asc)
        .limit(10)
    }),

    // G79: PROBE SWEEP — the recall/latency tuning curve a deployment reads
    // before fixing nprobe: serve the SAME query from g71's persisted
    // learned index at probes = 1..4 and grade each run's overlap with the
    // exact top-10 as an integer (the g69 discipline, parameterized). Each
    // leg is one partition-pruned scan of exactly `probes` cells, so the
    // curve's cost axis is plan-visible; recall is monotone in probes by
    // construction (candidate sets nest — asserted in VectorSpec). Fully
    // oracle-backed: DuckDB replays training, the cell ranking, all four
    // candidate cuts, and the exact baseline.
    "g79_ann_probe_sweep" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val t = Tables(s, dir)
      val idx = Tables.scratch("ivfidx", dir)
      graft.sources.IvfIndex.write(t.embeddings, idx)
      val query = queryVec(t)
      val ranked = topCells(graft.sources.IvfIndex.centroids(s, idx), query,
        graft.sources.IvfIndex.cellsK)
      val qv = typedLit(query.toSeq)
      val scored = t.embeddings.filter(col("vec_id") =!= 0)
        .withColumn("qv", qv)
        .select(col("vec_id"),
          round(expr("cosine_sim(transform(embedding, x -> CAST(x AS DOUBLE)), qv)"), 6).as("cos"))
      val exact = scored.orderBy(col("cos").desc, col("vec_id").asc)
        .limit(10).select("vec_id")
      val legs = (1 to 4).map { p =>
        graft.sources.IvfIndex.postings(s, idx)
          .filter(col("cell").isin(ranked.take(p).map(Integer.valueOf): _*) &&
            col("vec_id") =!= 0)
          .withColumn("qv", qv)
          .select(col("vec_id"),
            round(expr("cosine_sim(transform(embedding, x -> CAST(x AS DOUBLE)), qv)"), 6).as("cos"))
          .orderBy(col("cos").desc, col("vec_id").asc)
          .limit(10)
          .select(lit(p).as("probes"), col("vec_id"))
      }
      // left-join from the full probe range (the g69 pattern) so a probe
      // level with ZERO overlap still emits its (p, 0) row — an inner join
      // would silently drop it and diverge from the oracle's LEFT JOIN
      val hits = legs.reduce(_ unionByName _)
        .join(exact, Seq("vec_id"))
        .groupBy("probes").agg(count(lit(1)).as("hits"))
      (1 to 4).toDF("probes")
        .join(hits, Seq("probes"), "left")
        .select(col("probes"), coalesce(col("hits"), lit(0L)).as("hits_at_10"))
        .withColumn("recall_pct", (col("hits_at_10") * 10).cast("int"))
        .orderBy("probes")
    }),

    // G82: GRADED EMBEDDING-LSH RECALL — the g69/g72 discipline applied to
    // the THIRD sketch family (g15b's sign-random-projection embedding
    // dedup stays the production fast path; this is its graded twin): the
    // hash family here is COMPARATIVE anchoring — bit_j(v) = [cos(v, a_j) >
    // cos(v, b_j)] against 16 FIXED corpus vector pairs (vec_ids 1..32) —
    // which is engine-portable by construction (two rounded cosines and a
    // comparison; random hyperplanes are not SQL-replayable, comparative
    // bits are). 16 bits band into 4×4; candidates = same (band, key)
    // pairs; truth = exact round6-cosine >= 0.45 partners of the FIXED
    // 50-vector anchor batch (the g68/g72 lesson: graded batches never
    // scale with the pool). Output integers per anchor: n_true, n_found,
    // recall_pct. Plan shape: 32 fused cosine kernels per row in ONE
    // scan-speed projection, a banded self-join on (band, key) with pinned
    // partition counts (per-bucket pair enumeration is quadratic —
    // invisible to AQE), truth as anchors broadcast onto one corpus scan.
    "g82_embed_lsh_recall" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val t = Tables(s, dir)
      val refs = t.embeddings.filter(col("vec_id") >= 1 && col("vec_id") <= 32)
        .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
        .collect().sortBy(_._1).map(_._2.map(_.toDouble).toSeq)
      require(refs.length == 32, s"need vec_ids 1..32 as references")
      val dv = expr("transform(embedding, x -> CAST(x AS DOUBLE))")
      val base = t.embeddings.select(col("vec_id"), dv.as("v"))
      val bits = (0 until 16).map { j =>
        (round(expr(s"cosine_sim(v, ref_a_$j)"), 6) >
          round(expr(s"cosine_sim(v, ref_b_$j)"), 6)).cast("int").as(s"bit_$j")
      }
      val withRefs = (0 until 16).foldLeft(base) { case (df, j) =>
        df.withColumn(s"ref_a_$j", typedLit(refs(2 * j)))
          .withColumn(s"ref_b_$j", typedLit(refs(2 * j + 1)))
      }
      val keyExprs = (0 until 4).map { b =>
        (0 until 4).map(i => col(s"bit_${4 * b + i}") * lit(1 << i)).reduce(_ + _)
      }
      val keyed = withRefs.select(col("vec_id") +: bits: _*)
        .select(col("vec_id"), posexplode(array(keyExprs: _*)).as(Seq("band", "bkey")))
      val n = s.conf.get("spark.sql.shuffle.partitions", "200").toInt
      val cand = keyed.repartition(n, col("band"), col("bkey"))
        .join(keyed.select(col("vec_id").as("v_id"), col("band").as("band_b"),
            col("bkey").as("bkey_b")).repartition(n, col("band_b"), col("bkey_b")),
          col("band") === col("band_b") && col("bkey") === col("bkey_b") &&
            col("vec_id") < col("v_id"))
        .select(col("vec_id").as("u"), col("v_id").as("v")).distinct()
      val anchors = base.filter(col("vec_id") < 50)
        .select(col("vec_id").as("a_id"), col("v").as("av"))
      val tru = base.select(col("vec_id").as("b_id"), col("v").as("bv"))
        .join(broadcast(anchors), col("a_id") =!= col("b_id"))
        .filter(round(expr("cosine_sim(av, bv)"), 6) >= 0.45)
        .select(col("a_id"), least(col("a_id"), col("b_id")).as("u"),
          greatest(col("a_id"), col("b_id")).as("v"))
      val fnd = tru.join(cand, Seq("u", "v"), "left_semi")
      tru.groupBy(col("a_id")).agg(count(lit(1)).as("n_true"))
        .join(fnd.groupBy(col("a_id")).agg(count(lit(1)).as("n_found")),
          Seq("a_id"), "left")
        .select(col("a_id"), col("n_true"),
          coalesce(col("n_found"), lit(0L)).as("n_found"))
        .withColumn("recall_pct",
          expr("CAST(n_found * 100 div n_true AS INT)"))
        .orderBy("a_id")
    }),

    // G80: TOMBSTONE DELETE — the index-CRUD verb g71/g76/g78 leave open
    // (takedowns, GDPR erasure from a vector store): deleted ids commit as
    // a tombstone table under the index (IvfIndex.delete — idempotent per
    // fingerprint, O(tombstones), NO postings rewrite: VectorSpec pins the
    // postings files byte-identical) and the serve path anti-joins the
    // broadcast tombstones inside the probed-cell scan — the m16
    // deletion-vector discipline applied to the ANN index, with the next
    // compaction as the physical fold. Deleted vectors must be unfindable:
    // the oracle serves the probed cells with the tombstone set excluded.
    "g80_ann_index_delete" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val t = Tables(s, dir)
      val idx = Tables.scratch("ivfdel", dir)
      graft.sources.IvfIndex.write(t.embeddings, idx)
      graft.sources.IvfIndex.delete(
        t.embeddings.filter(col("vec_id") % 101 === 7).select(col("vec_id")), idx)
      val query = queryVec(t)
      val probes = topCells(graft.sources.IvfIndex.centroids(s, idx), query, 2)
      graft.sources.IvfIndex.postings(s, idx)
        .filter(col("cell").isin(probes.map(Integer.valueOf): _*) &&
          col("vec_id") =!= 0)
        .join(broadcast(graft.sources.IvfIndex.tombstones(s, idx)),
          col("vec_id") === col("__dead_id"), "left_anti")
        .withColumn("qv", typedLit(query.toSeq))
        .select(col("vec_id"), col("label"),
          round(expr("cosine_sim(transform(embedding, x -> CAST(x AS DOUBLE)), qv)"), 6).as("cos"))
        .orderBy(col("cos").desc, col("vec_id").asc)
        .limit(10)
    }),

    // G77: MULTI-VECTOR LATE INTERACTION (ColBERT-style MaxSim) — the
    // retrieval model where documents and queries are SETS of vectors and
    // score(q, d) = Σ_i max_j cos(q_i, d_j): each query token finds its
    // best-matching document token. Token vectors are derived
    // deterministically as the embedding's four 16-dim slices (the fixture
    // stand-in for a real per-token encoder — the scoring plan is the real
    // thing). Fully declarative: the 16 slice-pair similarities are
    // codegen'd cosine_sim calls over `slice()` projections, each rounded
    // to 6dp, the per-query-token max is `greatest`, and the 4-term sum is
    // written in fixed order — so DuckDB replays the exact doubles. Plan
    // shape at 100 TB: one narrow scan-speed projection per document (16
    // fused 16-dim kernels, no shuffle, no explode — n×16 FLOPs, not n×16
    // rows), then the global top-10.
    "g77_colbert_maxsim" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val t = Tables(s, dir)
      val query = t.embeddings.filter(col("vec_id") === 0)
        .select(col("embedding")).as[Seq[Float]].head().map(_.toDouble).toArray
      val base = (0 until 4).foldLeft(
        t.embeddings.filter(col("vec_id") =!= 0)
          .withColumn("dv", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))) {
        case (df, i) =>
          df.withColumn(s"q$i", typedLit(query.slice(i * 16, i * 16 + 16).toSeq))
      }
      val sims = (0 until 4).map { i =>
        greatest((0 until 4).map(j =>
          round(expr(s"cosine_sim(slice(dv, ${j * 16 + 1}, 16), q$i)"), 6)): _*)
      }
      // fixed-order sum ((s0 + s1) + s2) + s3 — never reassociated
      val score = sims.reduce(_ + _)
      base.select(col("vec_id"), col("label"), round(score, 6).as("maxsim"))
        .orderBy(col("maxsim").desc, col("vec_id").asc)
        .limit(10)
    }),

    // G4b: IVF top-k — a data-derived coarse codebook (per-label centroids),
    // each vector assigned to its NEAREST centroid, query probes the 2
    // closest cells and searches only those. The codebook is tiny (10×64)
    // and driver-held; the scan prunes ~80% of vectors — the ANN plan that
    // scales. The probe kernel is FULLY DECLARATIVE: centroids ride in as
    // typed array literals, per-cell similarity is the codegen'd
    // `cosine_sim` Expression, and nearest-cell assignment is an
    // `array_max` over (sim, −label) structs — no typed-Dataset lambda, no
    // DeserializeToObject, so the embeddings scan stays columnar inside
    // whole-stage codegen with column pruning intact (asserted in
    // PlanSpec). FULLY oracle-backed (converted r15): assignment ranks on
    // the 6dp-rounded cosine, so codebook, probes, per-vector assignment,
    // and the top-10 cut all replay in SQL; recall vs the exact top-10
    // additionally asserted in VectorSpec.
    "g4b_sim_topk_ivf" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val t = Tables(s, dir)
      def dotd(x: Array[Double], y: Array[Double]): Double = {
        var acc = 0.0; var i = 0
        while (i < x.length) { acc += x(i) * y(i); i += 1 }
        acc
      }
      // same fused single-pass accumulation order as the CosineSim codegen,
      // so driver-side probe selection and executor-side assignment agree
      def cos(a: Array[Double], b: Array[Double]): Double =
        dotd(a, b) / (math.sqrt(dotd(a, a)) * math.sqrt(dotd(b, b)))
      // codebook: mean vector per label (any k-means-style codebook works;
      // the label field gives a deterministic one). Built DISTRIBUTED with
      // the same two-phase partial-agg plan as g6 — only the k×dim codebook
      // (10×64 doubles) ever reaches the driver, so the index build holds at
      // 100 TB where a full-table collect() would OOM the driver.
      val codebook: Seq[(Int, Array[Double])] =
        t.embeddings
          .select(col("label"), posexplode(vd).as(Seq("pos", "x")))
          .groupBy(col("label"), col("pos"))
          .agg((sum(col("x").cast(Tables.decHi)).cast("double") / count(col("x"))).as("c"))
          .as[(Int, Int, Double)].collect()
          .groupBy(_._1).toSeq.sortBy(_._1)
          .map { case (l, cells) =>
            val dim = cells.map(_._2).max + 1
            val c = new Array[Double](dim)
            cells.foreach { case (_, pos, v) => c(pos) = v }
            (l, c)
          }
      val query = t.embeddings.filter(col("vec_id") === 0)
        .select(col("embedding")).as[Seq[Float]].head().map(_.toDouble).toArray
      val probed = codebook
        .map { case (l, c) =>
          (l, BigDecimal(cos(query, c)).setScale(6, BigDecimal.RoundingMode.HALF_UP))
        }
        .sortBy { case (l, sim) => (-sim, l) }.take(2).map(_._1)
      // one typed literal column per centroid + the query vector — exact
      // doubles (no string round-trip), all folded into the scan projection
      val withSims = codebook.zipWithIndex
        .foldLeft(t.embeddings.select(col("vec_id"), col("label"), vd.as("v"))
          .withColumn("qv", typedLit(query.toSeq))) {
          case (df, ((_, c), i)) =>
            df.withColumn(s"cb_$i", typedLit(c.toSeq))
              // 6dp-rounded assignment similarity: engine-stable AND
              // cross-engine replayable (raw-double argmax would hinge on
              // the other engine's accumulation order at the ulp scale)
              .withColumn(s"sim_$i", round(expr(s"cosine_sim(v, cb_$i)"), 6))
        }
      // argmax via struct ordering: max sim, then max(−label) = min label on
      // ties — the same winner the sequential strict-> scan would pick
      val entries = codebook.zipWithIndex.map { case ((l, _), i) =>
        struct(col(s"sim_$i").as("s"), lit(-l).as("nl"))
      }
      withSims
        .withColumn("best", array_max(array(entries: _*)))
        .filter(col("vec_id") =!= 0 &&
          (col("best.nl") * -1).isin(probed.map(Integer.valueOf): _*))
        .select(col("vec_id"), col("label"),
          round(expr("cosine_sim(v, qv)"), 6).as("cos"))
        .orderBy(col("cos").desc, col("vec_id").asc)
        .limit(10)
    }),

    // G15: embedding-cosine near-duplicate pairs — the vector-space member
    // of the dedup family: any pair with rounded cosine >= 0.45 (the fixture
    // max is ~0.51). Served by the block upper-triangle plan (`dedupBlock`)
    // — no driver collect, no full-set broadcast.
    "g15_dedup_embed_cosine" -> dedupBlock,

    // G15c: the same block plan under its original extension-tier name (both
    // declared rows stay green against the same oracle).
    "g15c_dedup_embed_block" -> dedupBlock,

    // G15b: the scale path for embedding dedup — banded sign-LSH (8 bands ×
    // 2 hyperplanes): each vector lands in one bucket per band, candidate
    // pairs are generated only inside buckets, and every candidate is
    // verified with the exact cosine before the threshold cut. A true
    // near-dup pair (cos ≥ 0.45 → angle ≤ ~63°) collides in at least one
    // band w.p. ~0.99, so recall stays high while no node ever holds the
    // full table: per-band bucket size is tuned by planes-per-band, and the
    // only shuffle is on (band, bucket). Approximate → rows-only; recall and
    // emitted ⊆ exact are asserted in VectorSpec against g15's brute force.
    "g15b_dedup_embed_lsh" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val t = Tables(s, dir)
      val nBands = 8
      val planesPerBand = 2
      val planes = lshPlanes(nBands * planesPerBand, 64)
      val bcPlanes = s.sparkContext.broadcast(planes.toArray)
      def dotd(x: Array[Double], y: Array[Double]): Double = {
        var acc = 0.0; var i = 0
        while (i < x.length) { acc += x(i) * y(i); i += 1 }
        acc
      }
      def round6(x: Double): Double =
        java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      t.embeddings.select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
        .flatMap { case (id, vf) =>
          val v = vf.map(_.toDouble).toArray
          val ps = bcPlanes.value
          (0 until nBands).iterator.map { b =>
            var sig = 0
            var i = 0
            while (i < planesPerBand) {
              if (dotd(v, ps(b * planesPerBand + i)) >= 0) sig |= (1 << i)
              i += 1
            }
            (b * (1 << planesPerBand) + sig, id, v)
          }
        }
        .groupByKey(_._1)
        .flatMapGroups { (_: Int, it: Iterator[(Int, Long, Array[Double])]) =>
          val vecs = it.map { case (_, id, v) => (id, v, math.sqrt(dotd(v, v))) }
            .toArray.sortBy(_._1)
          for {
            i <- vecs.indices.iterator
            j <- (i + 1 until vecs.length).iterator
            raw = dotd(vecs(i)._2, vecs(j)._2) / (vecs(i)._3 * vecs(j)._3)
            if raw >= 0.45 - 5e-7 // round6 moves < 5e-7; skip sure-misses cheap
            cos = round6(raw)
            if cos >= 0.45
          } yield (vecs(i)._1, vecs(j)._1, cos)
        }
        .distinct() // the same pair can surface from several bands
        .toDF("a_id", "b_id", "cos")
        .orderBy("a_id", "b_id")
    }),

    // G6: per-label centroid, flat (label, pos) output. Decimal(38,12)
    // accumulation → merge-order independent.
    "g6_centroid_per_label" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.embeddings
        .select(col("label"), posexplode(vd).as(Seq("pos", "x")))
        .groupBy(col("label"), col("pos"))
        .agg(round(sum(col("x").cast(Tables.decHi)).cast("double") / count(col("x")), 6).as("c"))
        .orderBy("label", "pos")
    }),

    // G39: top principal component of the embedding corpus by MATRIX-FREE
    // power iteration (plans/PowerIteration) — the dimensionality-reduction
    // primitive a training pipeline runs before whitening / visualization /
    // coreset selection. Never materializes the d×d covariance or collects
    // a data row: each of the 30 fixed iterations is one distributed pass
    // (per-row fold dot product → per-component decimal sum), the driver
    // holds only 64 doubles between passes — the exact shape at 100 TB.
    // Output: per-label projection stats onto the sign-canonicalized PC1
    // plus the captured variance λ. Fully oracle-backed despite 30
    // iterations of 64-dim linear algebra: the Gram is decimal-exact, the
    // driver recurrence is all ordered left folds, and IEEE double ops are
    // bit-deterministic — so DuckDB replays the identical 30 iterations
    // with list_reduce (a generated 60-CTE chain, the unrolling discipline
    // of the SGD and k-core oracles). The eigen-invariants — unit norm,
    // λ ≥ every coordinate-axis variance, small residual ‖Av − λv‖,
    // centered projections with ~0 global mean — are proved in VectorSpec.
    "g39_pca_power" -> ((s, dir) => {
      val t = Tables(s, dir)
      val base = t.embeddings.select(col("vec_id"), col("label"), vd.as("x"))
      val (centered, _) = graft.plans.PowerIteration.center(base, "x")
      val xc = centered.cache()
      // Gram path: d=64 → the 64×64 covariance is metadata, so the whole
      // iteration runs driver-side after ONE data pass (vs 30 passes).
      // The DECIMAL-EXACT Gram + ordered-fold driver loop make every output
      // a bit-replayable function of the input — the DuckDB oracle unrolls
      // the same 30 iterations with list_reduce left folds.
      val (v, lambda) = graft.plans.PowerIteration.topComponentGramExact(xc, "x", 64, 30)
      val proj = aggregate(zip_with(col("x"), typedLit(v.toIndexedSeq), (a, b) => a * b),
        lit(0.0), (acc, e) => acc + e)
      val out = xc.withColumn("t", proj)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("t").cast(Tables.decHi)).cast("double") / count(lit(1)), 6)
            .as("mean_proj"),
          round(sum((col("t") * col("t")).cast(Tables.decHi)).cast("double")
            / count(lit(1)), 6).as("var_proj"))
        .withColumn("lambda", round(lit(lambda), 6))
        .orderBy("label")
        .localCheckpoint() // materialize, then drop the per-row cache
      xc.unpersist()
      out
    }),

    // G40: distributed Lloyd's k-means (plans/KMeans) — the clustering
    // primitive behind IVF coarse quantizers and data-mixture domain
    // discovery, fully deterministic (smallest-id seeding, lowest-id tie
    // break, decimal centroid means) so the same clusters come back at any
    // executor count. Each iteration is one distributed pass; the driver
    // holds k×d doubles. Fully oracle-backed: decimal means + ordered-fold
    // distances make all 5 Lloyd iterations bit-replayable, so the DuckDB
    // oracle unrolls them (the g39/SGD/k-core discipline). Lloyd
    // monotonicity + argmin-assignment invariants are proved in VectorSpec,
    // which ALSO pins that the fixture converges by iteration 5 (the
    // 5→10 inertia delta measured 0.3-0.6% — extra passes were pure bench
    // wall; the IVF trainers g42/g71/g73 already standardize on 5).
    "g40_kmeans" -> ((s, dir) => {
      val t = Tables(s, dir)
      val nPart = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
      // spread the per-row assignment kernel across cores: the fixture
      // parquet is one split, and the fit's HOF distance eval is CPU-bound
      val base = t.embeddings.select(col("vec_id"), vd.as("x"))
        .repartition(nPart).cache()
      val (cents, _) = graft.plans.KMeans.fit(base, "vec_id", "x", 64, 8, 5)
      val (cid, dist) = graft.plans.KMeans.assignCols("x", cents)
      val out = base.select(col("vec_id"), cid.as("cluster"), dist.as("d2"))
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("d2").cast(Tables.decHi)).cast("double"), 6).as("inertia"),
          min(col("vec_id")).as("exemplar"))
        .orderBy("cluster")
        .localCheckpoint()
      base.unpersist()
      out
    }),

    // G42: SEMANTIC dedup blocking via the learned coarse quantizer — the
    // step up from hash blocking (g15b's sign-LSH) a curation pipeline takes
    // when near-dups cluster by topic: k-means (g40's deterministic Lloyd)
    // learns 8 cells, every vector is multi-probe-assigned to its 2 nearest
    // cells (IVF-style, recovers pairs straddling one boundary), candidate
    // pairs are enumerated only inside cells, and each candidate is verified
    // with the exact cosine. Scale shape: norms are precomputed per row
    // before the join, the only shuffle is on the cell id, and cell
    // population is balanced by the quantizer itself (Lloyd equalizes mass)
    // — the failure mode hash-LSH hits on clustered data. Approximate →
    // rows-only; emitted ⊆ exact and recall vs g15's brute force are
    // asserted in VectorSpec.
    "g42_kmeans_dedup" -> ((s, dir) => {
      val t = Tables(s, dir)
      val nPart = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
      // spread the per-row assignment kernel across cores: the fixture
      // parquet is one split, and the fit's HOF distance eval is CPU-bound
      val base = t.embeddings.select(col("vec_id"), vd.as("x"))
        .repartition(nPart).cache()
      val (cents, _) = graft.plans.KMeans.fit(base, "vec_id", "x", 64, 8, 5)
      val bucketed = base
        .select(col("vec_id"), col("x"),
          explode(graft.plans.KMeans.probeCols("x", cents, 2)).as("cell"))
      val a = bucketed.select(col("cell"), col("vec_id").as("a_id"),
        col("x").as("xa"))
      val b = bucketed.select(col("cell").as("cellb"), col("vec_id").as("b_id"),
        col("x").as("xb"))
      // pair kernel rides the codegen cosine expression (g3b's), not the
      // interpreted HOF fold — the candidate count is quadratic per cell, so
      // per-pair cost is the whole query at scale
      val out = a.join(b, col("cell") === col("cellb") && col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          round(expr("cosine_sim(xa, xb)"), 6).as("cos"))
        .filter(col("cos") >= 0.45)
        .distinct() // a pair sharing both probed cells is emitted once
        .orderBy("a_id", "b_id")
        .localCheckpoint()
      base.unpersist()
      out
    }),

    // G44: triangle counting + global clustering coefficient on the
    // similarity graph (edges = round6(cosine) >= 0.3 pairs from the exact
    // block plan). The scale-canonical degree-ordered orientation: each edge
    // points from lower (degree, id) rank to higher, so every triangle is
    // counted exactly once as a wedge at its LOWEST-rank apex closed by one
    // oriented edge — wedge fan-out is bounded by out-degree ≤ O(sqrt(|E|))
    // on any graph, which is what keeps the wedge join from exploding on
    // hubs at 100 TB (plain u<v<w wedges at the smallest-ID apex have no
    // such bound). Oracle: DuckDB all-pairs CTE + canonical triple join.
    "g44_graph_triangles" -> ((s, dir) => {
      val e = blockPairs(0.3)(s, dir)
        .select(col("a_id").as("u"), col("b_id").as("v"))
        .localCheckpoint() // reused 3x (degrees, orientation, closing join)
      val deg = e.select(explode(array(col("u"), col("v"))).as("id"))
        .groupBy(col("id")).agg(count(lit(1)).as("deg"))
      val ed = e
        .join(deg.select(col("id").as("u"), col("deg").as("du")), "u")
        .join(deg.select(col("id").as("v"), col("deg").as("dv")), "v")
      val uFirst = col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v"))
      val oriented = ed.select(
          when(uFirst, col("u")).otherwise(col("v")).as("lo"),
          when(uFirst, col("v")).otherwise(col("u")).as("hi"),
          when(uFirst, col("dv")).otherwise(col("du")).as("dhi"))
        .localCheckpoint() // reused 2x (wedge self-join + closing edge)
      val o2 = oriented.select(col("lo").as("lo2"), col("hi").as("y"),
        col("dhi").as("dy"))
      val wedges = oriented.join(o2, col("lo") === col("lo2") &&
          (col("dhi") < col("dy") ||
            (col("dhi") === col("dy") && col("hi") < col("y"))))
        .select(col("hi").as("x"), col("y"))
      val closing = oriented.select(col("lo").as("x"), col("hi").as("y"))
      val tri = wedges.join(closing, Seq("x", "y"), "left_semi").alias("t")
        .agg(count(lit(1)).as("n_triangles"))
      val nodes = deg.agg(count(lit(1)).as("n_nodes"),
        sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
      val edges = e.agg(count(lit(1)).as("n_edges"))
      nodes.crossJoin(edges).crossJoin(tri)
        .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
          col("n_triangles"),
          round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6)
            .as("global_cc"))
    }),

    // H2: the same vector sum as a typed Aggregator UDAF (one buffer per
    // group crosses the shuffle instead of 64 rows).
    "h2_udaf_vecsum" -> ((s, dir) => {
      val t = Tables(s, dir)
      val vecsum = udaf(VecSumAgg)
      t.embeddings.groupBy(col("label"))
        .agg(vecsum(col("embedding")).as("vsum"))
        .select(col("label"), posexplode(col("vsum")).as(Seq("pos", "sx")))
        .select(col("label"), col("pos"), round(col("sx"), 6).as("sx"))
        .orderBy("label", "pos")
    }),

    // G10: multimodal join — text table ⋈ vector table, filtered on both.
    "g10_multimodal_join" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.documents.join(t.embeddings, col("doc_id") === col("vec_id"))
        .filter(col("lang") === "en" && col("label") < 5 && col("n_chars") > 200)
        .select(col("doc_id"), col("lang"), col("source"), col("label"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // North-star multimodal-binary pipeline with a REAL decode: documents
    // are packed into a tiny deterministic image format ("GRF1": 4-byte
    // magic, width, height, 2 reserved bytes, then w×h single-byte pixels —
    // the fixture text is ASCII so chars are bytes), and the decoder
    // genuinely parses the container: validates the magic, reads the
    // dimensions from the HEADER (not from the side), and folds the pixel
    // grid into per-image stats. Encoding is declarative (binary concat at
    // scan speed); decoding is the documented mapPartitions kernel — the
    // same plumbing (opaque binary column, per-partition batch decode) a
    // production job uses with a real codec, now value-checked end-to-end:
    // the oracle recomputes the pixel stats from the source text.
    // G63: multimodal BATCH SHAPING — aspect-ratio bucketing + fixed-size
    // batch packing, the image twin of g23's sequence packing: inference
    // batches must hold same-shaped tensors, so images group by decoded
    // (w, h) and each bucket packs into 32-image batches in stable doc
    // order. Shapes come from the same GRF1 header rule g14 decodes; the
    // per-bucket rank is a window bounded by bucket size (at 100 TB the
    // g52-style two-pass offset prefix-sum replaces the per-bucket window —
    // same output, no one-reducer-per-bucket). Every quantity is integer.
    "g63_multimodal_bucket_pack" -> ((s, dir) => {
      val t = Tables(s, dir)
      val imgs = t.documents
        .withColumn("h", expr("CAST(greatest(1, least(8, n_chars DIV 8)) AS INT)"))
        .select(col("doc_id"), col("h"))
      val w = Window.partitionBy("h").orderBy("doc_id")
      imgs.withColumn("rn", row_number().over(w))
        .withColumn("batch_idx", expr("CAST((rn - 1) DIV 32 AS INT)"))
        .groupBy(col("h"), col("batch_idx"))
        .agg(count(lit(1)).as("n_images"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .withColumn("batch_bytes", col("n_images") * (col("h") * 8 + 8))
        .select(col("h"), col("batch_idx"), col("n_images"), col("batch_bytes"),
          col("first_doc"), col("last_doc"))
        .orderBy("h", "batch_idx")
    }),

    // G14C: REAL IMAGE-CODEC DECODE — the gap g14's synthetic GRF1 container
    // left open: the binary column holds genuine PNGs (RGB, zlib-compressed,
    // written by the JDK's ImageIO — no external libraries), and the decode
    // kernel runs the real codec per row inside mapPartitions, exactly the
    // plumbing a JPEG pipeline uses (schema, batch shape, partitioning are
    // codec-agnostic). The fixture images carry a DETERMINISTIC pattern —
    // R varies along x, G along y, B constant, dims keyed on the image id —
    // so the decoded pixel SUMS are exact integers the DuckDB oracle
    // re-derives analytically from the pattern, independent of the
    // encoder's byte layout (PNG is lossless: decode(encode(p)) == p).
    // At 100 TB the decode is embarrassingly parallel scan-side CPU; the
    // only schema requirement is the binary column + typed metadata, which
    // is what this query pins.
    "g14c_multimodal_png" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      // the binary table a real pipeline would SCAN; 60 tiny blobs here,
      // the same shape at petabyte image corpora
      val bin = (0 until 60)
        .map(k => (k.toLong, encodeImage(patternImage(k), "png")))
        .toDF("img_id", "png").repartition(4)
      bin.as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, bytes) =>
          val im = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(bytes))
          val (w, h) = (im.getWidth, im.getHeight)
          val (rs, gs, bs) = channelSums(im)
          (id, w, h, rs, gs, bs)
        })
        .toDF("img_id", "w", "h", "r_sum", "g_sum", "b_sum")
        .orderBy("img_id")
    }),

    // G14D: LOSSY CODEC DECODE (JPEG) — the other half of the codec story:
    // the same deterministic pattern encoded with the JDK's LOSSY JPEG
    // writer and decoded by the real codec per row. Lossy decode cannot
    // hash-match raw pixels (the encoder is free to perturb them), so the
    // DECLARED columns are the codec's deterministic outputs — decoded
    // dimensions and pixel count, which JPEG preserves exactly — while the
    // channel-sum DRIFT is bounded in VectorSpec (mean per-pixel error ≤ a
    // few grey levels on these gradients), the decode-tolerance discipline
    // a production lossy pipeline grades by. Plumbing (binary column,
    // mapPartitions batch shape, partitioning) is identical to g14c —
    // codec-agnostic by construction.
    "g14d_multimodal_jpeg" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val bin = (0 until 60)
        .map(k => (k.toLong, encodeImage(patternImage(k), "jpg")))
        .toDF("img_id", "jpg").repartition(4)
      bin.as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, bytes) =>
          val im = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(bytes))
          (id, im.getWidth, im.getHeight,
            im.getWidth.toLong * im.getHeight)
        })
        .toDF("img_id", "w", "h", "n_px")
        .orderBy("img_id")
    }),

    // G14E: RESIZE — the remaining verb of the multimodal quartet (decode /
    // feature-extract / RESIZE / frame-sample): every image pipeline
    // normalizes to a fixed model input size before featurizing. Real PNG
    // decode per row, then an explicit top-left nearest-neighbor downsample
    // to 16×12 (source pixel (i*w div 16, j*h div 12)) — spelled as the
    // index loop, not Graphics2D scaling, because the resampling convention
    // IS the operator's contract (half-pixel-center conventions differ
    // between libraries; a graded pipeline must pin one). The graded
    // channel sums of the RESIZED image re-derive analytically from the
    // painted gradient, so a wrong sampling grid cannot hash-match. Same
    // scan-side mapPartitions shape as g14c/g14d: embarrassingly parallel,
    // schema = binary column + metadata at any corpus size.
    "g14e_multimodal_resize" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val (tw, th) = (16, 12)
      val bin = (0 until 60)
        .map(k => (k.toLong, encodeImage(patternImage(k), "png")))
        .toDF("img_id", "png").repartition(4)
      bin.as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, bytes) =>
          val im = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(bytes))
          val (w, h) = (im.getWidth, im.getHeight)
          var (rs, gs, bs) = (0L, 0L, 0L)
          var j = 0
          while (j < th) {
            var i = 0
            while (i < tw) {
              val p = im.getRGB(i * w / tw, j * h / th)
              rs += (p >> 16) & 0xff; gs += (p >> 8) & 0xff; bs += p & 0xff
              i += 1
            }
            j += 1
          }
          (id, w, h, tw, th, rs, gs, bs)
        })
        .toDF("img_id", "src_w", "src_h", "w", "h", "r_sum", "g_sum", "b_sum")
        .orderBy("img_id")
    }),

    "g14_multimodal_binary" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val t = Tables(s, dir)
      val bin = t.documents
        .withColumn("h", expr("CAST(greatest(1, least(8, n_chars DIV 8)) AS INT)"))
        .select(col("doc_id"), col("lang"),
          concat(
            lit("GRF1".getBytes("UTF-8")),
            encode(expr("chr(8)"), "UTF-8"), // width byte
            encode(expr("chr(h)"), "UTF-8"), // height byte
            lit(Array[Byte](0, 0)), // reserved
            encode(expr("rpad(substring(text, 1, 8 * h), 8 * h, ' ')"), "UTF-8"))
            .as("content"))
      val decoded = bin.select(col("doc_id"), col("content"))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, b) =>
          val ok = b.length >= 8 &&
            b(0) == 'G' && b(1) == 'R' && b(2) == 'F' && b(3) == '1'
          if (!ok) (id, -1, -1, -1L, -1, -1)
          else {
            val w = b(4) & 0xff
            val hh = b(5) & 0xff
            val end = math.min(b.length, 8 + w * hh)
            var i = 8; var sum = 0L; var mn = 255; var mx = 0
            while (i < end) {
              val v = b(i) & 0xff
              sum += v; if (v < mn) mn = v; if (v > mx) mx = v
              i += 1
            }
            (id, w, hh, sum, mn, mx)
          }
        })
        .toDF("doc_id", "w", "h", "px_sum", "px_min", "px_max")
      bin.select(col("doc_id"), col("lang")).join(decoded, "doc_id")
        .select(col("doc_id"), col("lang"), col("w"), col("h"),
          col("px_sum"), col("px_min"), col("px_max"))
        .orderBy("doc_id")
    }),

    // North-star multimodal frame sampling: slice the opaque binary into
    // fixed-width "frames" (stand-in for video frame extraction), one row per
    // frame with index/length/first-byte/hash — declarative, codegen'd, and
    // oracle-replayable because the fixture payload is ASCII text.
    "g14b_multimodal_frames" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.documents.filter(col("doc_id") < 50)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0), lit(3))).as("frame_idx"))
        .filter(col("frame_idx") * 64 < length(col("text")))
        .select(col("doc_id"), col("frame_idx"),
          expr("substring(text, frame_idx * 64 + 1, 64)").as("frame"))
        .select(col("doc_id"), col("frame_idx"),
          length(col("frame")).as("frame_len"),
          ascii(col("frame")).as("first_byte"),
          md5(col("frame").cast("binary")).as("frame_hash"))
        .orderBy("doc_id", "frame_idx")
    }),

    // G55: PRODUCT-QUANTIZATION ANN (the IVF-PQ memory half, Jégou et al.):
    // the scale path where even the vectors themselves no longer fit — 64
    // floats (256 B) compress to 4 sub-codes (4 B as ints here, 2 B packed),
    // a 64x reduction, and search never touches a raw corpus vector.
    //  - TRAIN: an independent k-means codebook (k=16, 2 Lloyd rounds via
    //    plans.KMeans — deterministic seeding/ties; rounds 3+ refine the
    //    fixture's subspace inertias by only ~3-5%, pinned in VectorSpec)
    //    per 16-dim subspace; only 4 × (16×16 doubles) reach the driver.
    //  - ENCODE: one narrow codegen projection assigns each subvector its
    //    nearest centroid id; the corpus becomes (vec_id, label, 4 codes).
    //  - SEARCH (ADC): the query builds a 4×16 lookup table of exact
    //    subspace distances driver-side; each row's approximate distance is
    //    then FOUR array lookups + 3 adds — no per-row vector math at all.
    //    adist(v) == ||q − decode(codes(v))||² exactly (asserted in
    //    VectorSpec).
    //  - RE-RANK: ADC keeps a 50-candidate shortlist; only those 50 rows'
    //    raw vectors are touched for an exact distance, and the final top-10
    //    is exact-ordered — the standard two-stage ANN serving shape (the
    //    compressed index prunes 90%+ of the corpus; the raw-vector fetch is
    //    id-addressed and shortlist-sized, never a scan).
    // FULLY oracle-backed (converted r15): the deterministic Lloyd chains
    // make even the raw-double codebooks SQL-replayable, so DuckDB unrolls
    // the 4×2 subspace trainings, re-encodes the corpus, and replays ADC,
    // the top-50 shortlist, and the exact re-rank bit-for-bit; shortlist
    // recall + ADC-identity invariants additionally live in VectorSpec.
    "g55_pq_adc_topk" -> ((s, dir) => {
      val t = Tables(s, dir)
      val nPart = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
      val base = withPqSubs(
        t.embeddings.select(col("vec_id"), col("label"), vd.as("x")))
        .repartition(nPart).cache()
      val (codebooks, query) = pqTrain(base, t)
      // encode: nearest sub-centroid per subspace, all in one projection
      val codes = pqSubCols.zip(codebooks).map { case (sub, cb) =>
        graft.plans.KMeans.assignCols(sub, cb)._1
      }
      // ADC lookup table: exact subspace distances query↔centroid, driver-side
      val lut = codebooks.zipWithIndex.map { case (cb, j) =>
        val q = query.slice(j * 16, (j + 1) * 16)
        cb.map { c =>
          var acc = 0.0; var i = 0
          while (i < 16) { val d = q(i) - c(i); acc += d * d; i += 1 }
          acc
        }.toIndexedSeq
      }.toIndexedSeq
      val lutCol = typedLit(lut)
      val adist = codes.zipWithIndex.map { case (code, j) =>
        element_at(element_at(lutCol, j + 1), code + 1)
      }.reduce(_ + _)
      val qv = typedLit(query.toIndexedSeq)
      val exactDist = expr(
        "aggregate(zip_with(x, qv, (a, b) -> (a - b) * (a - b)), 0D, (s, v) -> s + v)")
      val out = base.filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("label"), col("x"), round(adist, 6).as("adist"))
        .orderBy(col("adist").asc, col("vec_id").asc)
        .limit(50)
        .withColumn("qv", qv)
        .withColumn("dist", round(exactDist, 6))
        .select(col("vec_id"), col("label"), col("adist"), col("dist"))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(10)
        .localCheckpoint()
      base.unpersist()
      out
    })
  )

  /** The deterministic codec-fixture pattern (g14c/g14d, bounded in
    * VectorSpec): R varies along x, G along y, B constant, dims keyed on
    * the image id — every channel sum re-derives analytically. */
  private[graft] def patternImage(k: Int): java.awt.image.BufferedImage = {
    val w = 32 + k % 5
    val h = 24 + k % 3
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = (k + x) % 256
        val g = (k * 5 + y) % 256
        val b = (k * 11) % 256
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    img
  }

  private[graft] def encodeImage(img: java.awt.image.BufferedImage,
      format: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, format, bos)
    bos.toByteArray
  }

  private[graft] def channelSums(im: java.awt.image.BufferedImage): (Long, Long, Long) = {
    var (rs, gs, bs) = (0L, 0L, 0L)
    var y = 0
    while (y < im.getHeight) {
      var x = 0
      while (x < im.getWidth) {
        val p = im.getRGB(x, y)
        rs += (p >> 16) & 0xff; gs += (p >> 8) & 0xff; bs += p & 0xff
        x += 1
      }
      y += 1
    }
    (rs, gs, bs)
  }

  /** PQ geometry: 64 dims → 4 contiguous 16-dim subspaces (column names). */
  private def pqSubCols: Seq[String] = (0 until 4).map(j => s"sub$j")

  /** Add the 4 subvector columns (one slice each, pure projection). */
  private[graft] def withPqSubs(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    pqSubCols.zipWithIndex.foldLeft(df) { case (d, (name, j)) =>
      d.withColumn(name, expr(s"slice(x, ${j * 16 + 1}, 16)"))
    }

  /** Train one 16-centroid codebook per subspace on `base` (already
    * carrying sub0..sub3); returns the codebooks and the query vector
    * (vec_id 0, the held-out probe every g4-family query uses). Each fit
    * is the standard distributed Lloyd loop (8 passes total, k×d driver
    * state). 2 Lloyd rounds per subspace: round 1 does
    * the clustering (inertia drops ~30%), rounds 3-4 refine by only ~3-5%
    * (pinned in VectorSpec alongside the g40 convergence pin), and every
    * extra round is 4 more distributed passes of pure bench wall — the ADC
    * identity and the exact re-rank are codebook-agnostic. The PERSISTED
    * artifact (IvfPqIndex, g73 family) keeps its own pqIters — its build is
    * fingerprint-cached, so training cost amortizes there instead. */
  private[graft] val g55PqIters = 2
  private[graft] def pqTrain(base: org.apache.spark.sql.DataFrame, t: Tables)
      : (Seq[Array[Array[Double]]], Array[Double]) = {
    // one fused fit: all 4 subspace codebooks from one pass per iteration
    // (KMeans.fitMany — bit-identical to 4 sequential fits, 4x fewer jobs)
    val codebooks = graft.plans.KMeans.fitMany(
      base.select((col("vec_id") +: pqSubCols.map(col)): _*),
      "vec_id", pqSubCols, 16, g55PqIters)
    val spark = t.spark
    import spark.implicits._
    val query = t.embeddings.filter(col("vec_id") === 0)
      .select(vd).as[Seq[Double]].head().toArray
    (codebooks, query)
  }

  /** Deterministic pseudo-random unit hyperplanes (splitmix64 from a fixed
    * seed) — reproducible across runs without Math.random. */
  private def lshPlanes(n: Int, dim: Int): Seq[Array[Double]] = {
    var state = 0x9e3779b97f4a7c15L
    def next(): Long = {
      state += 0x9e3779b97f4a7c15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    Seq.fill(n)(Array.fill(dim)(next().toDouble / Long.MaxValue))
  }

  /** Shared pieces of the unrolled-Lloyd DuckDB oracles (g40/g42): the
    * engine's KMeans.fit is bit-replayable (smallest-id seeding, ordered
    * left-fold sq-L2, lowest-id argmin tie-break, decimal means), so the
    * oracle unrolls `iters` iterations as generated MATERIALIZED CTEs. */
  private def kmeansSqd(cent: String): String =
    "list_reduce(list_transform(range(1, 65), " +
      s"t -> (x[t] - ($cent)[t]) * (x[t] - ($cent)[t])), (a, b) -> a + b)"

  private def kmeansAssign(prev: String, nm: String): String =
    s"d$nm AS MATERIALIZED (SELECT vec_id, x, ci.ci AS cid, " +
      s"${kmeansSqd("cs[ci.ci + 1]")} AS d2 FROM emb, $prev, range(0, 8) ci(ci)), " +
      s"a$nm AS MATERIALIZED (SELECT vec_id, x, cid, d2 FROM (" +
      s"SELECT vec_id, x, cid, d2, row_number() OVER (PARTITION BY vec_id " +
      s"ORDER BY d2, cid) AS rn FROM d$nm) WHERE rn = 1)"

  private def kmeansCtes(iters: Int, where: String = ""): String = {
    val rounds = (1 to iters).map { k =>
      kmeansAssign(s"c${k - 1}", s"$k") + ", " +
        s"u$k AS (SELECT cid, list(m ORDER BY p) AS cv FROM (" +
        s"SELECT cid, p.p AS p, CAST(sum(CAST(x[p.p] AS DECIMAL(38,12))) " +
        s"AS DOUBLE) / count(*) AS m FROM a$k, range(1, 65) p(p) " +
        "GROUP BY 1, 2) GROUP BY cid), " +
        s"c$k AS MATERIALIZED (SELECT list(coalesce(u.cv, prev.cs[cx.ci + 1]) " +
        s"ORDER BY cx.ci) AS cs FROM c${k - 1} prev CROSS JOIN range(0, 8) cx(ci) " +
        s"LEFT JOIN u$k u ON u.cid = cx.ci)"
    }.mkString(", ")
    "emb AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x " +
      s"FROM embeddings$where), " +
      "c0 AS MATERIALIZED (SELECT list(x ORDER BY vec_id) AS cs FROM (" +
      "SELECT vec_id, x FROM emb ORDER BY vec_id LIMIT 8)), " +
      rounds
  }

  /** Unrolled SUBSPACE-Lloyd chain for g73's PQ halves (k=16 on the m-th
    * 16-dim slice) — same bit-replay discipline as [[kmeansCtes]]. */
  private def pqCtes(m: Int, iters: Int): String = {
    val lo = m * 16 + 1
    def sqd(cent: String) =
      "list_reduce(list_transform(range(1, 17), " +
        s"t -> (sx[t] - ($cent)[t]) * (sx[t] - ($cent)[t])), (a, b) -> a + b)"
    val seed =
      s"em$m AS MATERIALIZED (SELECT vec_id, x[$lo:${lo + 15}] AS sx FROM emb), " +
        s"p${m}c0 AS MATERIALIZED (SELECT list(sx ORDER BY vec_id) AS cs FROM (" +
        s"SELECT vec_id, sx FROM em$m ORDER BY vec_id LIMIT 16))"
    val rounds = (1 to iters).map { k =>
      s"p${m}d$k AS MATERIALIZED (SELECT vec_id, sx, ci.ci AS cid, " +
        s"${sqd(s"cs[ci.ci + 1]")} AS d2 FROM em$m, p${m}c${k - 1}, range(0, 16) ci(ci)), " +
        s"p${m}a$k AS MATERIALIZED (SELECT vec_id, sx, cid, d2 FROM (" +
        s"SELECT vec_id, sx, cid, d2, row_number() OVER (PARTITION BY vec_id " +
        s"ORDER BY d2, cid) AS rn FROM p${m}d$k) WHERE rn = 1), " +
        s"p${m}u$k AS (SELECT cid, list(mn ORDER BY p) AS cv FROM (" +
        s"SELECT cid, p.p AS p, CAST(sum(CAST(sx[p.p] AS DECIMAL(38,12))) " +
        s"AS DOUBLE) / count(*) AS mn FROM p${m}a$k, range(1, 17) p(p) " +
        "GROUP BY 1, 2) GROUP BY cid), " +
        s"p${m}c$k AS MATERIALIZED (SELECT list(coalesce(u.cv, prev.cs[cx.ci + 1]) " +
        s"ORDER BY cx.ci) AS cs FROM p${m}c${k - 1} prev CROSS JOIN range(0, 16) cx(ci) " +
        s"LEFT JOIN p${m}u$k u ON u.cid = cx.ci)"
    }.mkString(", ")
    seed + ", " + rounds
  }

  /** g73's full replay: IVF training (kmeansCtes), 4 subspace trainings
    * (pqCtes), rounded persisted codebooks, corpus re-encode, probe
    * selection, ADC scoring, shortlist and exact re-rank cuts. */
  private def g73Oracle: String = {
    val pq = (0 until 4).map(pqCtes(_, 3)).mkString(", ")
    val roundedCb = (0 until 4).map(m =>
      s"pcb$m AS MATERIALIZED (SELECT list_transform(cs, " +
        s"l -> list_transform(l, v -> round(v, 6))) AS cs FROM p${m}c3)")
      .mkString(", ")
    val codes = (0 until 4).map { m =>
      val sqd = "list_reduce(list_transform(range(1, 17), " +
        "t -> (e.sx[t] - cb.cs[ci.ci + 1][t]) * (e.sx[t] - cb.cs[ci.ci + 1][t])), " +
        "(a, b) -> a + b)"
      s"pcode$m AS MATERIALIZED (SELECT vec_id, cid AS c$m FROM (" +
        "SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id " +
        "ORDER BY d2, cid) AS rn FROM (" +
        s"SELECT e.vec_id, ci.ci AS cid, $sqd AS d2 " +
        s"FROM em$m e, pcb$m cb, range(0, 16) ci(ci))) WHERE rn = 1)"
    }.mkString(", ")
    val terms = (0 until 4).map { m =>
      val lo = m * 16
      "list_reduce(list_transform(range(1, 17), " +
        s"t -> (q.qv[$lo + t] - cb$m.cs[k$m.c$m + 1][t]) * " +
        s"(q.qv[$lo + t] - cb$m.cs[k$m.c$m + 1][t])), (a, b) -> a + b)"
    }
    val adistExpr = s"(((${terms(0)} + ${terms(1)}) + ${terms(2)}) + ${terms(3)})"
    s"WITH ${kmeansCtes(5)}, ${kmeansAssign("c5", "f")}, $pq, $roundedCb, $codes, " +
      "cb AS (SELECT cx.ci AS cell, " +
      "list_transform(cs[cx.ci + 1], v -> round(v, 6)) AS cv " +
      "FROM c5, range(0, 8) cx(ci)), " +
      "q AS (SELECT x AS qv FROM emb WHERE vec_id = 0), " +
      "probed AS (SELECT cell FROM (SELECT cell, row_number() OVER (ORDER BY " +
      "round(list_cosine_similarity(qv, cv), 6) DESC, cell) AS rn FROM q, cb) " +
      "WHERE rn <= 2), " +
      "scored AS MATERIALIZED (SELECT a.vec_id, " +
      s"round($adistExpr, 6) AS adist " +
      "FROM af a " +
      "JOIN pcode0 k0 ON k0.vec_id = a.vec_id " +
      "JOIN pcode1 k1 ON k1.vec_id = a.vec_id " +
      "JOIN pcode2 k2 ON k2.vec_id = a.vec_id " +
      "JOIN pcode3 k3 ON k3.vec_id = a.vec_id, " +
      "pcb0 cb0, pcb1 cb1, pcb2 cb2, pcb3 cb3, q " +
      "WHERE a.vec_id <> 0 AND a.cid IN (SELECT cell FROM probed)), " +
      "sl AS MATERIALIZED (SELECT vec_id, adist FROM (SELECT vec_id, adist, " +
      "row_number() OVER (ORDER BY adist, vec_id) AS rn FROM scored) " +
      "WHERE rn <= 50), " +
      "rr AS (SELECT s.vec_id, b.label, s.adist, " +
      "round(list_reduce(list_transform(range(1, 65), " +
      "t -> (e2.x[t] - q.qv[t]) * (e2.x[t] - q.qv[t])), (a, b) -> a + b), 6) AS dist " +
      "FROM sl s JOIN emb e2 ON e2.vec_id = s.vec_id " +
      "JOIN embeddings b ON b.vec_id = s.vec_id, q) " +
      "SELECT vec_id, label, adist, dist FROM (SELECT vec_id, label, adist, dist, " +
      "row_number() OVER (ORDER BY dist, vec_id) AS rn FROM rr) " +
      "WHERE rn <= 10 ORDER BY dist, vec_id"
  }

  /** g81's replay — [[g73Oracle]] with the index TRAINED on the 90% base
    * and the 10% delta re-encoded against the FROZEN rounded codebooks
    * (coarse cell via the rounded centroids, 4 codes via the rounded
    * subspace codebooks), exactly what IvfPqIndex.appendSegment persists. */
  private def g81Oracle: String = {
    val pq = (0 until 4).map(pqCtes(_, 3)).mkString(", ")
    val roundedCb = (0 until 4).map(m =>
      s"pcb$m AS MATERIALIZED (SELECT list_transform(cs, " +
        s"l -> list_transform(l, v -> round(v, 6))) AS cs FROM p${m}c3)")
      .mkString(", ")
    def codeCte(src: String, out: String, m: Int): String = {
      val sqd = "list_reduce(list_transform(range(1, 17), " +
        "t -> (e.sx[t] - cb.cs[ci.ci + 1][t]) * (e.sx[t] - cb.cs[ci.ci + 1][t])), " +
        "(a, b) -> a + b)"
      s"$out AS MATERIALIZED (SELECT vec_id, cid AS c$m FROM (" +
        "SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id " +
        "ORDER BY d2, cid) AS rn FROM (" +
        s"SELECT e.vec_id, ci.ci AS cid, $sqd AS d2 " +
        s"FROM $src e, pcb$m cb, range(0, 16) ci(ci))) WHERE rn = 1)"
    }
    val baseCodes = (0 until 4).map(m => codeCte(s"em$m", s"pcode$m", m)).mkString(", ")
    val deltaSlices = (0 until 4).map { m =>
      val lo = m * 16 + 1
      s"dem$m AS (SELECT vec_id, x[$lo:${lo + 15}] AS sx FROM dembx)"
    }.mkString(", ")
    val deltaCodes = (0 until 4).map(m => codeCte(s"dem$m", s"dcode$m", m)).mkString(", ")
    val unions = (0 until 4).map(m =>
      s"acode$m AS (SELECT * FROM pcode$m UNION ALL SELECT * FROM dcode$m)")
      .mkString(", ")
    val terms = (0 until 4).map { m =>
      val lo = m * 16
      "list_reduce(list_transform(range(1, 17), " +
        s"t -> (q.qv[$lo + t] - cb$m.cs[k$m.c$m + 1][t]) * " +
        s"(q.qv[$lo + t] - cb$m.cs[k$m.c$m + 1][t])), (a, b) -> a + b)"
    }
    val adistExpr = s"(((${terms(0)} + ${terms(1)}) + ${terms(2)}) + ${terms(3)})"
    s"WITH ${kmeansCtes(5, " WHERE vec_id % 10 <> 9")}, " +
      s"${kmeansAssign("c5", "f")}, $pq, $roundedCb, $baseCodes, " +
      "cb AS MATERIALIZED (SELECT cx.ci AS cell, " +
      "list_transform(cs[cx.ci + 1], v -> round(v, 6)) AS cv " +
      "FROM c5, range(0, 8) cx(ci)), " +
      "dembx AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x " +
      "FROM embeddings WHERE vec_id % 10 = 9), " +
      "dcell AS (SELECT vec_id, x, cell AS cid FROM (" +
      "SELECT d.vec_id, d.x, cb.cell, row_number() OVER (PARTITION BY d.vec_id " +
      "ORDER BY list_reduce(list_transform(range(1, 65), " +
      "t -> (d.x[t] - cb.cv[t]) * (d.x[t] - cb.cv[t])), (a, b) -> a + b), cell) AS rn " +
      s"FROM dembx d, cb) WHERE rn = 1), $deltaSlices, $deltaCodes, $unions, " +
      "allv AS (SELECT vec_id, x, cid FROM af " +
      "UNION ALL SELECT vec_id, x, cid FROM dcell), " +
      "q AS (SELECT x AS qv FROM emb WHERE vec_id = 0), " +
      "probed AS (SELECT cell FROM (SELECT cell, row_number() OVER (ORDER BY " +
      "round(list_cosine_similarity(qv, cv), 6) DESC, cell) AS rn FROM q, cb) " +
      "WHERE rn <= 2), " +
      "scored AS MATERIALIZED (SELECT a.vec_id, " +
      s"round($adistExpr, 6) AS adist " +
      "FROM allv a " +
      "JOIN acode0 k0 ON k0.vec_id = a.vec_id " +
      "JOIN acode1 k1 ON k1.vec_id = a.vec_id " +
      "JOIN acode2 k2 ON k2.vec_id = a.vec_id " +
      "JOIN acode3 k3 ON k3.vec_id = a.vec_id, " +
      "pcb0 cb0, pcb1 cb1, pcb2 cb2, pcb3 cb3, q " +
      "WHERE a.vec_id <> 0 AND a.cid IN (SELECT cell FROM probed)), " +
      "sl AS MATERIALIZED (SELECT vec_id, adist FROM (SELECT vec_id, adist, " +
      "row_number() OVER (ORDER BY adist, vec_id) AS rn FROM scored) " +
      "WHERE rn <= 50), " +
      "rr AS (SELECT s.vec_id, b.label, s.adist, " +
      "round(list_reduce(list_transform(range(1, 65), " +
      "t -> (e2.x[t] - q.qv[t]) * (e2.x[t] - q.qv[t])), (a, b) -> a + b), 6) AS dist " +
      "FROM sl s JOIN (SELECT vec_id, x FROM emb UNION ALL " +
      "SELECT vec_id, x FROM dembx) e2 ON e2.vec_id = s.vec_id " +
      "JOIN embeddings b ON b.vec_id = s.vec_id, q) " +
      "SELECT vec_id, label, adist, dist FROM (SELECT vec_id, label, adist, dist, " +
      "row_number() OVER (ORDER BY dist, vec_id) AS rn FROM rr) " +
      "WHERE rn <= 10 ORDER BY dist, vec_id"
  }

  /** g55's full replay — the in-query PQ twin of [[g73Oracle]] minus the
    * IVF filter: 4 subspace trainings, corpus re-encode and ADC against the
    * RAW Lloyd-final codebooks (the engine encodes with unrounded driver
    * doubles), full-corpus top-50 shortlist, exact top-10 re-rank. */
  private def g55Oracle: String = {
    val it = g55PqIters
    val pq = (0 until 4).map(pqCtes(_, it)).mkString(", ")
    val codes = (0 until 4).map { m =>
      val sqd = "list_reduce(list_transform(range(1, 17), " +
        "t -> (e.sx[t] - cb.cs[ci.ci + 1][t]) * (e.sx[t] - cb.cs[ci.ci + 1][t])), " +
        "(a, b) -> a + b)"
      s"pcode$m AS MATERIALIZED (SELECT vec_id, cid AS c$m FROM (" +
        "SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id " +
        "ORDER BY d2, cid) AS rn FROM (" +
        s"SELECT e.vec_id, ci.ci AS cid, $sqd AS d2 " +
        s"FROM em$m e, p${m}c$it cb, range(0, 16) ci(ci))) WHERE rn = 1)"
    }.mkString(", ")
    val terms = (0 until 4).map { m =>
      val lo = m * 16
      "list_reduce(list_transform(range(1, 17), " +
        s"t -> (q.qv[$lo + t] - cb$m.cs[k$m.c$m + 1][t]) * " +
        s"(q.qv[$lo + t] - cb$m.cs[k$m.c$m + 1][t])), (a, b) -> a + b)"
    }
    val adistExpr = s"(((${terms(0)} + ${terms(1)}) + ${terms(2)}) + ${terms(3)})"
    "WITH emb AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x " +
      s"FROM embeddings), $pq, $codes, " +
      "q AS (SELECT x AS qv FROM emb WHERE vec_id = 0), " +
      "scored AS MATERIALIZED (SELECT k0.vec_id, " +
      s"round($adistExpr, 6) AS adist " +
      "FROM pcode0 k0 " +
      "JOIN pcode1 k1 ON k1.vec_id = k0.vec_id " +
      "JOIN pcode2 k2 ON k2.vec_id = k0.vec_id " +
      "JOIN pcode3 k3 ON k3.vec_id = k0.vec_id, " +
      s"p0c$it cb0, p1c$it cb1, p2c$it cb2, p3c$it cb3, q " +
      "WHERE k0.vec_id <> 0), " +
      "sl AS MATERIALIZED (SELECT vec_id, adist FROM (SELECT vec_id, adist, " +
      "row_number() OVER (ORDER BY adist, vec_id) AS rn FROM scored) " +
      "WHERE rn <= 50), " +
      "rr AS (SELECT s.vec_id, b.label, s.adist, " +
      "round(list_reduce(list_transform(range(1, 65), " +
      "t -> (e2.x[t] - q.qv[t]) * (e2.x[t] - q.qv[t])), (a, b) -> a + b), 6) AS dist " +
      "FROM sl s JOIN emb e2 ON e2.vec_id = s.vec_id " +
      "JOIN embeddings b ON b.vec_id = s.vec_id, q) " +
      "SELECT vec_id, label, adist, dist FROM (SELECT vec_id, label, adist, dist, " +
      "row_number() OVER (ORDER BY dist, vec_id) AS rn FROM rr) " +
      "WHERE rn <= 10 ORDER BY dist, vec_id"
  }

  /** Shared g76/g78 replay: train on the 90% base, assign the 10% delta to
    * the ROUNDED frozen codebook, union, probe, top-10 — compaction must
    * not change a single served row, so both queries grade against it. */
  /** i24/i28 shared replay: training, per-query probe selection, every
    * per-query top-10 cut — shard layout must not change a single value. */
  private def i24Oracle: String =
    s"WITH ${kmeansCtes(5)}, ${kmeansAssign("c5", "f")}, " +
      "cb AS (SELECT cx.ci AS cell, " +
      "list_transform(cs[cx.ci + 1], v -> round(v, 6)) AS cv " +
      "FROM c5, range(0, 8) cx(ci)), " +
      "qs AS (SELECT vec_id AS q_id, x AS qv FROM emb " +
      "WHERE vec_id % 37 = 0 AND vec_id IN (SELECT doc_id FROM documents)), " +
      "probed AS (SELECT q_id, qv, cell FROM (SELECT q.q_id, q.qv, cb.cell, " +
      "row_number() OVER (PARTITION BY q.q_id ORDER BY " +
      "round(list_cosine_similarity(q.qv, cb.cv), 6) DESC, cb.cell) AS rn " +
      "FROM qs q, cb) WHERE rn <= 2), " +
      "cand AS (SELECT p.q_id, a.vec_id AS b_id, " +
      "round(list_cosine_similarity(a.x, p.qv), 6) AS cos " +
      "FROM af a JOIN probed p ON a.cid = p.cell AND a.vec_id <> p.q_id) " +
      "SELECT q_id, CAST(rn AS INT) AS rn, b_id, cos FROM (" +
      "SELECT q_id, b_id, cos, row_number() OVER (PARTITION BY q_id " +
      "ORDER BY cos DESC, b_id) AS rn FROM cand) WHERE rn <= 10 " +
      "ORDER BY q_id, rn"

  private def g76Oracle: String =
    s"WITH ${kmeansCtes(5, " WHERE vec_id % 10 <> 9")}, " +
      s"${kmeansAssign("c5", "f")}, " +
      "cb AS MATERIALIZED (SELECT cx.ci AS cell, " +
      "list_transform(cs[cx.ci + 1], v -> round(v, 6)) AS cv " +
      "FROM c5, range(0, 8) cx(ci)), " +
      "demb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x " +
      "FROM embeddings WHERE vec_id % 10 = 9), " +
      "dasg AS (SELECT vec_id, x, cell AS cid FROM (" +
      "SELECT d.vec_id, d.x, cb.cell, row_number() OVER (PARTITION BY d.vec_id " +
      "ORDER BY list_reduce(list_transform(range(1, 65), " +
      "t -> (d.x[t] - cb.cv[t]) * (d.x[t] - cb.cv[t])), (a, b) -> a + b), cell) AS rn " +
      "FROM demb d, cb) WHERE rn = 1), " +
      "allv AS (SELECT vec_id, x, cid FROM af " +
      "UNION ALL SELECT vec_id, x, cid FROM dasg), " +
      "q AS (SELECT x AS qv FROM emb WHERE vec_id = 0), " +
      "probed AS (SELECT cell FROM (SELECT cell, row_number() OVER (ORDER BY " +
      "round(list_cosine_similarity(qv, cv), 6) DESC, cell) AS rn FROM q, cb) " +
      "WHERE rn <= 2) " +
      "SELECT b.vec_id, b.label, " +
      "round(list_cosine_similarity(a.x, qv), 6) AS cos " +
      "FROM embeddings b, allv a, q WHERE a.vec_id = b.vec_id " +
      "AND b.vec_id <> 0 AND a.cid IN (SELECT cell FROM probed) " +
      "ORDER BY cos DESC, b.vec_id LIMIT 10"

  val oracles: Seq[(String, String)] = Seq(
    // full IVF-PQ replay: training, encode, probe, ADC, both cuts
    "g73_ann_ivfpq_serve" -> g73Oracle,

    // PQ append: base-trained codebooks frozen, delta re-encoded, same
    // two-stage serve replayed over the union
    "g81_pq_index_append" -> g81Oracle,

    // full in-query PQ replay (CONVERTED from rows-only this round): the
    // deterministic Lloyd chains make even the raw-double codebooks
    // SQL-replayable — training, encode, ADC, shortlist, re-rank
    "g55_pq_adc_topk" -> g55Oracle,

    "g3_sim_cosine_pairs" ->
      ("SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.label AS label, " +
        "round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cos " +
        "FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id " +
        "ORDER BY a_id, b_id"),

    "g3b_sim_cosine_native" ->
      ("SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.label AS label, " +
        "round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cos " +
        "FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id " +
        "ORDER BY a_id, b_id"),

    "g4_sim_topk_search" ->
      ("WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0) " +
        "SELECT vec_id, label, " +
        "round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv), 6) AS cos " +
        "FROM embeddings, q WHERE vec_id <> 0 ORDER BY cos DESC, vec_id LIMIT 10"),

    // full replay of the binary-quantization pipeline: per-dim exact-decimal
    // mean thresholds (the g6 formula), bit-pack into two 32-bit words,
    // XOR+popcount Hamming shortlist (top-50, vec_id tiebreak), exact
    // rounded-cosine re-rank to 10 — every cut engine-stable
    "g83_ann_binary_quant" ->
      ("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "m AS (SELECT pos, CAST(sum(CAST(v[pos + 1] AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS mu " +
        "FROM e, range(64) t(pos) GROUP BY pos), " +
        "sig AS (SELECT vec_id, " +
        "CAST(sum(CASE WHEN pos < 32 AND v[pos + 1] > mu THEN (CAST(1 AS BIGINT) << pos) ELSE 0 END) AS BIGINT) AS lo, " +
        "CAST(sum(CASE WHEN pos >= 32 AND v[pos + 1] > mu THEN (CAST(1 AS BIGINT) << (pos - 32)) ELSE 0 END) AS BIGINT) AS hi " +
        "FROM e, range(64) t(pos) JOIN m USING (pos) GROUP BY vec_id), " +
        "q AS (SELECT lo AS qlo, hi AS qhi FROM sig WHERE vec_id = 0), " +
        "qv AS (SELECT v AS qv FROM e WHERE vec_id = 0), " +
        "short AS (SELECT vec_id, " +
        "CAST(bit_count(xor(lo, qlo)) + bit_count(xor(hi, qhi)) AS INT) AS hamming " +
        "FROM sig, q WHERE vec_id <> 0 ORDER BY hamming, vec_id LIMIT 50) " +
        "SELECT s.vec_id, s.hamming, round(list_cosine_similarity(e.v, qv), 6) AS cos " +
        "FROM short s JOIN e ON e.vec_id = s.vec_id, qv " +
        "ORDER BY cos DESC, s.vec_id LIMIT 10"),

    "g33_random_projection" ->
      ("SELECT vec_id, i.range AS i, " +
        "round(list_sum(list_transform(range(1, 65), j -> " +
        "CAST(embedding[j] AS DOUBLE) * " +
        "CASE WHEN substring(md5(CAST(j - 1 AS VARCHAR) || '_' || CAST(i.range AS VARCHAR)), 1, 1) " +
        "< '8' THEN 1.0 ELSE -1.0 END)) / 4.0, 6) AS xp " +
        "FROM embeddings, range(16) AS i ORDER BY vec_id, i"),

    "g32_mips_topk" ->
      ("WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 1) " +
        "SELECT vec_id, label, " +
        "round(list_dot_product(CAST(embedding AS DOUBLE[]), qv), 6) AS dotp " +
        "FROM embeddings, q WHERE vec_id <> 1 ORDER BY dotp DESC, vec_id LIMIT 10"),

    "g5_knn_join" ->
      ("SELECT a_id, b_id, cos, rn FROM (SELECT a_id, b_id, cos, " +
        "row_number() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id) AS rn FROM (" +
        "SELECT a.vec_id AS a_id, b.vec_id AS b_id, " +
        "round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cos " +
        "FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id)) " +
        "WHERE rn <= 5 ORDER BY a_id, rn"),

    "g68_hard_negative_mining" ->
      ("WITH a AS (SELECT vec_id AS a_id, label AS a_label, " +
        "CAST(embedding AS DOUBLE[]) AS av FROM embeddings WHERE vec_id < 100), " +
        "p AS (SELECT a_id, b.vec_id AS b_id, a_label = b.label AS same, " +
        "round(list_cosine_similarity(av, CAST(b.embedding AS DOUBLE[])), 6) AS cos " +
        "FROM a JOIN embeddings b ON a_id <> b.vec_id), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY a_id, same " +
        "ORDER BY cos DESC, b_id) AS rn FROM p) " +
        "SELECT a_id, max(CASE WHEN same THEN b_id END) AS pos_id, " +
        "max(CASE WHEN same THEN cos END) AS pos_cos, " +
        "max(CASE WHEN NOT same THEN b_id END) AS neg_id, " +
        "max(CASE WHEN NOT same THEN cos END) AS neg_cos, " +
        "round(max(CASE WHEN same THEN cos END) - max(CASE WHEN NOT same THEN cos END), 6) AS margin " +
        "FROM r WHERE rn = 1 GROUP BY a_id ORDER BY a_id"),

    // full SQL replay of the IVF index: codebook = g6's proven decimal-mean
    // rounded to 6dp, probe = 2 nearest cells on the rounded centroid
    // cosine, both top-10 cuts on (rounded cos DESC, vec_id) — integer
    // overlap per probe
    // re-graded against the PERSISTED LEARNED index: the oracle unrolls the
    // same 5 deterministic Lloyd iterations (kmeansCtes — the g40 bit-replay
    // discipline), reassigns every vector to its learned cell, rounds the
    // Lloyd-final centroids to the persisted 6dp codebook, then replays
    // probe selection and both top-10 cuts
    "g69_ann_recall" ->
      (s"WITH ${kmeansCtes(5)}, ${kmeansAssign("c5", "f")}, " +
        "cb AS (SELECT cx.ci AS clabel, " +
        "list_transform(cs[cx.ci + 1], v -> round(v, 6)) AS cv " +
        "FROM c5, range(0, 8) cx(ci)), " +
        "q AS (SELECT vec_id AS q_id, x AS qv FROM emb WHERE vec_id < 50), " +
        "probed AS (SELECT q_id, clabel FROM (SELECT q_id, clabel, " +
        "row_number() OVER (PARTITION BY q_id ORDER BY " +
        "round(list_cosine_similarity(qv, cv), 6) DESC, clabel) AS rn " +
        "FROM q, cb) WHERE rn <= 2), " +
        "scored AS (SELECT q_id, b.vec_id AS b_id, b.cid AS b_cell, " +
        "round(list_cosine_similarity(qv, b.x), 6) AS cos " +
        "FROM q JOIN af b ON b.vec_id <> q.q_id), " +
        "ex AS (SELECT q_id, b_id FROM (SELECT q_id, b_id, " +
        "row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, b_id) AS rn " +
        "FROM scored) WHERE rn <= 10), " +
        "ap AS (SELECT q_id, b_id FROM (SELECT s.q_id, s.b_id, " +
        "row_number() OVER (PARTITION BY s.q_id ORDER BY s.cos DESC, s.b_id) AS rn " +
        "FROM scored s JOIN probed p ON s.q_id = p.q_id AND s.b_cell = p.clabel) " +
        "WHERE rn <= 10), " +
        "h AS (SELECT e.q_id, count(*) AS hits FROM ex e JOIN ap a " +
        "ON e.q_id = a.q_id AND e.b_id = a.b_id GROUP BY e.q_id) " +
        "SELECT q.q_id, COALESCE(h.hits, CAST(0 AS BIGINT)) AS hits_at_10, " +
        "CAST(COALESCE(h.hits, 0) * 10 AS INT) AS recall_pct " +
        "FROM q LEFT JOIN h ON q.q_id = h.q_id ORDER BY q.q_id"),

    // the persisted-index serve replays exactly: Lloyd training (5 unrolled
    // iterations), learned-cell assignment, the 6dp-rounded persisted
    // codebook, probe selection (top-2 cells on rounded cosine), and the
    // top-10 cut over the probed cells only
    "g71_ann_index_serve" ->
      (s"WITH ${kmeansCtes(5)}, ${kmeansAssign("c5", "f")}, " +
        "cb AS (SELECT cx.ci AS cell, " +
        "list_transform(cs[cx.ci + 1], v -> round(v, 6)) AS cv " +
        "FROM c5, range(0, 8) cx(ci)), " +
        "q AS (SELECT x AS qv FROM emb WHERE vec_id = 0), " +
        "probed AS (SELECT cell FROM (SELECT cell, row_number() OVER (ORDER BY " +
        "round(list_cosine_similarity(qv, cv), 6) DESC, cell) AS rn FROM q, cb) " +
        "WHERE rn <= 2) " +
        "SELECT b.vec_id, b.label, " +
        "round(list_cosine_similarity(a.x, qv), 6) AS cos " +
        "FROM embeddings b, af a, q WHERE a.vec_id = b.vec_id " +
        "AND b.vec_id <> 0 AND a.cid IN (SELECT cell FROM probed) " +
        "ORDER BY cos DESC, b.vec_id LIMIT 10"),

    // g5b: approximate (LSH) — oracle intentionally omitted.

    // filtered ANN: g71's replay plus the pushed metadata predicate —
    // exact within the probed cells, so the filter composes conjunctively
    "g75_ann_filtered" ->
      (s"WITH ${kmeansCtes(5)}, ${kmeansAssign("c5", "f")}, " +
        "cb AS (SELECT cx.ci AS cell, " +
        "list_transform(cs[cx.ci + 1], v -> round(v, 6)) AS cv " +
        "FROM c5, range(0, 8) cx(ci)), " +
        "q AS (SELECT x AS qv FROM emb WHERE vec_id = 0), " +
        "probed AS (SELECT cell FROM (SELECT cell, row_number() OVER (ORDER BY " +
        "round(list_cosine_similarity(qv, cv), 6) DESC, cell) AS rn FROM q, cb) " +
        "WHERE rn <= 2) " +
        "SELECT b.vec_id, b.label, " +
        "round(list_cosine_similarity(a.x, qv), 6) AS cos " +
        "FROM embeddings b, af a, q WHERE a.vec_id = b.vec_id " +
        "AND b.vec_id <> 0 AND b.label % 3 = 1 " +
        "AND a.cid IN (SELECT cell FROM probed) " +
        "ORDER BY cos DESC, b.vec_id LIMIT 10"),

    // segment append: train on the 90% base, assign the 10% delta to the
    // ROUNDED frozen codebook (what the serving artifact holds), union,
    // then replay probe selection and the top-10 cut
    "g76_ann_index_append" -> g76Oracle,

    // compaction must serve EXACTLY the base∪delta answer — same replay
    "g78_ann_index_compact" -> g76Oracle,

    // i24 (declared in StreamingQueries) serves a query STREAM from the
    // same persisted learned index this module's oracles replay; the index
    // is pinned for the campaign, so union-of-batch ledgers == this
    // single-shot answer: training, per-query probe selection, every
    // per-query top-10 cut
    "i24_stream_ann_serve" -> i24Oracle,

    // i28 shards the SAME query stream across 4 concurrent serving
    // queries against the SAME pinned index — scale-out must be
    // correctness-neutral, so the oracle is literally i24's
    "i28_stream_ann_shard_serve" -> i24Oracle,

    // comparative-anchor LSH: bits, band keys, candidate buckets, the exact
    // truth set, and per-anchor integer recall all replay relationally
    "g82_embed_lsh_recall" ->
      ("WITH emb AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x " +
        "FROM embeddings), " +
        "refs AS (SELECT j.j AS j, ea.x AS ax, eb.x AS bx FROM range(0, 16) j(j) " +
        "JOIN emb ea ON ea.vec_id = 2 * j.j + 1 " +
        "JOIN emb eb ON eb.vec_id = 2 * j.j + 2), " +
        "bits AS (SELECT e.vec_id, r.j, CASE WHEN " +
        "round(list_cosine_similarity(e.x, r.ax), 6) > " +
        "round(list_cosine_similarity(e.x, r.bx), 6) THEN 1 ELSE 0 END AS bit " +
        "FROM emb e, refs r), " +
        "keys AS MATERIALIZED (SELECT vec_id, j // 4 AS band, " +
        "CAST(sum(bit * (1 << (j % 4))) AS INT) AS bkey FROM bits GROUP BY 1, 2), " +
        "cand AS MATERIALIZED (SELECT DISTINCT k1.vec_id AS u, k2.vec_id AS v " +
        "FROM keys k1 JOIN keys k2 ON k1.band = k2.band AND k1.bkey = k2.bkey " +
        "AND k1.vec_id < k2.vec_id), " +
        "anchors AS (SELECT vec_id AS a_id, x AS ax FROM emb WHERE vec_id < 50), " +
        "tru AS MATERIALIZED (SELECT a.a_id, least(a.a_id, e.vec_id) AS u, " +
        "greatest(a.a_id, e.vec_id) AS v FROM emb e JOIN anchors a " +
        "ON e.vec_id <> a.a_id " +
        "WHERE round(list_cosine_similarity(e.x, a.ax), 6) >= 0.45), " +
        "fnd AS (SELECT t.a_id FROM tru t WHERE EXISTS (" +
        "SELECT 1 FROM cand c WHERE c.u = t.u AND c.v = t.v)) " +
        "SELECT t.a_id, count(*) AS n_true, " +
        "CAST(coalesce(f.n, 0) AS BIGINT) AS n_found, " +
        "CAST(coalesce(f.n, 0) * 100 // count(*) AS INT) AS recall_pct " +
        "FROM tru t LEFT JOIN (SELECT a_id, count(*) AS n FROM fnd GROUP BY 1) f " +
        "ON f.a_id = t.a_id GROUP BY t.a_id, f.n ORDER BY t.a_id"),

    // tombstone delete: g71's replay with the deleted set excluded — a
    // deleted vector must be unfindable through any probe
    "g80_ann_index_delete" ->
      (s"WITH ${kmeansCtes(5)}, ${kmeansAssign("c5", "f")}, " +
        "cb AS (SELECT cx.ci AS cell, " +
        "list_transform(cs[cx.ci + 1], v -> round(v, 6)) AS cv " +
        "FROM c5, range(0, 8) cx(ci)), " +
        "q AS (SELECT x AS qv FROM emb WHERE vec_id = 0), " +
        "probed AS (SELECT cell FROM (SELECT cell, row_number() OVER (ORDER BY " +
        "round(list_cosine_similarity(qv, cv), 6) DESC, cell) AS rn FROM q, cb) " +
        "WHERE rn <= 2) " +
        "SELECT b.vec_id, b.label, " +
        "round(list_cosine_similarity(a.x, qv), 6) AS cos " +
        "FROM embeddings b, af a, q WHERE a.vec_id = b.vec_id " +
        "AND b.vec_id <> 0 AND b.vec_id % 101 <> 7 " +
        "AND a.cid IN (SELECT cell FROM probed) " +
        "ORDER BY cos DESC, b.vec_id LIMIT 10"),

    // probe sweep: one replayed candidate cut per probes value, graded as
    // integer overlap with the exact top-10 (the g69 discipline ×4)
    "g79_ann_probe_sweep" ->
      (s"WITH ${kmeansCtes(5)}, ${kmeansAssign("c5", "f")}, " +
        "cb AS (SELECT cx.ci AS cell, " +
        "list_transform(cs[cx.ci + 1], v -> round(v, 6)) AS cv " +
        "FROM c5, range(0, 8) cx(ci)), " +
        "q AS (SELECT x AS qv FROM emb WHERE vec_id = 0), " +
        "rc AS (SELECT cell, row_number() OVER (ORDER BY " +
        "round(list_cosine_similarity(qv, cv), 6) DESC, cell) AS crn FROM q, cb), " +
        "sc AS MATERIALIZED (SELECT a.vec_id, a.cid, " +
        "round(list_cosine_similarity(a.x, qv), 6) AS cos " +
        "FROM af a, q WHERE a.vec_id <> 0), " +
        "apx AS (SELECT probes, vec_id FROM (" +
        "SELECT p.p AS probes, s.vec_id, row_number() OVER (PARTITION BY p.p " +
        "ORDER BY s.cos DESC, s.vec_id) AS rn " +
        "FROM range(1, 5) p(p) JOIN rc ON rc.crn <= p.p " +
        "JOIN sc s ON s.cid = rc.cell) WHERE rn <= 10), " +
        "ex AS (SELECT vec_id FROM (SELECT vec_id, row_number() OVER (" +
        "ORDER BY cos DESC, vec_id) AS rn FROM sc) WHERE rn <= 10) " +
        "SELECT CAST(p.p AS INT) AS probes, " +
        "CAST(coalesce(h.n, 0) AS BIGINT) AS hits_at_10, " +
        "CAST(coalesce(h.n, 0) * 10 AS INT) AS recall_pct " +
        "FROM range(1, 5) p(p) LEFT JOIN (SELECT probes, count(*) AS n " +
        "FROM apx JOIN ex USING (vec_id) GROUP BY 1) h ON h.probes = p.p " +
        "ORDER BY probes"),

    // MaxSim late interaction: 16 slice-pair cosines each rounded to 6dp,
    // per-query-token greatest, fixed-order 4-term sum — exact replay
    "g77_colbert_maxsim" -> {
      def s(i: Int): String = {
        val qlo = i * 16 + 1; val qhi = i * 16 + 16
        "greatest(" + (0 until 4).map { j =>
          val lo = j * 16 + 1; val hi = j * 16 + 16
          s"round(list_cosine_similarity(e.x[$lo:$hi], qv[$qlo:$qhi]), 6)"
        }.mkString(", ") + s") AS s$i"
      }
      "WITH emb AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS x " +
        "FROM embeddings), " +
        "q AS (SELECT x AS qv FROM emb WHERE vec_id = 0), " +
        s"sc AS (SELECT e.vec_id, e.label, ${(0 until 4).map(s).mkString(", ")} " +
        "FROM emb e, q WHERE e.vec_id <> 0) " +
        "SELECT vec_id, label, round(((s0 + s1) + s2) + s3, 6) AS maxsim " +
        "FROM sc ORDER BY maxsim DESC, vec_id LIMIT 10"
    },

    // g4b CONVERTED from rows-only (r15): the label codebook is the exact
    // decimal per-label mean, and the nearest-cell assignment now ranks on
    // the 6dp-ROUNDED cosine (label ties low) — so codebook build, probe
    // selection, per-vector assignment, and the top-10 cut all replay
    "g4b_sim_topk_ivf" ->
      ("WITH cb AS MATERIALIZED (SELECT label AS clabel, list(c ORDER BY pos) AS cv FROM (" +
        "SELECT label, pos, CAST(sum(CAST(v AS DECIMAL(38,12))) AS DOUBLE) / count(v) AS c " +
        "FROM (SELECT label, pos, CAST(embedding AS DOUBLE[])[pos + 1] AS v " +
        "FROM embeddings, range(64) t(pos)) GROUP BY label, pos) GROUP BY label), " +
        "q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0), " +
        "probed AS (SELECT clabel FROM (SELECT clabel, row_number() OVER (ORDER BY " +
        "round(list_cosine_similarity(qv, cv), 6) DESC, clabel) AS rn FROM q, cb) " +
        "WHERE rn <= 2), " +
        "asg AS MATERIALIZED (SELECT vec_id, clabel AS cell FROM (" +
        "SELECT e.vec_id, cb.clabel, row_number() OVER (PARTITION BY e.vec_id " +
        "ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), cb.cv), 6) DESC, " +
        "cb.clabel) AS rn FROM embeddings e, cb) WHERE rn = 1) " +
        "SELECT e.vec_id, e.label, " +
        "round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), qv), 6) AS cos " +
        "FROM embeddings e JOIN asg a ON a.vec_id = e.vec_id, q " +
        "WHERE e.vec_id <> 0 AND a.cell IN (SELECT clabel FROM probed) " +
        "ORDER BY cos DESC, e.vec_id LIMIT 10"),

    // g5c: EXACT block nested-loop kNN — same answer, same oracle as g5.
    "g5c_knn_block" ->
      ("SELECT a_id, b_id, cos, rn FROM (SELECT a_id, b_id, cos, " +
        "row_number() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id) AS rn FROM (" +
        "SELECT a.vec_id AS a_id, b.vec_id AS b_id, " +
        "round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cos " +
        "FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id)) " +
        "WHERE rn <= 5 ORDER BY a_id, rn"),

    "g15_dedup_embed_cosine" ->
      ("SELECT a.vec_id AS a_id, b.vec_id AS b_id, " +
        "round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cos " +
        "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id " +
        "WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= 0.45 " +
        "ORDER BY a_id, b_id"),

    // g15c: EXACT block-bucketed dedup — same answer, same oracle as g15.
    "g15c_dedup_embed_block" ->
      ("SELECT a.vec_id AS a_id, b.vec_id AS b_id, " +
        "round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cos " +
        "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id " +
        "WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= 0.45 " +
        "ORDER BY a_id, b_id"),

    "g44_graph_triangles" ->
      ("WITH e AS (SELECT a.vec_id AS u, b.vec_id AS v " +
        "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id " +
        "WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= 0.3), " +
        "deg AS (SELECT id, count(*) AS d FROM " +
        "(SELECT u AS id FROM e UNION ALL SELECT v FROM e) GROUP BY id), " +
        "tri AS (SELECT count(*) AS t FROM e e1 " +
        "JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v " +
        "JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v) " +
        "SELECT (SELECT count(*) FROM deg) AS n_nodes, " +
        "(SELECT count(*) FROM e) AS n_edges, " +
        "(SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_wedges, " +
        "(SELECT t FROM tri) AS n_triangles, " +
        "round(3.0 * (SELECT t FROM tri) / (SELECT sum(d * (d - 1) // 2) FROM deg), 6) AS global_cc"),

    "g6_centroid_per_label" ->
      ("SELECT label, pos, round(CAST(sum(CAST(v AS DECIMAL(38,12))) AS DOUBLE) / count(v), 6) AS c " +
        "FROM (SELECT label, pos, CAST(embedding AS DOUBLE[])[pos + 1] AS v " +
        "FROM embeddings, range(64) t(pos)) " +
        "GROUP BY label, pos ORDER BY label, pos"),

    // bit-exact replay of the 30-iteration power method: decimal-exact
    // centering and Gram, then every reduction as a list_reduce LEFT FOLD —
    // the same evaluation order as the engine's driver loops, so doubles
    // match bit-for-bit (IEEE ops are deterministic; only ORDER can differ,
    // and here it never does). AS MATERIALIZED stops DuckDB re-inlining the
    // 60-CTE chain.
    "g39_pca_power" -> {
      def fold(l: String) = s"list_reduce($l, (a, b) -> a + b)"
      def dot(a: String, b: String) =
        fold(s"list_transform(range(1, 65), t -> ($a)[t] * ($b)[t])")
      val iters = (1 to 30).map { k =>
        val pv = s"v${k - 1}"
        s"w$k AS MATERIALIZED (SELECT i, ${dot("crow", "v")} AS w FROM c, $pv), " +
          s"v$k AS MATERIALIZED (SELECT list_transform(wl, x -> x / " +
          s"sqrt(${fold("list_transform(wl, y -> y * y)")})) AS v " +
          s"FROM (SELECT list(w ORDER BY i) AS wl FROM w$k))"
      }.mkString(", ")
      "WITH mean AS MATERIALIZED (SELECT list(m ORDER BY pos) AS mv FROM (" +
        "SELECT pos, CAST(sum(CAST(v AS DECIMAL(38,12))) AS DOUBLE) / count(v) AS m " +
        "FROM (SELECT pos, CAST(embedding AS DOUBLE[])[pos + 1] AS v " +
        "FROM embeddings, range(64) t(pos)) GROUP BY pos)), " +
        "xc AS MATERIALIZED (SELECT label, list_transform(range(1, 65), " +
        "t -> CAST(embedding AS DOUBLE[])[t] - mv[t]) AS x FROM embeddings, mean), " +
        "cr AS MATERIALIZED (SELECT ii.i AS i, jj.j AS j, " +
        "CAST(sum(CAST(x[ii.i] * x[jj.j] AS DECIMAL(38,12))) AS DOUBLE) AS cij " +
        "FROM xc, range(1, 65) ii(i), range(1, 65) jj(j) GROUP BY 1, 2), " +
        "c AS MATERIALIZED (SELECT i, list(cij ORDER BY j) AS crow FROM cr GROUP BY i), " +
        "v0 AS (SELECT list_transform(range(1, 65), t -> CAST(0.125 AS DOUBLE)) AS v), " +
        iters + ", " +
        "im AS (SELECT t AS imax FROM v30, range(1, 65) tt(t) " +
        "ORDER BY abs(v[t]) DESC, t LIMIT 1), " +
        "vf AS MATERIALIZED (SELECT CASE WHEN v[imax] < 0 " +
        "THEN list_transform(v, x -> -x) ELSE v END AS v FROM v30, im), " +
        "cm AS MATERIALIZED (SELECT list(crow ORDER BY i) AS m FROM c), " +
        "lam AS (SELECT " +
        fold(s"list_transform(range(1, 65), i -> v[i] * " +
          fold("list_transform(range(1, 65), j -> m[i][j] * v[j])") + ")") +
        " / (SELECT count(*) FROM xc) AS lambda FROM vf, cm) " +
        "SELECT p.label, count(*) AS n, " +
        "round(CAST(sum(CAST(p.t AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6) AS mean_proj, " +
        "round(CAST(sum(CAST(p.t * p.t AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6) AS var_proj, " +
        "(SELECT round(lambda, 6) FROM lam) AS lambda " +
        s"FROM (SELECT label, ${dot("x", "v")} AS t FROM xc, vf) p " +
        "GROUP BY p.label ORDER BY p.label"
    },

    // bit-exact replay of 5 deterministic Lloyd iterations: smallest-id
    // seeding, per-(row, centroid) sq-L2 as the same ordered left fold the
    // engine's zip_with kernel runs, argmin via (d2, cid) row_number (ties
    // to the LOWEST centroid id — the engine's array_position(min)
    // semantics), decimal-exact centroid means, empty cells carried over.
    "g40_kmeans" ->
      (s"WITH ${kmeansCtes(5)}, " +
        kmeansAssign("c5", "f") + " " +
        "SELECT CAST(cid AS INT) AS cluster, count(*) AS n, " +
        "round(CAST(sum(CAST(d2 AS DECIMAL(38,12))) AS DOUBLE), 6) AS inertia, " +
        "min(vec_id) AS exemplar FROM af GROUP BY cid ORDER BY cluster"),

    // same unrolled-Lloyd prefix at 5 iterations, then the engine's
    // multi-probe: each row's 2 nearest cells = (d2, cid) rank <= 2 — the
    // array_sort((d, i)) lexicographic order of KMeans.probeCols — pairs
    // inside a shared cell verified with the exact cosine, DISTINCT because
    // a pair sharing both probed cells is emitted once
    "g42_kmeans_dedup" ->
      (s"WITH ${kmeansCtes(5)}, " +
        "df AS MATERIALIZED (SELECT vec_id, x, ci.ci AS cid, " +
        s"${kmeansSqd("cs[ci.ci + 1]")} AS d2 FROM emb, c5, range(0, 8) ci(ci)), " +
        "pr AS MATERIALIZED (SELECT vec_id, x, cid FROM (" +
        "SELECT vec_id, x, cid, row_number() OVER (PARTITION BY vec_id " +
        "ORDER BY d2, cid) AS rn FROM df) WHERE rn <= 2) " +
        "SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id, " +
        "round(list_cosine_similarity(a.x, b.x), 6) AS cos " +
        "FROM pr a JOIN pr b ON a.cid = b.cid AND a.vec_id < b.vec_id " +
        "WHERE round(list_cosine_similarity(a.x, b.x), 6) >= 0.45 " +
        "ORDER BY a_id, b_id"),

    "h2_udaf_vecsum" ->
      ("SELECT label, pos, round(sum(v), 6) AS sx " +
        "FROM (SELECT label, pos, CAST(embedding AS DOUBLE[])[pos + 1] AS v " +
        "FROM embeddings, range(64) t(pos)) " +
        "GROUP BY label, pos ORDER BY label, pos"),

    "g10_multimodal_join" ->
      ("SELECT doc_id, lang, source, label, n_chars FROM documents " +
        "JOIN embeddings ON doc_id = vec_id " +
        "WHERE lang = 'en' AND label < 5 AND n_chars > 200 ORDER BY doc_id"),

    // replays the GRF1 pixel stats straight from the source text: the
    // decoder's (w, h) come from the header the encoder wrote, so the
    // oracle's h must re-derive the same clamp from n_chars
    "g63_multimodal_bucket_pack" ->
      ("WITH i AS (SELECT doc_id, CAST(greatest(1, least(8, n_chars // 8)) AS INT) AS h " +
        "FROM documents), " +
        "r AS (SELECT doc_id, h, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn " +
        "FROM i), " +
        "b AS (SELECT h, CAST((rn - 1) // 32 AS INT) AS batch_idx, count(*) AS n_images, " +
        "min(doc_id) AS first_doc, max(doc_id) AS last_doc FROM r GROUP BY 1, 2) " +
        "SELECT h, batch_idx, n_images, " +
        "CAST(n_images * (h * 8 + 8) AS BIGINT) AS batch_bytes, first_doc, last_doc " +
        "FROM b ORDER BY h, batch_idx"),

    // lossy codec: the DETERMINISTIC outputs are the decoded dims + pixel
    // count (JPEG preserves dimensions exactly); pixel drift is bounded in
    // VectorSpec, not hash-matched
    "g14d_multimodal_jpeg" ->
      ("WITH k AS (SELECT unnest(range(0, 60)) AS img_id), " +
        "d AS (SELECT img_id, 32 + img_id % 5 AS w, 24 + img_id % 3 AS h FROM k) " +
        "SELECT img_id, CAST(w AS INT) AS w, CAST(h AS INT) AS h, " +
        "CAST(w * h AS BIGINT) AS n_px FROM d ORDER BY img_id"),

    // the RESIZED sums re-derived analytically: nearest-neighbor with the
    // top-left convention samples source column (i*w div 16) and row
    // (j*h div 12); the r gradient depends only on x and g only on y, so
    // the resized sums factor into one 16-term and one 12-term series
    "g14e_multimodal_resize" ->
      ("WITH k AS (SELECT unnest(range(0, 60)) AS img_id), " +
        "d AS (SELECT img_id, 32 + img_id % 5 AS w, 24 + img_id % 3 AS h FROM k) " +
        "SELECT img_id, CAST(w AS INT) AS src_w, CAST(h AS INT) AS src_h, " +
        "CAST(16 AS INT) AS w, CAST(12 AS INT) AS h, " +
        "CAST(12 * list_sum(list_transform(range(0, 16), i -> (img_id + (i * w) // 16) % 256)) AS BIGINT) AS r_sum, " +
        "CAST(16 * list_sum(list_transform(range(0, 12), j -> (img_id * 5 + (j * h) // 12) % 256)) AS BIGINT) AS g_sum, " +
        "CAST(16 * 12 * ((img_id * 11) % 256) AS BIGINT) AS b_sum " +
        "FROM d ORDER BY img_id"),

    // the decoded pixel sums re-derived ANALYTICALLY from the pattern the
    // fixture painted — PNG is lossless, so the codec round-trip must land
    // on these exact integers
    "g14c_multimodal_png" ->
      ("WITH k AS (SELECT unnest(range(0, 60)) AS img_id), " +
        "d AS (SELECT img_id, 32 + img_id % 5 AS w, 24 + img_id % 3 AS h FROM k) " +
        "SELECT img_id, CAST(w AS INT) AS w, CAST(h AS INT) AS h, " +
        "CAST(h * list_sum(list_transform(range(0, w), x -> (img_id + x) % 256)) AS BIGINT) AS r_sum, " +
        "CAST(w * list_sum(list_transform(range(0, h), y -> (img_id * 5 + y) % 256)) AS BIGINT) AS g_sum, " +
        "CAST(w * h * ((img_id * 11) % 256) AS BIGINT) AS b_sum " +
        "FROM d ORDER BY img_id"),

    "g14_multimodal_binary" ->
      ("SELECT doc_id, lang, 8 AS w, h, " +
        "CAST(list_sum(list_transform(range(1, 8 * h + 1), " +
        "i -> ascii(substring(px, i, 1)))) AS BIGINT) AS px_sum, " +
        "CAST(list_min(list_transform(range(1, 8 * h + 1), " +
        "i -> ascii(substring(px, i, 1)))) AS INT) AS px_min, " +
        "CAST(list_max(list_transform(range(1, 8 * h + 1), " +
        "i -> ascii(substring(px, i, 1)))) AS INT) AS px_max FROM (" +
        "SELECT doc_id, lang, h, rpad(substring(text, 1, 8 * h), 8 * h, ' ') AS px " +
        "FROM (SELECT doc_id, lang, text, " +
        "CAST(greatest(1, least(8, n_chars // 8)) AS INT) AS h FROM documents)) " +
        "ORDER BY doc_id"),

    "g14b_multimodal_frames" ->
      ("SELECT doc_id, i AS frame_idx, length(frame) AS frame_len, " +
        "ascii(substring(frame, 1, 1)) AS first_byte, md5(frame) AS frame_hash FROM (" +
        "SELECT doc_id, i, substring(text, i * 64 + 1, 64) AS frame " +
        "FROM (SELECT doc_id, text FROM documents WHERE doc_id < 50), range(4) t(i) " +
        "WHERE i * 64 < length(text)) ORDER BY doc_id, frame_idx")
  )
}
