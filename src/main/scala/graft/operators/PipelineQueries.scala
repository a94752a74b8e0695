package graft.operators

import graft.{QueryModule, Tables}
import graft.functions.{TextFunctions => TF}
import graft.sources.Ann
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Training-data-pipeline operators beyond the SURVEY §2 G band: benchmark
  * contamination checking, deterministic stratified sampling, PII-style regex
  * redaction, sliding-window document chunking, and int8 embedding
  * quantization — the remaining pieces a 100 TB LLM corpus job needs that the
  * dedup/similarity/text bands don't already cover.
  *
  * Scale notes (100 TB):
  *  - g17: the benchmark n-gram set is tiny relative to the corpus, so the
  *    contamination check is a broadcast semi-join keyed on the n-gram — the
  *    corpus side never shuffles.
  *  - g18: sampling rank is computed per stratum with one window shuffle on
  *    the stratum key; the md5 sort key makes the sample deterministic and
  *    uniformly spread regardless of input order or partitioning.
  *  - g19/g20: narrow per-row regex/array transforms, fully codegen'd, no
  *    shuffle at all — they run at scan speed.
  *  - g21: per-vector fold over a 64-wide array, also narrow; the scale
  *    factor (max|x|/127) is recomputed per row so no global pass is needed.
  *  - g22: repetition scoring is a narrow per-row trigram fold — no shuffle.
  *  - g23: sequence packing windows WITHIN a partition key (source), never
  *    through a single global cumsum — the packing shape that scales.
  */
object PipelineQueries extends QueryModule {

  /** FIXED-SIZE benchmark slice: doc_id < 50, i.e. 50 held-out documents at
    * EVERY corpus scale. A %-of-pool slice (the r15-flagged `doc_id % 10`)
    * grows the probe linearly with the corpus, so match volume grows
    * superlinearly and the broadcast eventually OOMs — the g68/g69/g72
    * discipline is that graded batches never scale with the pool. */
  private val BenchmarkK = 50

  /** Persisted BENCHMARK-SHINGLE INDEX — distinct (b_id, sh) word-3-shingle
    * rows of the fixed benchmark slice, committed once per benchmark-content
    * fingerprint (the g49 SnapshotTable freshness discipline) and read back
    * by every contamination query. The fingerprint scan is the benchmark
    * slice only (doc_id < K pushes down to the parquet scan), so serving a
    * 100 TB corpus costs one tiny index read + the corpus-side scan — the
    * benchmark is never re-tokenized per query, and nothing about the probe
    * side grows with the pool. */
  private def benchShingleIndex(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val bdocs = Tables(s, dir).documents.filter(col("doc_id") < BenchmarkK)
    val idxRoot = Tables.scratch("benchidx", dir)
    val fingerprint = Tables.contentFingerprint(bdocs, s"benchidx:$idxRoot")(col("text"))
    graft.sources.SnapshotTable.readFresh(s, idxRoot, fingerprint)(
      shingles(bdocs).select(col("doc_id").as("b_id"), col("sh")).coalesce(1))
  }

  /** One (doc_id, sh) row per distinct word 3-shingle of each ≥3-token doc. */
  private def shingles(docs: org.apache.spark.sql.DataFrame) =
    TF.shingleSets(docs, col("doc_id")).select(col("doc_id"), explode(col("sh")).as("sh"))

  val queries: Seq[(String, QFn)] = Seq(
    // G17: benchmark contamination — which training docs share word
    // 3-shingles with the held-out FIXED benchmark slice (doc_id < 50)?
    // The benchmark shingles come from the persisted index and broadcast;
    // the corpus side never shuffles. Match volume is bounded by the
    // benchmark's shingle vocabulary — constant as the corpus grows.
    "g17_contamination_ngram" -> ((s, dir) => {
      val t = Tables(s, dir)
      val bench = benchShingleIndex(s, dir).select(col("sh")).distinct()
      shingles(t.documents.filter(col("doc_id") >= BenchmarkK))
        .join(broadcast(bench), "sh")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("sh")).as("n_shared"))
        .orderBy("doc_id")
    }),

    // G27: the same contamination check with a BLOOM PREFILTER — the shape
    // that wins at 100 TB. bloom_sketch over the benchmark shingles
    // (2^20 bits / 5 hashes ≈ 0.6% fpp at 50k items) materializes ONE
    // 128 KiB blob on the driver — the same scalar-subquery shape Spark's
    // own runtime bloom-filter injection uses — and probes every corpus
    // shingle scan-side as a codegen'd LITERAL filter, so non-members drop
    // BEFORE the join; the exact broadcast semi-join then removes the false
    // positives, making the result identical to g17's (no false negatives)
    // — hence the same oracle. (Riding the blob in as a broadcast join row
    // instead re-materializes the 128 KiB binary per probe row: measured
    // 10× slower at sf0.1 — see BloomSketch.containsColumn.)
    "g27_contamination_bloom" -> ((s, dir) => {
      val t = Tables(s, dir)
      val bench = benchShingleIndex(s, dir).select(col("sh")).distinct()
      val blob = bench.agg(expr("bloom_sketch(sh, 1048576, 5)").as("bsk"))
        .head().getAs[Array[Byte]](0)
      shingles(t.documents.filter(col("doc_id") >= BenchmarkK))
        .filter(graft.functions.BloomSketch.containsColumn(blob, col("sh")))
        .join(broadcast(bench), "sh")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("sh")).as("n_shared"))
        .orderBy("doc_id")
    }),

    // G18: deterministic stratified sampling — top ceil(20%) of each lang
    // stratum ranked by md5(doc_id), so the sample is stable across engines,
    // partitionings, and reruns (no RNG involved).
    "g18_stratified_sample" -> ((s, dir) => {
      val t = Tables(s, dir)
      val w = Window.partitionBy(col("lang")).orderBy(col("k"), col("doc_id"))
      val cw = Window.partitionBy(col("lang"))
      t.documents
        .withColumn("k", md5(col("doc_id").cast("string")))
        .withColumn("rn", row_number().over(w))
        .withColumn("n_stratum", count(lit(1)).over(cw))
        .filter(col("rn") <= ceil(col("n_stratum") * 0.2))
        .select(col("doc_id"), col("lang"), col("rn").as("pick_rank"))
        .orderBy("lang", "pick_rank")
    }),

    // G28: deterministic WEIGHTED sampling (Efraimidis–Spirakis A-ES) — the
    // training-data-mixing primitive: sample documents with probability
    // proportional to token count. Each doc draws u from its md5 (13 hex
    // chars → 52-bit uniform, identical in both engines), and the k
    // smallest -ln(u)/w win — one scan + a TakeOrdered top-k, no RNG, no
    // global shuffle; reruns and engines agree exactly. Rank is computed
    // AFTER the limit, so the window only ever sees k rows.
    "g28_weighted_sample" -> ((s, dir) => {
      val t = Tables(s, dir)
      val w = Window.orderBy("es_key", "doc_id")
      t.documents
        .withColumn("n_toks", size(TF.tokens(col("text"))))
        .withColumn("u",
          (expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 13), 16, 10) AS DOUBLE)")
            + lit(0.5)) / lit(4503599627370496.0))
        .withColumn("es_key", -log(col("u")) / col("n_toks"))
        .orderBy("es_key", "doc_id").limit(50)
        .withColumn("pick_rank", row_number().over(w))
        .select(col("doc_id"), col("lang"), col("n_toks"), col("pick_rank"))
        .orderBy("pick_rank")
    }),

    // G19: regex redaction — digit runs become <NUM>, 12+-letter words
    // become <LONG>; per-doc match counts alongside a redacted preview.
    "g19_text_redaction" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.documents.select(
          col("doc_id"),
          substring(
            regexp_replace(regexp_replace(col("text"), "[0-9]+", "<NUM>"),
              "[a-zA-Z]{12,}", "<LONG>"), 1, 80).as("red80"),
          regexp_count(col("text"), lit("[0-9]+")).as("n_num"),
          regexp_count(col("text"), lit("[a-zA-Z]{12,}")).as("n_long"))
        .orderBy("doc_id")
    }),

    // G20: sliding-window chunking — 16-token chunks with stride 12 (4-token
    // overlap), one output row per chunk with its token span.
    "g20_doc_chunking" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.documents
        .withColumn("toks", TF.tokens(col("text")))
        .withColumn("st", explode(expr("sequence(1, size(toks), 12)")))
        .select(col("doc_id"),
          expr("CAST((st - 1) DIV 12 AS BIGINT)").as("chunk_id"),
          size(expr("slice(toks, st, 16)")).as("n_toks"),
          concat_ws(" ", expr("slice(toks, st, 16)")).as("chunk"))
        .orderBy("doc_id", "chunk_id")
    }),

    // G21: symmetric int8 quantization of embeddings — per-vector scale
    // max|x|/127, nearest-int via floor(x/scale + 0.5) (identical rounding on
    // both engines, unlike round()'s dialect-specific half cases); reports
    // the L2 reconstruction error and the saturated-component count.
    "g21_embed_quantize" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.embeddings
        .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
        .withColumn("mx", expr("array_max(transform(v, x -> abs(x)))"))
        .filter(col("mx") > 0)
        .select(col("vec_id"), col("label"),
          round(col("mx") / 127.0, 9).as("scale_r"),
          round(sqrt(expr(
            "aggregate(v, 0D, (a, x) -> a + pow(x - floor(x / (mx / 127.0) + 0.5) * (mx / 127.0), 2))")), 6)
            .as("qerr"),
          expr("CAST(aggregate(v, 0, (a, x) -> a + (CASE WHEN abs(floor(x / (mx / 127.0) + 0.5)) >= 127 THEN 1 ELSE 0 END)) AS INT)")
            .as("n_sat"))
        .orderBy("vec_id")
    }),

    // G22: intra-document repetition — share of repeated word 3-grams, the
    // standard pretraining quality signal for boilerplate/spam (a high
    // ratio means the document repeats itself). Narrow per-row array
    // transform, codegen'd, shuffle-free.
    "g22_repetition_ratio" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.documents
        .withColumn("toks", TF.tokens(lower(col("text"))))
        .filter(size(col("toks")) >= 3)
        .withColumn("tris",
          expr("transform(sequence(1, size(toks) - 2), i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1]))"))
        .select(col("doc_id"),
          size(col("tris")).as("n_tri"),
          size(array_distinct(col("tris"))).as("n_uniq"))
        .withColumn("rep_ratio",
          round(lit(1.0) - col("n_uniq").cast("double") / col("n_tri"), 6))
        .withColumn("bucket",
          when(col("rep_ratio") >= 0.5, "high")
            .when(col("rep_ratio") >= 0.2, "medium")
            .otherwise("low"))
        .orderBy("doc_id")
    }),

    // G23: token-budget sequence packing — stream documents (per source, in
    // doc_id order) into training sequences cut at a 256-token budget: a
    // doc starts a new sequence when the running total before it crosses
    // the next budget boundary. The window is PARTITIONED (one shuffle on
    // source), which is the shape that scales — a 100 TB job packs within
    // shards exactly like this, never through one global cumsum.
    "g23_seq_packing" -> ((s, dir) => {
      val t = Tables(s, dir)
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      t.documents
        .withColumn("n_toks", size(TF.tokens(col("text"))).cast("long"))
        .withColumn("cum_excl", coalesce(sum(col("n_toks")).over(w), lit(0L)))
        .withColumn("seq_id", expr("cum_excl DIV 256"))
        .groupBy(col("source"), col("seq_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("seq_toks"))
        .orderBy("source", "seq_id")
    }),

    // G29: link-authority scoring — weighted PageRank (3 rounds, d=0.85)
    // over the nation trade graph (customer nation → supplier nation,
    // weighted by lineitem count), the host/link-authority signal web-corpus
    // curation weights documents by. Iterated DataFrame joins
    // (plans/PageRank.scala); the oracle replays the same three rounds as
    // chained CTEs, so the query is fully value-checked.
    "g29_graph_pagerank" -> ((s, dir) => {
      val t = Tables(s, dir)
      val edges = t.lineitem
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .join(t.supplier, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
        .agg(count(lit(1)).cast("double").as("w"))
      graft.plans.PageRank.run(edges, iters = 3, damping = 0.85)
        .select(col("id"), round(col("pr"), 6).as("pr"))
        .orderBy("id")
    }),

    // G50: single-source shortest path (hop count) over the SPARSIFIED
    // nation trade graph — g29's edge derivation restricted to FORWARD
    // edges (supplier nation key above the customer's) and each source's 2
    // heaviest such partners (deterministic count-desc/dst ranking), then
    // distributed Bellman-Ford relaxation from nation 0
    // (plans/ShortestPath.scala) — a 5-level DAG at every SF.
    // Graph-distance-to-seed is the curation signal link-graph corpus
    // filters use ("within k hops of a trusted seed set"). The per-src
    // row_number partitions by src (no global single-partition window);
    // the relaxation rounds are the data-scale part — one shuffle each.
    // Oracle: recursive-CTE BFS over the identical edge set.
    "g50_graph_shortest_path" -> ((s, dir) => {
      val t = Tables(s, dir)
      val trade = t.lineitem
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .join(t.supplier, col("l_suppkey") === col("s_suppkey"))
        .filter(col("s_nationkey") > col("c_nationkey"))
        .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
        .agg(count(lit(1)).as("cnt"))
      val topE = trade
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("src")).orderBy(col("cnt").desc, col("dst"))))
        .filter(col("rn") <= 2)
        .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      graft.plans.ShortestPath.hops(topE, source = 0L)
        .orderBy("id")
    }),

    // G61: K-CORE decomposition (k = 3) over the nation trade graph — the
    // density dual of g24's components: "who is in a densely cross-linked
    // cluster", the signal that separates a boilerplate/mirror FAMILY from
    // an isolated duplicate pair on a dedup graph, and here the tightly
    // coupled trading bloc. Edge set is deterministic at every SF: the 50
    // heaviest undirected trade pairs (count desc, then u, v). Iterative
    // peeling in plans/KCore.scala — degree aggregate + two semi-joins per
    // round, edge set only shrinks, fixpoint = the unique k-core (removal-
    // order independent). Fully oracle-backed despite being iterative: the
    // node set is ≤ 25 nations, so 26 UNROLLED peel rounds provably reach
    // the fixpoint (every non-stationary round removes ≥ 1 node), and
    // peeling past the fixpoint is a no-op — the oracle is a generated
    // 26-CTE chain, the same unrolling discipline as the SGD oracle.
    // KCoreSpec additionally proves the result equals an independent
    // in-memory reference peeling on both a crafted graph and this edge set.
    "g61_graph_kcore" -> ((s, dir) => {
      val t = Tables(s, dir)
      val trade = t.lineitem
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .join(t.supplier, col("l_suppkey") === col("s_suppkey"))
        .filter(col("c_nationkey") =!= col("s_nationkey"))
        .groupBy(least(col("c_nationkey"), col("s_nationkey")).as("u"),
          greatest(col("c_nationkey"), col("s_nationkey")).as("v"))
        .agg(count(lit(1)).as("cnt"))
      val top = trade.orderBy(col("cnt").desc, col("u"), col("v")).limit(50)
        .select(col("u").cast("long").as("u"), col("v").cast("long").as("v"))
      graft.plans.KCore.core(top, k = 3).orderBy("id")
    }),

    // G30: fuzzy near-dup pairs by edit distance — levenshtein over 20-char
    // prefixes, through the DE-SKEWED blocking of FuzzyBlocking: composite
    // (4-char prefix, length band) block key with per-block cap + salting,
    // so one hot prefix ("the ", "http", boilerplate) can never put a
    // quadratic block on a single reducer at web scale. The pair set is
    // identical to plain prefix blocking (length banding only removes pairs
    // the dist ≤ 4 filter would drop anyway; salting only reshapes the
    // shuffle), so the oracle replays the plain blocked join.
    "g30_fuzzy_pairs" -> ((s, dir) => {
      val t = Tables(s, dir)
      val docs = t.documents.select(col("doc_id"), substring(col("text"), 1, 20).as("p"))
      FuzzyBlocking.pairs(docs, "doc_id", "p", k = 4,
          dist = (a, b) => levenshtein(a, b))
        .orderBy("doc_a", "doc_b")
    }),

    // G30b: the same fuzzy pairs through the BANDED native kernel —
    // `lev_bounded(a, b, 4)` (custom codegen Catalyst Expression,
    // functions/LevBounded.scala) evaluates only the 9-wide DP diagonal
    // with early exit, O(k·n) vs O(n²), and equals the unbounded distance
    // whenever it is within the bound — so the output (and oracle) are
    // identical to g30's. Same de-skewed FuzzyBlocking join shape; this is
    // the kernel + blocking a 100 TB fuzzy dedup actually runs.
    "g30b_fuzzy_pairs_banded" -> ((s, dir) => {
      val t = Tables(s, dir)
      val docs = t.documents.select(col("doc_id"), substring(col("text"), 1, 20).as("p"))
      import org.apache.spark.sql.classic.GraftSqlBridge
      FuzzyBlocking.pairs(docs, "doc_id", "p", k = 4,
          dist = (a, b) => GraftSqlBridge.column(graft.functions.LevBounded(
            GraftSqlBridge.expression(a), GraftSqlBridge.expression(b),
            org.apache.spark.sql.catalyst.expressions.Literal(4))))
        .orderBy("doc_a", "doc_b")
    }),

    // G31: deterministic train/val/test split — the md5 first byte places
    // every document in a stable ~80/10/10 split (< 0xcc train, < 0xe6 val,
    // else test) independent of partitioning, input order, engine, or rerun;
    // adding documents never reassigns existing ones. Reported per
    // (split, lang) with token mass, the mixing table a training run reads.
    "g31_split_assign" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.documents
        .withColumn("h", substring(md5(col("doc_id").cast("string")), 1, 2))
        .withColumn("split",
          when(col("h") < "cc", "train").when(col("h") < "e6", "val").otherwise("test"))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars_total"))
        .orderBy("split", "lang")
    }),

    // G35: distributed BPE merge learning — the tokenizer-training prep an
    // LLM corpus pipeline runs before anything else. Classic trainer shape:
    // ONE corpus-wide shuffle builds the word-frequency vocab, then every
    // merge round operates on the (orders-of-magnitude smaller) vocab
    // table: pair-count weighted by word frequency, global argmax (exactly
    // ONE row to the driver per round — the g27 bloom-literal idiom), fold
    // the merge back as a literal string replace. At 100 TB the corpus is
    // touched once; rounds cost one vocab-table aggregation each.
    //
    // Symbol encoding: every symbol owns BOTH its delimiters — 'low' is
    // '|l||o||w|' — so the merge replace('|a||b|','|ab|') can never match
    // across symbol boundaries and consecutive occurrences share no
    // characters (left-to-right non-overlapping replace is then exact, and
    // Spark's replace() and DuckDB's replace() agree by construction).
    // Ties break lexicographically: fully deterministic across
    // partitionings, engines and reruns.
    "g35_bpe_merges" -> ((s, dir) => {
      val t = Tables(s, dir)
      BpeMerges.learnDF(s, t.documents
        .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w")),
        rounds = 3)
    }),

    // G36: BPE ENCODE — the apply side of g35. The learned merges are a
    // handful of driver literals folded into ONE codegen replace chain, so
    // encoding is a narrow per-row map over the scan: no join, no shuffle
    // until the per-doc rollup. Reports per-document compression
    // (chars -> BPE symbols after 3 merges), the sequence-length signal a
    // token-budgeted pipeline feeds into packing (g23) and sampling.
    "g36_bpe_encode" -> ((s, dir) => {
      val t = Tables(s, dir)
      val words = t.documents
        .select(col("doc_id"),
          explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
      val merges = BpeMerges.learn(words.select("w"), rounds = 3)
      BpeMerges.encodeTokenCount(words, merges)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum(length(col("w"))).cast("long").as("n_chars"),
          sum(col("n_tok")).cast("long").as("n_bpe_tok"))
        .orderBy("doc_id")
    }),

    // G70: tokenizer FERTILITY by language — the tokenizer-equity metric a
    // multilingual pipeline reports before committing to a vocabulary: how
    // many BPE tokens the learned merges spend per word (fertility) and how
    // many characters each token carries (compression), per language. A
    // vocab trained on the majority language fragments the others; this is
    // the table that shows it. Same plan shape as g36 (merges learned once
    // — driver literals — then ONE codegen replace chain per row, no join),
    // rolled up by lang instead of doc. The two ratios are each ONE IEEE
    // division of exact <2^53 integer sums (the g58 discipline), so
    // round(·, 6) is bit-stable against the oracle.
    "g70_tokenizer_fertility" -> ((s, dir) => {
      val t = Tables(s, dir)
      val words = t.documents
        .select(col("lang"),
          explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
      val merges = BpeMerges.learn(words.select("w"), rounds = 3)
      BpeMerges.encodeTokenCount(words, merges)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_words"),
          sum(length(col("w"))).cast("long").as("n_chars"),
          sum(col("n_tok")).cast("long").as("n_bpe_tok"))
        .select(col("lang"), col("n_words"), col("n_chars"), col("n_bpe_tok"),
          round(col("n_bpe_tok").cast("double") / col("n_words"), 6).as("fertility"),
          round(col("n_chars").cast("double") / col("n_bpe_tok"), 6).as("chars_per_tok"))
        .orderBy("lang")
    }),

    // G47: exact repeated-SPAN detection — the substring-dedup signal
    // (find maximal runs of word 5-grams that occur more than once anywhere
    // in the corpus, the memorization-risk metric substring dedup removes).
    // Shape: one posexplode into (doc, pos, 5-gram) → ONE gram-keyed window
    // count tags every occurrence with its corpus-wide frequency (the
    // count-then-join-back formulation costs a second gram shuffle for the
    // same answer) → per-doc gaps-and-islands (pos - row_number) merges
    // consecutive repeated starts into maximal spans. At 100 TB the gram
    // column is a 64-bit hash instead of the string (collision odds
    // ~n²/2⁶⁴; the string form here keeps the oracle exact) and the islands
    // window partitions by doc — bounded by document length, never
    // corpus-wide.
    "g47_repeated_spans" -> ((s, dir) => {
      val t = Tables(s, dir)
      val k = 5
      val grams = t.documents
        .withColumn("toks", TF.tokens(lower(col("text"))))
        .filter(size(col("toks")) >= k)
        .select(col("doc_id"),
          posexplode(expr(s"transform(sequence(1, size(toks) - ${k - 1}), " +
            s"i -> concat_ws(' ', slice(toks, i, $k)))")))
        .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("gram"))
      val hits = grams
        .withColumn("n_occ", count(lit(1)).over(Window.partitionBy("gram")))
        .filter(col("n_occ") >= 2).select("doc_id", "pos")
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val spans = hits
        .withColumn("grp", col("pos") - row_number().over(w))
        .groupBy(col("doc_id"), col("grp"))
        .agg((max(col("pos")) - min(col("pos")) + lit(k)).cast("long").as("span_toks"))
      spans.groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"),
          sum(col("span_toks")).as("covered_toks"),
          max(col("span_toks")).as("max_span"))
        .orderBy("doc_id")
    }),

    // G48: quality-classifier TRAINING — 3 rounds of full-batch gradient
    // descent on a linear model (is this doc from the curated source?),
    // the fastText-style quality-filter step of a corpus pipeline, run as
    // pure DataFrame aggregation. Determinism is the whole design: features
    // (token count, stopword count) and the label are integers, weights
    // live in integer MICROS, and each round's gradient is an exact BIGINT
    // sum — so there is no floating-point accumulation anywhere and the
    // model replays bit-for-bit on any partitioning and any engine (the
    // oracle chains the same three rounds as CTEs). Per round exactly ONE
    // aggregate row reaches the driver (the model state — same contract as
    // g40's k-means centroids); the corpus is never collected. The integer
    // step uses sign(g)·(|g| div (n·10⁴)) so both engines' division
    // semantics agree by construction.
    "g48_quality_gd" -> ((s, dir) => {
      val t = Tables(s, dir)
      val feat = t.documents
        .withColumn("toks", TF.tokens(lower(col("text"))))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("x1"),
          expr("size(filter(toks, t -> t IN ('the','and','of','a','in')))")
            .cast("long").as("x2"),
          when(col("source") === "src0", 1L).otherwise(0L).as("y"))
      val w = Array(0L, 0L, 0L)
      val lrDen = 10000L
      for (_ <- 1 to 3) {
        val err = lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2") -
          lit(1000000L) * col("y")
        val r = feat.agg(sum(err).as("g0"), sum(err * col("x1")).as("g1"),
          sum(err * col("x2")).as("g2"), count(lit(1)).as("n")).head()
        val n = r.getLong(3)
        for (j <- 0 until 3) {
          val g = r.getLong(j)
          w(j) = w(j) - java.lang.Long.signum(g) * (math.abs(g) / (n * lrDen))
        }
      }
      val score = lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2")
      feat.select(col("doc_id"), score.as("score_micro"), col("y").as("label"),
          when(score >= 500000L, 1).otherwise(0).as("pred"))
        .orderBy("doc_id")
    }),

    // G56: SUBSTRING DEDUP — the REMOVE step g47 only detects (ExactSubstr-
    // style: Lee et al. 2022 drop every duplicated span from all but its
    // first occurrence, rather than dropping whole documents). An occurrence
    // (doc, pos) of a word 5-gram is a duplicate iff it is not the gram's
    // corpus-first occurrence under (doc_id, pos) order; every token covered
    // by a duplicate occurrence is removed and the document reassembled from
    // the survivors in order. Shape: gram table → ONE gram-keyed window
    // (row_number over (doc_id, pos)) marks non-first occurrences → covered
    // token positions explode (≤ k per duplicate) → the full token table
    // LEFT-joins the covered set on (doc, pos) and each doc reassembles with
    // a bounded per-doc sort (array_sort over its own tokens, never a global
    // one). At 100 TB: the gram key crosses the exchange as xxhash64, and
    // hot grams (boilerplate) skew the row_number sort — the first
    // occurrence is then taken as a min-struct aggregate + join-back, which
    // needs no per-gram sort; the window form here keeps the oracle 1:1.
    "g56_substring_dedup" -> ((s, dir) => {
      val t = Tables(s, dir)
      val k = 5
      val toks = t.documents.withColumn("toks", TF.tokens(lower(col("text"))))
      val grams = toks.filter(size(col("toks")) >= k)
        .select(col("doc_id"), posexplode(expr(
          s"transform(sequence(1, size(toks) - ${k - 1}), " +
            s"i -> concat_ws(' ', slice(toks, i, $k)))")))
        .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("gram"))
      val wg = Window.partitionBy("gram").orderBy("doc_id", "pos")
      val dups = grams.withColumn("rn", row_number().over(wg)).filter(col("rn") >= 2)
      val cov = dups
        .select(col("doc_id"), explode(expr(s"sequence(pos, pos + ${k - 1})")).as("tp"))
        .distinct()
      val tokPos = toks
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"),
          posexplode(col("toks")))
        .select(col("doc_id"), col("n_toks"), (col("pos") + 1).as("tp"), col("col").as("tok"))
      tokPos.join(cov.withColumn("c", lit(1)), Seq("doc_id", "tp"), "left")
        .groupBy(col("doc_id"))
        .agg(max(col("n_toks")).as("n_toks"),
          sum(when(col("c").isNull, 1L).otherwise(0L)).as("n_kept"),
          concat_ws(" ", expr(
            "transform(array_sort(collect_list(" +
              "CASE WHEN c IS NULL THEN struct(tp, tok) END)), x -> x.tok)"))
            .as("clean_text"))
        .orderBy("doc_id")
    }),

    // G60: CONTAINMENT contamination scoring — the per-PAIR refinement of
    // g17's shared-count flag: containment C(b, d) = |sh(b) ∩ sh(d)| / |sh(b)|
    // is the asymmetric measure that catches a benchmark item EMBEDDED in a
    // much larger training doc, where symmetric Jaccard (g2) stays near 0
    // because the union is huge. The ≥30% gate compares 10·inter ≥ 3·|b| in
    // exact integers; the reported score is one IEEE division of those two
    // ints. Shape: distinct shingles once, benchmark side broadcast, the
    // pair aggregation keyed by (benchmark, doc) — at 100 TB hot shingles
    // (stopword runs) are the skew risk and get the g53 treatment (rarity
    // prefix) or a df cap; the fixture's vocabulary doesn't need it.
    "g60_containment_contamination" -> ((s, dir) => {
      val t = Tables(s, dir)
      val bench = benchShingleIndex(s, dir)
      val bSize = bench.groupBy("b_id").agg(count(lit(1)).as("b_size"))
      val corpus = shingles(t.documents.filter(col("doc_id") >= BenchmarkK))
      corpus.join(broadcast(bench), "sh")
        .groupBy(col("b_id"), col("doc_id"))
        .agg(count(lit(1)).as("inter"))
        .join(broadcast(bSize), "b_id")
        .filter(col("inter") * 10 >= col("b_size") * 3)
        .select(col("b_id"), col("doc_id"), col("inter"), col("b_size"),
          (col("inter").cast("double") / col("b_size").cast("double")).as("containment"))
        .orderBy("b_id", "doc_id")
    }),

    // G59: SEEDED CORPUS SHUFFLE + SHARDING — the "globally shuffle the
    // training data, then write fixed shards" step every pretraining run
    // needs. A global sort-by-random would be a full-corpus range exchange;
    // instead each doc gets a deterministic pseudo-random key (Knuth
    // multiplicative hash of doc_id + seed — chosen over xxhash64 so the
    // oracle can replay it; both are uniform enough for load balance),
    // shard = key mod 8 (ONE hash shuffle, no global ordering), and the
    // within-shard position is a window bounded by shard size. At 100 TB
    // you raise the shard count until a shard is one output file — the
    // window never exceeds a file's rows and shards write in parallel.
    // Changing the seed reshuffles everything; same seed replays exactly
    // (the reproducibility contract for a training run).
    "g59_corpus_shuffle_shard" -> ((s, dir) => {
      val t = Tables(s, dir)
      val seed = 42L
      val nShards = 8
      val keyed = t.documents
        .select(col("doc_id"),
          pmod(col("doc_id") * lit(2654435761L) + lit(seed), lit(4294967296L)).as("h"))
        .withColumn("shard", pmod(col("h"), lit(nShards.toLong)))
      val w = Window.partitionBy("shard").orderBy("h", "doc_id")
      keyed.withColumn("pos", row_number().over(w).cast("long"))
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy("shard", "pos")
    }),

    // G57: per-document N-GRAM NOVELTY — the curation-ordering metric: what
    // fraction of a doc's distinct word 5-grams appear here for the FIRST
    // time in corpus order (min doc_id)? Low-novelty docs are boilerplate /
    // templated content worth downsampling even when no single pair crosses
    // a dedup threshold (g2/g54 are pairwise; this is corpus-cumulative).
    // Shape: distinct (doc, gram) pairs → ONE gram-keyed window tags each
    // pair with the corpus-wide first doc (same single-shuffle formulation
    // as g47; the aggregate-then-join-back spelling pays a second gram
    // shuffle for the same answer) → per-doc counts. The novelty ratio is
    // one division of two exact BIGINTs, so it replays bit-for-bit on any
    // engine. At 100 TB the gram crosses the exchange as xxhash64 (8 bytes,
    // collision odds ~n²/2⁶⁴); the string form here keeps the oracle exact.
    "g57_ngram_novelty" -> ((s, dir) => {
      val t = Tables(s, dir)
      val k = 5
      val pairs = t.documents
        .withColumn("toks", TF.tokens(lower(col("text"))))
        .filter(size(col("toks")) >= k)
        .select(col("doc_id"), explode(array_distinct(expr(
          s"transform(sequence(1, size(toks) - ${k - 1}), " +
            s"i -> concat_ws(' ', slice(toks, i, $k)))"))).as("gram"))
      val firstDoc = min(col("doc_id")).over(Window.partitionBy("gram"))
      pairs.withColumn("first_doc", firstDoc)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
        .withColumn("novelty", col("n_novel").cast("double") / col("n_grams"))
        .orderBy("doc_id")
    }),

    // G67: CORPUS DATASHEET — the per-source "dataset card" row a corpus
    // release publishes: document count, language spread, token volume,
    // exact median length, short-doc share. One map-side-combined groupBy
    // over the corpus (the exact median is the one sort-based aggregate;
    // the d14 histogram sketch is its 100 TB stand-in, same join shape).
    "g67_corpus_datasheet" -> ((s, dir) => {
      val t = Tables(s, dir)
      t.documents.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          sum(expr("n_chars div 4")).as("total_toks"),
          median(col("n_chars")).as("med_chars"),
          round(sum(when(col("n_chars") < 150, 1L).otherwise(0L)).cast("double") /
            count(lit(1)).cast("double"), 6).as("short_share"))
        .orderBy("source")
    }),

    // G66: SPAN-CORRUPTION OBJECTIVE PREP (T5-style denoising) — turn each
    // document into (corrupted input, target) training pairs: tokens group
    // into 3-token spans, a deterministic integer rule (Knuth-hash of
    // (span_id, doc_id) mod 20 < 3 ≈ 15%) selects mask spans, each masked
    // span is replaced by an incrementing <extra_id_k> sentinel in the
    // input and emitted after its sentinel in the target — the exact
    // objective-construction pass a denoising pretraining run executes over
    // the corpus. Everything is integer arithmetic + ordered string
    // aggregation, so the pairs are bit-reproducible and fully
    // oracle-backed. Scale shape: one narrow explode, one (doc, span)
    // aggregation, one per-doc window + ordered listagg — two shuffles on
    // doc_id, nothing quadratic, no state beyond the rows.
    "g66_span_corruption" -> ((s, dir) => {
      val t = Tables(s, dir)
      val tk = t.documents
        .select(col("doc_id"), posexplode(TF.tokens(lower(col("text")))).as(Seq("pos", "tok")))
      val sp = tk.withColumn("span_id", expr("pos div 3"))
        .groupBy(col("doc_id"), col("span_id"))
        .agg(expr("listagg(tok, ' ') WITHIN GROUP (ORDER BY pos)").as("span_text"))
        .withColumn("masked",
          (col("span_id") * lit(2654435761L) + col("doc_id")) % 20 < 3)
      val w = Window.partitionBy(col("doc_id")).orderBy(col("span_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val nb = sp.withColumn("sent_id",
        sum(when(col("masked"), 1L).otherwise(0L)).over(w) - 1)
      nb.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("masked"), 1L).otherwise(0L)).as("n_masked"),
          expr("listagg(CASE WHEN masked THEN concat('<extra_id_', CAST(sent_id AS STRING), '>') " +
            "ELSE span_text END, ' ') WITHIN GROUP (ORDER BY span_id)").as("corrupted"),
          coalesce(expr("listagg(CASE WHEN masked THEN concat('<extra_id_', CAST(sent_id AS STRING), '> ', span_text) " +
            "END, ' ') WITHIN GROUP (ORDER BY span_id)"), lit("")).as("target"))
        .orderBy("doc_id")
    }),

    // G74: HYBRID RETRIEVAL with RECIPROCAL RANK FUSION — the serving shape
    // every RAG stack runs: a lexical leg (g58's deterministic BM25 over
    // 3 query terms) and a semantic leg (exact cosine against doc 0's
    // embedding, doc_id == vec_id per g10's linkage) each produce a top-20
    // ranked list, fused by RRF: score = Σ_legs 1/(60 + rank), missing legs
    // contribute 0 (Cormack et al.'s k=60). Rank-based fusion needs no
    // score calibration between legs — exactly why production systems use
    // it — and makes the oracle trivial: ranks are integers, each
    // reciprocal is ONE IEEE division, and the 2-term sum is written in
    // fixed (lex + vec) order. Scale shape at 100 TB: each leg is its own
    // top-k (the BM25 leg never scans docs without a query term, the
    // vector leg is the ANN family's job — g71 drops in for the exact
    // scan here); the fusion is a 20∪20-row full-outer join — driver-free,
    // metadata-scale.
    "g74_hybrid_rrf" -> ((s, dir) => {
      val t = Tables(s, dir)
      // lexical leg — g58's BM25, cut to a ranked top-20. Top-k FIRST
      // (parallel TakeOrdered), the rank window only ever sees the 20
      // surviving rows — never a global window over the corpus
      val wLex = Window.orderBy(col("score").desc, col("doc_id"))
      val lex = TextQueries.bm25(t.documents, Seq("spark", "merge", "vector"))
        .orderBy(col("score").desc, col("doc_id")).limit(20)
        .withColumn("rank_lex", row_number().over(wLex))
        .select("doc_id", "rank_lex")
      // semantic leg — exact cosine top-20 vs doc 0's embedding
      val wVec = Window.orderBy(col("cos").desc, col("doc_id"))
      val vec = Ann.exactTopK(t.embeddings.filter(col("vec_id") =!= 0),
          Ann.queryVec(t), 20)
        .select(col("vec_id").as("doc_id"), col("cos"))
        .withColumn("rank_vec", row_number().over(wVec))
        .select("doc_id", "rank_vec")
      // RRF fusion: fixed lex + vec order, absent legs contribute 0
      lex.join(vec, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("rank_lex"), lit(0)).as("rank_lex"),
          coalesce(col("rank_vec"), lit(0)).as("rank_vec"),
          round(
            coalesce(lit(1.0) / (lit(60) + col("rank_lex")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60) + col("rank_vec")), lit(0.0)), 6).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(10)
    })
  )

  val oracles: Seq[(String, String)] = Seq(
    // iterative k-core peeling, UNROLLED: each round keeps edges whose both
    // endpoints have symmetrized degree >= 3 in the previous round. The
    // graph has <= 25 nodes (nations), every non-stationary round removes
    // at least one node, and rounds past the fixpoint are no-ops — so 26
    // rounds provably compute the exact fixpoint the engine iterates to.
    "g61_graph_kcore" -> {
      // AS MATERIALIZED is load-bearing: each round references its
      // predecessor three times, and inlined CTEs would re-execute the
      // whole chain per reference (3^26 scans)
      val rounds = (1 to 26).map(i =>
        s"k$i AS MATERIALIZED (SELECT u FROM e${i - 1} GROUP BY u " +
          "HAVING count(*) >= 3), " +
          s"e$i AS MATERIALIZED (SELECT u, v FROM e${i - 1} " +
          s"WHERE u IN (SELECT u FROM k$i) AND v IN (SELECT u FROM k$i))")
        .mkString(", ")
      "WITH trade AS (SELECT least(c_nationkey, s_nationkey) AS lu, " +
        "greatest(c_nationkey, s_nationkey) AS lv, count(*) AS cnt " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "WHERE c_nationkey <> s_nationkey GROUP BY 1, 2), " +
        "top AS (SELECT CAST(lu AS BIGINT) AS u, CAST(lv AS BIGINT) AS v " +
        "FROM trade ORDER BY cnt DESC, lu, lv LIMIT 50), " +
        "e0 AS MATERIALIZED (SELECT u, v FROM top " +
        "UNION SELECT v AS u, u AS v FROM top), " +
        rounds + " " +
        "SELECT u AS id, count(*) AS core_deg FROM e26 GROUP BY u ORDER BY id"
    },

    "g17_contamination_ngram" ->
      ("WITH sh AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
        "range(1, greatest(len(toks) - 2, 0) + 1), " +
        "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS sh " +
        "FROM (SELECT doc_id, str_split(lower(text), ' ') AS toks FROM documents) " +
        "WHERE len(toks) >= 3), " +
        "bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 50) " +
        "SELECT s.doc_id AS doc_id, count(DISTINCT s.sh) AS n_shared " +
        "FROM sh s JOIN bench b ON s.sh = b.sh WHERE s.doc_id >= 50 " +
        "GROUP BY s.doc_id ORDER BY doc_id"),

    // identical result to g17 by construction: the bloom prefilter has no
    // false negatives and the exact join removes its false positives
    "g27_contamination_bloom" ->
      ("WITH sh AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
        "range(1, greatest(len(toks) - 2, 0) + 1), " +
        "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS sh " +
        "FROM (SELECT doc_id, str_split(lower(text), ' ') AS toks FROM documents) " +
        "WHERE len(toks) >= 3), " +
        "bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 50) " +
        "SELECT s.doc_id AS doc_id, count(DISTINCT s.sh) AS n_shared " +
        "FROM sh s JOIN bench b ON s.sh = b.sh WHERE s.doc_id >= 50 " +
        "GROUP BY s.doc_id ORDER BY doc_id"),

    "g18_stratified_sample" ->
      ("SELECT doc_id, lang, rn AS pick_rank FROM (" +
        "SELECT doc_id, lang, " +
        "row_number() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn, " +
        "count(*) OVER (PARTITION BY lang) AS n_stratum FROM documents) " +
        "WHERE rn <= ceil(n_stratum * 0.2) ORDER BY lang, pick_rank"),

    "g28_weighted_sample" ->
      ("SELECT doc_id, lang, n_toks, " +
        "CAST(row_number() OVER (ORDER BY es_key, doc_id) AS INT) AS pick_rank FROM (" +
        "SELECT doc_id, lang, n_toks, -ln(u) / n_toks AS es_key FROM (" +
        "SELECT doc_id, lang, len(str_split(text, ' ')) AS n_toks, " +
        "(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT) + 0.5) " +
        "/ 4503599627370496.0 AS u FROM documents) " +
        "ORDER BY es_key, doc_id LIMIT 50) ORDER BY pick_rank"),

    "g19_text_redaction" ->
      ("SELECT doc_id, substring(regexp_replace(" +
        "regexp_replace(text, '[0-9]+', '<NUM>', 'g'), " +
        "'[a-zA-Z]{12,}', '<LONG>', 'g'), 1, 80) AS red80, " +
        "len(regexp_extract_all(text, '[0-9]+')) AS n_num, " +
        "len(regexp_extract_all(text, '[a-zA-Z]{12,}')) AS n_long " +
        "FROM documents ORDER BY doc_id"),

    "g20_doc_chunking" ->
      ("SELECT doc_id, (st - 1) // 12 AS chunk_id, " +
        "len(list_slice(toks, st, least(st + 15, len(toks)))) AS n_toks, " +
        "array_to_string(list_slice(toks, st, least(st + 15, len(toks))), ' ') AS chunk " +
        "FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1, 12)) AS st " +
        "FROM (SELECT doc_id, str_split(text, ' ') AS toks FROM documents)) " +
        "ORDER BY doc_id, chunk_id"),

    "g21_embed_quantize" ->
      ("SELECT vec_id, label, round(mx / 127, 9) AS scale_r, " +
        "round(sqrt(list_sum(list_transform(v, " +
        "x -> pow(x - floor(x / (mx / 127) + 0.5) * (mx / 127), 2)))), 6) AS qerr, " +
        "CAST(list_sum(list_transform(v, " +
        "x -> CASE WHEN abs(floor(x / (mx / 127) + 0.5)) >= 127 THEN 1 ELSE 0 END)) AS INT) AS n_sat " +
        "FROM (SELECT vec_id, label, " +
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v, " +
        "list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx " +
        "FROM embeddings) WHERE mx > 0 ORDER BY vec_id"),

    "g22_repetition_ratio" ->
      ("SELECT doc_id, n_tri, n_uniq, rep_ratio, " +
        "CASE WHEN rep_ratio >= 0.5 THEN 'high' WHEN rep_ratio >= 0.2 THEN 'medium' " +
        "ELSE 'low' END AS bucket FROM (" +
        "SELECT doc_id, len(tris) AS n_tri, len(list_distinct(tris)) AS n_uniq, " +
        "round(1.0 - CAST(len(list_distinct(tris)) AS DOUBLE) / len(tris), 6) AS rep_ratio " +
        "FROM (SELECT doc_id, list_transform(range(1, len(toks) - 2 + 1), " +
        "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS tris " +
        "FROM (SELECT doc_id, str_split(lower(text), ' ') AS toks FROM documents) " +
        "WHERE len(toks) >= 3)) ORDER BY doc_id"),

    "g23_seq_packing" ->
      ("SELECT source, seq_id, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS seq_toks " +
        "FROM (SELECT source, doc_id, n_toks, " +
        "CAST(COALESCE(sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 256 AS BIGINT) AS seq_id " +
        "FROM (SELECT source, doc_id, len(str_split(text, ' ')) AS n_toks FROM documents)) " +
        "GROUP BY source, seq_id ORDER BY source, seq_id"),

    // three PageRank rounds replayed as chained CTEs; per-edge transition
    // probability normalized by the source's out-mass exactly as the
    // DataFrame loop computes it, rounded only at the end
    "g29_graph_pagerank" ->
      ("WITH e AS (SELECT c_nationkey AS src, s_nationkey AS dst, " +
        "CAST(count(*) AS DOUBLE) AS w FROM lineitem " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN supplier ON l_suppkey = s_suppkey GROUP BY 1, 2), " +
        "nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e), " +
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes), " +
        "tp AS (SELECT src, dst, w / sum(w) OVER (PARTITION BY src) AS p FROM e), " +
        "r0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS pr FROM nodes), " +
        "r1 AS (SELECT nodes.id, 0.15 / (SELECT n FROM nn) + " +
        "0.85 * coalesce(sum(r0.pr * tp.p), 0) AS pr FROM nodes " +
        "LEFT JOIN tp ON tp.dst = nodes.id LEFT JOIN r0 ON r0.id = tp.src " +
        "GROUP BY nodes.id), " +
        "r2 AS (SELECT nodes.id, 0.15 / (SELECT n FROM nn) + " +
        "0.85 * coalesce(sum(r1.pr * tp.p), 0) AS pr FROM nodes " +
        "LEFT JOIN tp ON tp.dst = nodes.id LEFT JOIN r1 ON r1.id = tp.src " +
        "GROUP BY nodes.id), " +
        "r3 AS (SELECT nodes.id, 0.15 / (SELECT n FROM nn) + " +
        "0.85 * coalesce(sum(r2.pr * tp.p), 0) AS pr FROM nodes " +
        "LEFT JOIN tp ON tp.dst = nodes.id LEFT JOIN r2 ON r2.id = tp.src " +
        "GROUP BY nodes.id) " +
        "SELECT id, round(pr, 6) AS pr FROM r3 ORDER BY id"),

    // recursive-CTE BFS over the same top-60 edge set; UNION (not UNION ALL)
    // dedups (id, dist) states so the recursion terminates on the cyclic
    // graph, and min(dist) per id is the shortest distance
    "g50_graph_shortest_path" ->
      ("WITH RECURSIVE e0 AS (SELECT c_nationkey AS src, s_nationkey AS dst, " +
        "count(*) AS cnt FROM lineitem " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "WHERE s_nationkey > c_nationkey GROUP BY 1, 2), " +
        "te AS (SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst " +
        "FROM (SELECT *, row_number() OVER (PARTITION BY src ORDER BY cnt DESC, dst) AS rn FROM e0) " +
        "WHERE rn <= 2), " +
        "walk AS (SELECT CAST(0 AS BIGINT) AS id, CAST(0 AS BIGINT) AS dist " +
        "UNION " +
        "SELECT te.dst, walk.dist + 1 FROM walk JOIN te ON te.src = walk.id " +
        "WHERE walk.dist < 30) " +
        "SELECT id, min(dist) AS dist FROM walk GROUP BY id ORDER BY id"),

    // identical to g30 by construction: lev_bounded == levenshtein when <= k
    "g30b_fuzzy_pairs_banded" ->
      ("SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
        "levenshtein(substring(a.text, 1, 20), substring(b.text, 1, 20)) AS dist " +
        "FROM documents a JOIN documents b " +
        "ON substring(a.text, 1, 4) = substring(b.text, 1, 4) AND a.doc_id < b.doc_id " +
        "WHERE levenshtein(substring(a.text, 1, 20), substring(b.text, 1, 20)) <= 4 " +
        "ORDER BY doc_a, doc_b"),

    "g30_fuzzy_pairs" ->
      ("SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
        "levenshtein(substring(a.text, 1, 20), substring(b.text, 1, 20)) AS dist " +
        "FROM documents a JOIN documents b " +
        "ON substring(a.text, 1, 4) = substring(b.text, 1, 4) AND a.doc_id < b.doc_id " +
        "WHERE levenshtein(substring(a.text, 1, 20), substring(b.text, 1, 20)) <= 4 " +
        "ORDER BY doc_a, doc_b"),

    "g31_split_assign" ->
      ("SELECT CASE WHEN h < 'cc' THEN 'train' WHEN h < 'e6' THEN 'val' " +
        "ELSE 'test' END AS split, lang, count(*) AS n_docs, " +
        "CAST(sum(n_chars) AS BIGINT) AS n_chars_total " +
        "FROM (SELECT lang, n_chars, " +
        "substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS h FROM documents) " +
        "GROUP BY 1, 2 ORDER BY split, lang"),

    // replays the 3 merge rounds as chained CTEs: pair-count the vocab,
    // argmax with the same (count desc, pair asc) total order, literal
    // replace with the same both-delimiters encoding
    "g35_bpe_merges" -> {
      def pairs(v: String, p: String) =
        s"$p AS (SELECT tk[i] AS a, tk[i+1] AS b, CAST(sum(freq) AS BIGINT) AS cnt FROM " +
          s"(SELECT freq, tk, unnest(generate_series(1, len(tk) - 1)) AS i FROM " +
          s"(SELECT freq, string_split(trim(seq, '|'), '||') AS tk FROM $v) " +
          s"WHERE len(tk) >= 2) GROUP BY 1, 2)"
      def best(p: String, b: String) =
        s"$b AS (SELECT a, b, cnt FROM $p ORDER BY cnt DESC, a, b LIMIT 1)"
      def apply(v: String, b: String, v2: String) =
        s"$v2 AS (SELECT freq, replace(seq, '|' || $b.a || '||' || $b.b || '|', " +
          s"'|' || $b.a || $b.b || '|') AS seq FROM $v, $b)"
      "WITH words AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w " +
        "FROM documents), " +
        "v0 AS (SELECT count(*) AS freq, array_to_string(" +
        "list_transform(regexp_extract_all(w, '.'), c -> '|' || c || '|'), '') AS seq " +
        "FROM words GROUP BY w), " +
        s"${pairs("v0", "p1")}, ${best("p1", "b1")}, ${apply("v0", "b1", "v1")}, " +
        s"${pairs("v1", "p2")}, ${best("p2", "b2")}, ${apply("v1", "b2", "v2")}, " +
        s"${pairs("v2", "p3")}, ${best("p3", "b3")} " +
        "SELECT * FROM (" +
        "SELECT 1 AS round, a || ' ' || b AS pair, a || b AS new_token, cnt AS pair_count FROM b1 " +
        "UNION ALL SELECT 2, a || ' ' || b, a || b, cnt FROM b2 " +
        "UNION ALL SELECT 3, a || ' ' || b, a || b, cnt FROM b3) ORDER BY round"
    },

    // the same 3 learned merges (replayed b1/b2/b3) applied as the identical
    // replace chain, then rolled up per document
    "g36_bpe_encode" -> {
      def pairs(v: String, p: String) =
        s"$p AS (SELECT tk[i] AS a, tk[i+1] AS b, CAST(sum(freq) AS BIGINT) AS cnt FROM " +
          s"(SELECT freq, tk, unnest(generate_series(1, len(tk) - 1)) AS i FROM " +
          s"(SELECT freq, string_split(trim(seq, '|'), '||') AS tk FROM $v) " +
          s"WHERE len(tk) >= 2) GROUP BY 1, 2)"
      def best(p: String, b: String) =
        s"$b AS (SELECT a, b, cnt FROM $p ORDER BY cnt DESC, a, b LIMIT 1)"
      def apply(v: String, b: String, v2: String) =
        s"$v2 AS (SELECT freq, replace(seq, '|' || $b.a || '||' || $b.b || '|', " +
          s"'|' || $b.a || $b.b || '|') AS seq FROM $v, $b)"
      val seq0 = "array_to_string(list_transform(regexp_extract_all(w, '.'), " +
        "c -> '|' || c || '|'), '')"
      val enc = s"replace(replace(replace($seq0, " +
        "'|' || b1.a || '||' || b1.b || '|', '|' || b1.a || b1.b || '|'), " +
        "'|' || b2.a || '||' || b2.b || '|', '|' || b2.a || b2.b || '|'), " +
        "'|' || b3.a || '||' || b3.b || '|', '|' || b3.a || b3.b || '|')"
      "WITH dwords AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w " +
        "FROM documents), " +
        "v0 AS (SELECT count(*) AS freq, array_to_string(" +
        "list_transform(regexp_extract_all(w, '.'), c -> '|' || c || '|'), '') AS seq " +
        "FROM dwords GROUP BY w), " +
        s"${pairs("v0", "p1")}, ${best("p1", "b1")}, ${apply("v0", "b1", "v1")}, " +
        s"${pairs("v1", "p2")}, ${best("p2", "b2")}, ${apply("v1", "b2", "v2")}, " +
        s"${pairs("v2", "p3")}, ${best("p3", "b3")} " +
        "SELECT doc_id, count(*) AS n_words, " +
        "CAST(sum(len(w)) AS BIGINT) AS n_chars, " +
        s"CAST(sum(len(string_split(trim($enc, '|'), '||'))) AS BIGINT) AS n_bpe_tok " +
        "FROM dwords, b1, b2, b3 GROUP BY doc_id ORDER BY doc_id"
    },

    // g36's replayed merges, rolled up by language; each ratio is one IEEE
    // division of exact integer sums, so round(·, 6) matches bit-for-bit
    "g70_tokenizer_fertility" -> {
      def pairs(v: String, p: String) =
        s"$p AS (SELECT tk[i] AS a, tk[i+1] AS b, CAST(sum(freq) AS BIGINT) AS cnt FROM " +
          s"(SELECT freq, tk, unnest(generate_series(1, len(tk) - 1)) AS i FROM " +
          s"(SELECT freq, string_split(trim(seq, '|'), '||') AS tk FROM $v) " +
          s"WHERE len(tk) >= 2) GROUP BY 1, 2)"
      def best(p: String, b: String) =
        s"$b AS (SELECT a, b, cnt FROM $p ORDER BY cnt DESC, a, b LIMIT 1)"
      def apply(v: String, b: String, v2: String) =
        s"$v2 AS (SELECT freq, replace(seq, '|' || $b.a || '||' || $b.b || '|', " +
          s"'|' || $b.a || $b.b || '|') AS seq FROM $v, $b)"
      val seq0 = "array_to_string(list_transform(regexp_extract_all(w, '.'), " +
        "c -> '|' || c || '|'), '')"
      val enc = s"replace(replace(replace($seq0, " +
        "'|' || b1.a || '||' || b1.b || '|', '|' || b1.a || b1.b || '|'), " +
        "'|' || b2.a || '||' || b2.b || '|', '|' || b2.a || b2.b || '|'), " +
        "'|' || b3.a || '||' || b3.b || '|', '|' || b3.a || b3.b || '|')"
      "WITH dwords AS (SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w " +
        "FROM documents), " +
        "v0 AS (SELECT count(*) AS freq, array_to_string(" +
        "list_transform(regexp_extract_all(w, '.'), c -> '|' || c || '|'), '') AS seq " +
        "FROM dwords GROUP BY w), " +
        s"${pairs("v0", "p1")}, ${best("p1", "b1")}, ${apply("v0", "b1", "v1")}, " +
        s"${pairs("v1", "p2")}, ${best("p2", "b2")}, ${apply("v1", "b2", "v2")}, " +
        s"${pairs("v2", "p3")}, ${best("p3", "b3")}, " +
        "agg AS (SELECT lang, count(*) AS n_words, " +
        "CAST(sum(len(w)) AS BIGINT) AS n_chars, " +
        s"CAST(sum(len(string_split(trim($enc, '|'), '||'))) AS BIGINT) AS n_bpe_tok " +
        "FROM dwords, b1, b2, b3 GROUP BY lang) " +
        "SELECT lang, n_words, n_chars, n_bpe_tok, " +
        "round(CAST(n_bpe_tok AS DOUBLE) / n_words, 6) AS fertility, " +
        "round(CAST(n_chars AS DOUBLE) / n_bpe_tok, 6) AS chars_per_tok " +
        "FROM agg ORDER BY lang"
    },

    "g47_repeated_spans" ->
      ("WITH t AS (SELECT doc_id, str_split(lower(text), ' ') AS toks FROM documents), " +
        "p AS (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS pos " +
        "FROM t WHERE len(toks) >= 5), " +
        "g AS (SELECT doc_id, pos, toks[pos] || ' ' || toks[pos+1] || ' ' || " +
        "toks[pos+2] || ' ' || toks[pos+3] || ' ' || toks[pos+4] AS gram FROM p), " +
        "rep AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2), " +
        "hits AS (SELECT g.doc_id, g.pos FROM g JOIN rep USING (gram)), " +
        "isl AS (SELECT doc_id, pos, pos - row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY pos) AS grp FROM hits), " +
        "sp AS (SELECT doc_id, grp, max(pos) - min(pos) + 5 AS span_toks " +
        "FROM isl GROUP BY doc_id, grp) " +
        "SELECT doc_id, count(*) AS n_spans, " +
        "CAST(sum(span_toks) AS BIGINT) AS covered_toks, " +
        "CAST(max(span_toks) AS BIGINT) AS max_span " +
        "FROM sp GROUP BY doc_id ORDER BY doc_id"),

    // replays the three fixed-point GD rounds as chained CTEs — every
    // quantity is an exact integer, so the replay is bit-for-bit
    "g48_quality_gd" -> {
      def grad(wPrev: String, g: String) =
        s"$g AS (SELECT CAST(sum(err) AS BIGINT) AS g0, " +
          "CAST(sum(err * x1) AS BIGINT) AS g1, " +
          "CAST(sum(err * x2) AS BIGINT) AS g2 FROM " +
          "(SELECT w.w0 + w.w1 * f.x1 + w.w2 * f.x2 - 1000000 * f.y AS err, " +
          s"f.x1, f.x2 FROM f, $wPrev w))"
      def step(wPrev: String, g: String, wNext: String) = {
        def s1(j: Int) =
          s"w.w$j - (CASE WHEN g.g$j < 0 THEN -1 ELSE 1 END) * " +
            s"(abs(g.g$j) // (c.n * 10000)) AS w$j"
        s"$wNext AS (SELECT ${s1(0)}, ${s1(1)}, ${s1(2)} FROM $wPrev w, $g g, c)"
      }
      "WITH f AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS x1, " +
        "CAST(len(list_filter(toks, t -> t IN ('the','and','of','a','in'))) AS BIGINT) AS x2, " +
        "CASE WHEN source = 'src0' THEN CAST(1 AS BIGINT) ELSE 0 END AS y " +
        "FROM (SELECT doc_id, source, str_split(lower(text), ' ') AS toks FROM documents)), " +
        "c AS (SELECT count(*) AS n FROM f), " +
        "w0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1, " +
        "CAST(0 AS BIGINT) AS w2), " +
        s"${grad("w0", "ga")}, ${step("w0", "ga", "wa")}, " +
        s"${grad("wa", "gb")}, ${step("wa", "gb", "wb")}, " +
        s"${grad("wb", "gc")}, ${step("wb", "gc", "wc")} " +
        "SELECT f.doc_id, w.w0 + w.w1 * f.x1 + w.w2 * f.x2 AS score_micro, " +
        "f.y AS label, CASE WHEN w.w0 + w.w1 * f.x1 + w.w2 * f.x2 >= 500000 " +
        "THEN 1 ELSE 0 END AS pred FROM f, wc w ORDER BY doc_id"
    },

    "g56_substring_dedup" ->
      ("WITH t AS (SELECT doc_id, str_split(lower(text), ' ') AS toks FROM documents), " +
        "p AS (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS pos " +
        "FROM t WHERE len(toks) >= 5), " +
        "g AS (SELECT doc_id, pos, toks[pos] || ' ' || toks[pos+1] || ' ' || " +
        "toks[pos+2] || ' ' || toks[pos+3] || ' ' || toks[pos+4] AS gram FROM p), " +
        "d AS (SELECT doc_id, pos FROM (SELECT doc_id, pos, row_number() OVER " +
        "(PARTITION BY gram ORDER BY doc_id, pos) AS rn FROM g) WHERE rn >= 2), " +
        "cov AS (SELECT DISTINCT doc_id, unnest(range(pos, pos + 5)) AS tp FROM d), " +
        "tok0 AS (SELECT doc_id, toks, len(toks) AS n_toks, " +
        "unnest(range(1, len(toks) + 1)) AS tp FROM t), " +
        "tok AS (SELECT doc_id, n_toks, tp, toks[tp] AS tok FROM tok0), " +
        "m AS (SELECT tok.doc_id, tok.n_toks, tok.tp, tok.tok, cov.tp AS ctp " +
        "FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.tp = cov.tp) " +
        "SELECT doc_id, CAST(max(n_toks) AS BIGINT) AS n_toks, " +
        "CAST(sum(CASE WHEN ctp IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
        "coalesce(string_agg(CASE WHEN ctp IS NULL THEN tok END, ' ' ORDER BY tp), '') " +
        "AS clean_text FROM m GROUP BY doc_id ORDER BY doc_id"),

    "g60_containment_contamination" ->
      ("WITH t AS (SELECT doc_id, str_split(lower(text), ' ') AS toks FROM documents), " +
        "sh AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
        "range(1, greatest(len(toks) - 2, 0) + 1), " +
        "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS sh " +
        "FROM t WHERE len(toks) >= 3), " +
        "b AS (SELECT doc_id AS b_id, sh FROM sh WHERE doc_id < 50), " +
        "bs AS (SELECT b_id, count(*) AS b_size FROM b GROUP BY 1), " +
        "c AS (SELECT doc_id, sh FROM sh WHERE doc_id >= 50), " +
        "i AS (SELECT b_id, doc_id, count(*) AS inter FROM c JOIN b USING (sh) " +
        "GROUP BY 1, 2) " +
        "SELECT b_id, doc_id, inter, b_size, " +
        "CAST(inter AS DOUBLE) / CAST(b_size AS DOUBLE) AS containment " +
        "FROM i JOIN bs USING (b_id) WHERE inter * 10 >= b_size * 3 " +
        "ORDER BY b_id, doc_id"),

    "g59_corpus_shuffle_shard" ->
      ("WITH k AS (SELECT doc_id, (doc_id * 2654435761 + 42) % 4294967296 AS h " +
        "FROM documents), " +
        "s AS (SELECT doc_id, h, h % 8 AS shard FROM k) " +
        "SELECT doc_id, shard, row_number() OVER " +
        "(PARTITION BY shard ORDER BY h, doc_id) AS pos " +
        "FROM s ORDER BY shard, pos"),

    "g57_ngram_novelty" ->
      ("WITH t AS (SELECT doc_id, str_split(lower(text), ' ') AS toks FROM documents), " +
        "p AS (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS pos " +
        "FROM t WHERE len(toks) >= 5), " +
        "g AS (SELECT DISTINCT doc_id, toks[pos] || ' ' || toks[pos+1] || ' ' || " +
        "toks[pos+2] || ' ' || toks[pos+3] || ' ' || toks[pos+4] AS gram FROM p), " +
        "f AS (SELECT doc_id, gram, min(doc_id) OVER (PARTITION BY gram) AS first_doc FROM g) " +
        "SELECT doc_id, count(*) AS n_grams, " +
        "CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel, " +
        "CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS novelty " +
        "FROM f GROUP BY doc_id ORDER BY doc_id"),

    "g67_corpus_datasheet" ->
      ("SELECT source, count(*) AS n_docs, count(DISTINCT lang) AS n_langs, " +
        "CAST(sum(n_chars // 4) AS BIGINT) AS total_toks, " +
        "median(n_chars) AS med_chars, " +
        "round(CAST(sum(CASE WHEN n_chars < 150 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS short_share " +
        "FROM documents GROUP BY 1 ORDER BY source"),

    "g66_span_corruption" ->
      ("WITH tk AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[i+1] AS tok " +
        "FROM (SELECT doc_id, str_split(lower(text), ' ') AS toks FROM documents) d, " +
        "UNNEST(range(len(toks))) AS u(i)), " +
        "sp AS (SELECT doc_id, pos // 3 AS span_id, " +
        "string_agg(tok, ' ' ORDER BY pos) AS span_text FROM tk GROUP BY 1, 2), " +
        "mk AS (SELECT *, ((span_id * 2654435761 + doc_id) % 20) < 3 AS masked FROM sp), " +
        "nb AS (SELECT *, CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) OVER " +
        "(PARTITION BY doc_id ORDER BY span_id ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS sent_id FROM mk) " +
        "SELECT doc_id, count(*) AS n_spans, " +
        "CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked, " +
        "string_agg(CASE WHEN masked THEN '<extra_id_' || CAST(sent_id AS VARCHAR) || '>' " +
        "ELSE span_text END, ' ' ORDER BY span_id) AS corrupted, " +
        "coalesce(string_agg(CASE WHEN masked THEN '<extra_id_' || CAST(sent_id AS VARCHAR) || '> ' || span_text END, " +
        "' ' ORDER BY span_id), '') AS target " +
        "FROM nb GROUP BY doc_id ORDER BY doc_id"),

    // RRF fusion: the g58 BM25 replay cut at 20, the exact-cosine leg cut
    // at 20, reciprocals as single IEEE divisions summed in fixed order
    "g74_hybrid_rrf" ->
      ("WITH p AS (SELECT doc_id, unnest(str_split(lower(text), ' ')) AS term FROM documents), " +
        "c AS (SELECT count(*) AS tt, count(DISTINCT doc_id) AS nn FROM p), " +
        "dl AS (SELECT doc_id, count(*) AS dl FROM p GROUP BY 1), " +
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM p " +
        "WHERE term IN ('spark','merge','vector') GROUP BY 1, 2), " +
        "df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), " +
        "sc AS (SELECT tf.doc_id, tf.term, " +
        "(CAST(2*c.nn - 2*df.df + 1 AS DOUBLE) / CAST(2*df.df + 1 AS DOUBLE)) * " +
        "(CAST(4*c.tt*tf.tf AS DOUBLE) / CAST(2*c.tt*tf.tf + c.tt + dl.dl*c.nn AS DOUBLE)) AS s " +
        "FROM tf JOIN df USING (term) JOIN dl USING (doc_id), c), " +
        "pv AS (SELECT doc_id, " +
        "max(CASE WHEN term = 'spark' THEN s END) AS s1, " +
        "max(CASE WHEN term = 'merge' THEN s END) AS s2, " +
        "max(CASE WHEN term = 'vector' THEN s END) AS s3 FROM sc GROUP BY doc_id), " +
        "lex AS (SELECT doc_id, rank_lex FROM (SELECT doc_id, " +
        "CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS rank_lex FROM (" +
        "SELECT doc_id, (coalesce(s1, 0) + coalesce(s2, 0)) + coalesce(s3, 0) AS bm25 " +
        "FROM pv)) WHERE rank_lex <= 20), " +
        "q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0), " +
        "vec AS (SELECT doc_id, rank_vec FROM (SELECT vec_id AS doc_id, " +
        "CAST(row_number() OVER (ORDER BY " +
        "round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv), 6) DESC, vec_id) AS INT) AS rank_vec " +
        "FROM embeddings, q WHERE vec_id <> 0) WHERE rank_vec <= 20) " +
        "SELECT doc_id, coalesce(rank_lex, 0) AS rank_lex, " +
        "coalesce(rank_vec, 0) AS rank_vec, " +
        "round(coalesce(CAST(1 AS DOUBLE) / (60 + rank_lex), 0) + " +
        "coalesce(CAST(1 AS DOUBLE) / (60 + rank_vec), 0), 6) AS rrf " +
        "FROM lex FULL OUTER JOIN vec USING (doc_id) " +
        "ORDER BY rrf DESC, doc_id LIMIT 10")
  )
}
