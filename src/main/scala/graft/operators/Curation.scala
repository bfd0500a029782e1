package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.Sources.{table => t}
import graft.text.TextOps
import graft.functions.ColumnOps
import graft.functions.ColumnOps.{r2, r4, r6}

/** Corpus-curation operator family: the selection / shaping stages a
  * training-data pipeline runs AFTER cleaning and dedup — chunking long
  * documents into model-context windows, drawing exact stratified samples,
  * bucketing by a quality signal, relevance scoring (BM25), vocabulary
  * saturation diagnostics, and the keep-best-representative dedup policy.
  *
  * Every entry is fully SQL-expressible, so each carries a complete DuckDB
  * oracle (hash gate, not just an envelope). All plans are single-pass or
  * single-shuffle shapes chosen for the 100 TB case; per-query scaladoc
  * states the scale argument, and CurationSpec pins the shuffle counts.
  *
  * Reference anchor: the reference curates its corpus with pandas-side
  * filters and full-recompute snapshots (reference dags/clv_data_dag.py:80,
  * dags/simulate_data.py:163); these operators are the corpus-scale
  * generalization of that selection surface.
  */
object Curation {

  /** Chunk size / stride for q_doc_chunk (tokens). 64/48 → 25% overlap,
    * the common context-window packing shape. */
  val ChunkSize = 64
  val ChunkStride = 48

  /** Sub-document unit for q_line_dedup (tokens per block). */
  val LineBlock = 16

  /** Z-order grid geometry for q_zorder: 10-bit cells per dimension,
    * 20-bit z-values, files = top 4 z bits → every file spans ≤ 2⁸ cells
    * in BOTH dimensions (the data-skipping property LayoutSpec's
    * write-path test measures physically). */
  val ZBits = 10
  val ZFileShift = 2 * ZBits - 4

  /** Exact stratified fraction for q_stratified_sample. */
  val StratFraction = 0.2

  /** BM25 free parameters (Robertson–Spärck Jones defaults). */
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25Terms: Seq[String] = Seq("table", "hash", "spark")

  /** Okapi BM25 of every doc against [[Bm25Terms]], unrounded. Corpus
    * stats (N, df per term, avgdl) reduce to ONE tiny aggregate row,
    * broadcast back; per-doc scoring is then a pure projection over the
    * token array — one wide scan, one broadcast, zero row-expanding
    * joins. Shared by q_bm25 (rounded dump) and q_hybrid_search (rank
    * input). */
  def bm25Scores(docs: DataFrame): DataFrame = {
    val d = docs
      .select(col("doc_id"), TextOps.tokens(lower(col("text"))).as("toks"))
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("double").as("dl"))
    def tf(term: String): Column =
      size(filter(col("toks"), x => x === lit(term))).cast("double")
    val stats = d.agg(
      count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl") +:
        Bm25Terms.map(tm => sum(when(tf(tm) > 0, 1.0).otherwise(0.0))
          .as(s"df_$tm")): _*)
    def idf(tm: String): Column =
      log((col("n_docs") - col(s"df_$tm") + lit(0.5))
        / (col(s"df_$tm") + lit(0.5)) + lit(1.0))
    def part(tm: String): Column = {
      val f = tf(tm)
      idf(tm) * (f * lit(Bm25K1 + 1.0)) /
        (f + lit(Bm25K1) * (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl")))
    }
    d.crossJoin(broadcast(stats))
      .select(col("doc_id"), Bm25Terms.map(part).reduce(_ + _).as("bm25"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- context-window chunking ------------------------------------------
    // Fixed-size token windows with stride (overlap = size − stride): the
    // doc→training-example fan-out stage. Scale shape: scan + per-row
    // generate + explode — ZERO shuffles, embarrassingly parallel, output
    // partitioning inherits the scan. The chunk list is computed from ONE
    // tokenization per doc (the array is materialized once per row and
    // sliced per chunk, not re-split per chunk).
    "q_doc_chunk" -> ((s, dir) => {
      val toks = TextOps.tokens(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), toks.as("toks"), size(toks).as("n"))
        .select(col("doc_id"), col("toks"), col("n"),
          explode(sequence(lit(1), col("n"), lit(ChunkStride))).as("start"))
        .select(col("doc_id"), col("start").cast("long").as("chunk_start"),
          least(lit(ChunkSize), col("n") - col("start") + 1).cast("long")
            .as("chunk_len"),
          concat_ws(" ", slice(col("toks"), col("start"), lit(ChunkSize)))
            .as("chunk_text"))
        .orderBy("doc_id", "chunk_start")
    }),

    // ---- exact stratified sampling ----------------------------------------
    // Per-stratum EXACT fraction (ceil(f·n_s) rows per source), selected in
    // content-addressed md5(doc_id) order — deterministic, seedless, and
    // reproducible across engines (the q_token_budget / q_hash_split
    // ordering discipline). Scale shape: ONE shuffle on the stratum key;
    // both window functions (row_number + count) share the same partition
    // spec so Catalyst plans a single Exchange + single Window node. Strata
    // are sources (bounded cardinality, high row count each) — no hot task
    // beyond the stratum's own size; a skewed stratum salts the same way
    // q_salted_agg does.
    "q_stratified_sample" -> ((s, dir) => {
      val h = md5(col("doc_id").cast("string"))
      val rn = row_number().over(Window.partitionBy("source").orderBy("h", "doc_id"))
      val n = count(lit(1)).over(Window.partitionBy("source"))
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"), h.as("h"))
        .select(col("doc_id"), col("source"), rn.as("rn"), n.as("n_src"))
        .where(col("rn") <= ceil(col("n_src") * lit(StratFraction)))
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    }),

    // ---- quantile bucketing (CCNet-style quality tiers) -------------------
    // Decile tiers over a quality signal (n_chars as the stand-in score),
    // WITHOUT a global-order window: boundaries come from one exact
    // percentile aggregate (tiny: 9 doubles), broadcast back, and each row
    // computes its bucket locally as 1 + |{b_i < v}|. ntile() would need a
    // single total-order partition — a one-task plan at 100 TB; this shape
    // is two scans of which the first reduces to 9 numbers. Sketch
    // swap-in (approx_percentile) is a one-line change when exactness is
    // not contractual.
    "q_quantile_bucket" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val cuts = d.agg(expr(
        "percentile(n_chars, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))")
        .as("bs"))
      d.crossJoin(broadcast(cuts))
        .select(col("doc_id"), col("n_chars"),
          (size(filter(col("bs"), b => col("n_chars").cast("double") > b)) + 1)
            .cast("long").as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          r2(avg(col("n_chars"))).as("avg_chars"))
        .orderBy("bucket")
    }),

    // ---- BM25 relevance scoring -------------------------------------------
    // Okapi BM25 of every doc against a fixed query term set: the
    // retrieval-quality ranking stage (and the tf–idf generalization the
    // reference's pandas surface lacks). Corpus stats (N, df per term,
    // avgdl) reduce to ONE tiny aggregate row, broadcast back; per-doc
    // scoring is then a pure projection over the token array — one wide
    // scan, one broadcast, zero row-expanding joins. Term frequencies use
    // the already-materialized token array (no per-term re-tokenization).
    "q_bm25" -> ((s, dir) => {
      bm25Scores(t(s, dir, "documents"))
        .select(col("doc_id"), r4(col("bm25")).as("bm25"))
        .orderBy("doc_id")
    }),

    // ---- vocabulary saturation --------------------------------------------
    // Per-source token volume, distinct-term count, and type–token ratio:
    // the Heaps-law diagnostic that tells a corpus curator which sources
    // have stopped contributing new vocabulary. Scale shape: explode +
    // two-level aggregate — the (source, term) partial aggregate combines
    // map-side, so the shuffle carries vocab-sized data, not token-sized.
    "q_vocab_growth" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("source"),
          explode(TextOps.tokens(lower(col("text")))).as("term"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_tokens"),
          count_distinct(col("term")).as("n_terms"))
        .select(col("source"), col("n_tokens"), col("n_terms"),
          r4(col("n_terms").cast("double") / col("n_tokens")).as("ttr"))
        .orderBy("source")
    }),

    // ---- column profiling (ANALYZE surface) -------------------------------
    // Per-column nulls / exact distincts / min-max over orders in ONE
    // aggregate + stack reshape — see [[Profile.columnProfile]] for the
    // Expand-based scale argument and the approx_count_distinct swap-in.
    // o_orderdate profiles as DATE so the string rendering is the
    // engine-neutral ISO form.
    "q_column_profile" -> ((s, dir) => {
      Profile.columnProfile(
        t(s, dir, "orders").withColumn("o_orderdate", to_date(col("o_orderdate"))),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority"))
    }),

    // ---- bloom semi-join prefilter ----------------------------------------
    // Envelope oracle for [[Bloom.prefilteredSemiJoin]]: the exact
    // selective-semi-join count is SQL-recomputable; the flags certify the
    // filter's published contract (zero false negatives end-to-end, fp
    // rate within ~2.5× its theoretical ~0.8% at 10 bits/key). The naive
    // full-shuffle semi join runs ONLY as the verification anchor — the
    // production path is the bloom-prefiltered one, whose probe-side
    // shuffle carries |matches| + fp·|probe| rows instead of |probe|.
    "q_bloom_prefilter" -> ((s, dir) => {
      val dim = t(s, dir, "orders").where(col("o_totalprice") > 480000.0)
        .select(col("o_orderkey"))
      val probe = t(s, dir, "lineitem")
      val nDim = dim.count()
      val bloom = Bloom.build(dim, col("o_orderkey"), math.max(nDim, 1L))
      val pass = Bloom.filterMightContain(probe, col("l_orderkey"), bloom)
      val viaBloom = Bloom.prefilteredSemiJoin(
        probe, col("l_orderkey"), dim, col("o_orderkey"), math.max(nDim, 1L))
      val naive = probe.join(dim, probe("l_orderkey") === dim("o_orderkey"),
        "left_semi")
      val agg = viaBloom.agg(count(lit(1)).as("n_bloom"))
        .crossJoin(naive.agg(count(lit(1)).as("n_naive")))
        .crossJoin(pass.agg(count(lit(1)).as("n_pass")))
        .crossJoin(probe.agg(count(lit(1)).as("n_probe")))
      agg.select(
        col("n_naive").as("n_exact"),
        (col("n_bloom") === col("n_naive")).cast("long").as("no_false_negative"),
        ((col("n_pass") - col("n_naive")).cast("double")
          / greatest(col("n_probe") - col("n_naive"), lit(1L)).cast("double")
          <= 0.02).cast("long").as("fp_bounded"))
    }),

    // ---- SemDeDup (embedding-cluster semantic dedup) ----------------------
    // Envelope oracle for [[graft.similarity.Ann.semDedupParts]]: planted exact
    // vector copies (vec_id+1e6 for every vec_id % 7 == 0) land in the
    // same Voronoi cell as their originals with cosine exactly 1, so the
    // drop rule MUST remove every one (all_planted_dropped); and the kept
    // set must contain no same-cell pair above the threshold (no_dup_kept
    // — measured with the same cells, not assumed). n_total/n_planted pin
    // the planting arithmetic in SQL.
    "q_semdedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val planted = emb.where(col("vec_id") % 7 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"),
          col("label"))
      val corpus = emb.unionByName(planted)
      // nlist ∝ √N (the standard IVF sizing): a FIXED cell count makes
      // the within-cell pair census Σ|cell|² quadratic in the corpus —
      // the r13 sf1 timed pass measured 21× wall at 10× vectors with
      // nlist = 16. √N keeps expected |cell| = √N, so the census grows
      // ~N^1.5/√N = N and the probe cost tracks the scan. The count is
      // one aggregate-bounded job on a 1-column frame; the envelope
      // flags are nlist-independent (identical vectors share a Voronoi
      // cell under ANY centroid set, and no_dup_kept is measured with
      // the same cells that did the dropping).
      val slim = corpus.select(col("vec_id"), col("embedding"))
      val nVecs = slim.count()
      val nlist = math.max(16, math.ceil(math.sqrt(nVecs.toDouble)).toInt)
      val (assigned, dropped) = graft.similarity.Ann.semDedupParts(
        slim, nlist = nlist, threshold = 0.99)
      val kept = assigned.join(dropped, Seq("vec_id"), "left_anti")
      val a = kept.select(col("cell"), col("vec_id").as("id_a"),
        col("embedding").as("vec_a"))
      val b = kept.select(col("cell"), col("vec_id").as("id_b"),
        col("embedding").as("vec_b"))
      val keptDups = a.join(b, Seq("cell")).where(col("id_a") < col("id_b"))
        .where(graft.similarity.Ann.cosine(col("vec_a"), col("vec_b")) >= 0.99)
        .agg(count(lit(1)).as("n_kept_dups"))
      corpus.agg(count(lit(1)).as("n_total"))
        .crossJoin(planted.agg(count(lit(1)).as("n_planted")))
        // planted detection is a semi-join against the planted id SET,
        // never an id-range test (`vec_id >= 1e6` counted every real
        // vector above the fixture's range as planted-kept at 10× corpus
        // — the r13 sf1 finding, same class as q_containment_exact)
        .crossJoin(kept.join(planted.select(col("vec_id")),
            Seq("vec_id"), "left_semi")
          .agg(count(lit(1)).as("n_planted_kept")))
        .crossJoin(keptDups)
        .select(col("n_total"), col("n_planted"),
          (col("n_planted_kept") === 0L).cast("long").as("all_planted_dropped"),
          (col("n_kept_dups") === 0L).cast("long").as("no_dup_kept"))
    }),

    // ---- keep-best dedup policy -------------------------------------------
    // Exact-duplicate clusters keep ONE canonical representative chosen by
    // quality (max n_chars, tie-broken by min doc_id) — the policy layer on
    // top of q_dedup_exact's cluster detection, run on the corpus UNION an
    // exact copy (doc_id + 1e6) so every cluster genuinely has ≥2 members
    // at every SF. Scale shape: ONE shuffle on md5(text) (the window's
    // partition key is the content hash — collision-free cluster id, no
    // skew beyond true duplicate multiplicity).
    "q_dedup_keep_best" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
      val doubled = d.unionByName(d.select(
        (col("doc_id") + 1000000L).as("doc_id"),
        col("text"), col("source"), col("n_chars")))
      val w = Window.partitionBy(md5(col("text")))
        .orderBy(col("n_chars").desc, col("doc_id"))
      doubled
        .select(col("doc_id"), col("source"),
          row_number().over(w).as("rn"))
        .where(col("rn") === 1)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    }),

    // ---- BPE merge-candidate pair counts ----------------------------------
    // The inner loop of byte-pair-encoding tokenizer training (Sennrich et
    // al. 2016): count adjacent token pairs corpus-wide, keep the top
    // merge candidates. Scale shape: pair generation is a zero-shuffle
    // scan projection (sequence+transform over the already-materialized
    // token array — no self-join of token positions); the pair aggregate
    // combines map-side so the shuffle carries pair-vocabulary rows, not
    // token rows; top-20 is a distributed TakeOrdered heap, never a
    // global sort. Ties at the cutoff break on the pair string.
    "q_bpe_pairs" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(TextOps.tokens(lower(col("text"))).as("toks"))
        .where(size(col("toks")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(toks) - 1)," +
            " i -> concat(toks[i-1], ' ', toks[i]))")).as("pair"))
        .groupBy("pair")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(20)
    }),

    // ---- per-source dataset card ------------------------------------------
    // The mixture report published next to a training corpus: per source,
    // doc/token counts, token share of the whole corpus, language spread,
    // and mean doc length. Scale shape: ONE two-level aggregate on the
    // source key (token counting rides sum(size(tokens)) — no explode,
    // the only shuffled rows are |sources| partials); the corpus-total
    // denominator for the share column is a window over the |sources|-row
    // result frame, not a second corpus pass.
    "q_dataset_card" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("source"), col("lang"), col("n_chars"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_toks"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("n_tokens"),
          count_distinct(col("lang")).as("n_langs"),
          r2(avg(col("n_chars"))).as("avg_chars"))
        .select(col("source"), col("n_docs"), col("n_tokens"), col("n_langs"),
          col("avg_chars"),
          r4(col("n_tokens").cast("double")
            / sum(col("n_tokens")).over(BoundedWindow.whole(col("source"))))
            .as("token_share"))
        .orderBy("source")
    }),

    // ---- corpus-level source overlap (mergeable minhash union) ------------
    // Estimate the shingle-set Jaccard BETWEEN two sources from their
    // union minhash sketches: the per-source signature is the elementwise
    // MIN of per-doc signatures — an associative, mergeable aggregate, so
    // at 100 TB each source reduces to 64 longs in one map-side-combined
    // pass and corpora never co-shuffle. The exact distinct-shingle
    // Jaccard here is the oracle ANCHOR (it costs a corpus-wide distinct —
    // exactly what the sketch path exists to avoid); contract: |est −
    // exact| ≤ 0.25, measured err 0.023/0.005/0.079 at sf0.001/0.01/0.1
    // vs 64-lane σ≈0.05 (OverlapProbe, deleted; last held at cdb9a9a).
    "q_source_overlap" -> ((s, dir) => {
      val d = t(s, dir, "documents").where(col("source").isin("src0", "src1"))
      val est = d.select(col("source"),
          posexplode(call_function("minhash_sig", col("text"), lit(3), lit(64)))
            .as(Seq("pos", "h")))
        .groupBy("pos")
        .agg(min(when(col("source") === "src0", col("h"))).as("h0"),
          min(when(col("source") === "src1", col("h"))).as("h1"))
        .agg(avg((col("h0") === col("h1")).cast("double")).as("est"))
      val exact = d.select(col("source"),
          explode(graft.dedup.Dedup.shingleHashSet(col("text"), 3)).as("h"))
        .distinct()
        .groupBy("h").agg(count_distinct(col("source")).as("ns"))
        .agg(count(lit(1)).as("n_union"),
          sum((col("ns") === 2).cast("long")).as("n_inter"))
      exact.crossJoin(est).select(
        col("n_union"), col("n_inter"),
        r4(col("n_inter").cast("double") / col("n_union")).as("exact_jaccard"),
        (abs(col("est") - col("n_inter").cast("double") / col("n_union"))
          <= 0.25).cast("long").as("est_within_025"))
    }),

    // ---- end-to-end curation pipeline -------------------------------------
    // The whole curation chain as ONE composable plan — exact dedup (keep
    // min doc_id per content hash) → quality floor (length ≥ 100 chars) →
    // content-addressed md5 train/val split → per-(split, lang) shard
    // report. Shows the operators compose without materialization
    // barriers: Catalyst fuses the dedup window, both filters, and the
    // split projection into one pass over the scan + one window Exchange;
    // the report aggregate is the only other shuffle, and its output is
    // bounded by splits×langs. Every stage is SQL-expressible, so the
    // WHOLE pipeline gets a hash oracle, not an envelope.
    "q_corpus_pipeline" -> ((s, dir) => {
      val keepFirst = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
      t(s, dir, "documents")
        .withColumn("rn", row_number().over(keepFirst))
        .where(col("rn") === 1 && col("n_chars") >= 100)
        .withColumn("split",
          when(md5(col("doc_id").cast("string")) < "c0000000", "train")
            .otherwise("val"))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(TextOps.tokens(col("text")))).cast("long").as("n_tokens"),
          r2(avg(col("n_chars"))).as("avg_chars"))
        .orderBy("split", "lang")
    }),

    // ---- tokenizer vocab coverage -----------------------------------------
    // What fraction of all token OCCURRENCES does a top-N vocabulary
    // cover — the curve tokenizer designers read before fixing a vocab
    // size. ONE explode+aggregate builds the term-count table (map-side
    // combined, vocab-sized shuffle) and is persisted — it is the small
    // derived frame, ≪ corpus; the top-1000 slice is then a distributed
    // TakeOrdered HEAP over it (per-partition heaps, 1000 survivors —
    // never the round-6 global-sort window, which funneled the ENTIRE
    // vocabulary through one partition: the exact single-task smell this
    // engine bans at 100 TB), and both coverage sums reduce to 1-row
    // aggregates crossed via broadcast. The corpus itself is scanned once.
    "q_vocab_coverage" -> ((s, dir) => {
      val counts = t(s, dir, "documents")
        .select(explode(TextOps.tokens(lower(col("text")))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("n"))
        .persist()
      val covered = counts.orderBy(col("n").desc, col("term")).limit(1000)
        .agg(sum(col("n")).as("n_covered"))
      counts.agg(count(lit(1)).as("n_terms"), sum(col("n")).as("n_tokens"))
        .crossJoin(broadcast(covered))
        .select(col("n_terms"), col("n_tokens"),
          r4(col("n_covered").cast("double") / col("n_tokens"))
            .as("top1000_coverage"))
    }),

    // ---- hybrid retrieval (BM25 ⊕ vector, RRF-fused) ----------------------
    // The canonical hybrid-search stage: lexical BM25 ranking and
    // embedding-cosine ranking against one query vector, fused with RRF
    // (k=60) — doc store ⋈ vector store on id is the one co-partitioned
    // join (both sides shuffle on the id ONCE; at 100 TB, stores bucketed
    // on id would skip that shuffle), each ranking is a distributed
    // TakeOrdered top-50 heap, and the fusion is the join-free union +
    // groupBy of q_rrf_fusion. Ranks are cross-engine stable: both
    // engines compute identical score doubles (same formula structure),
    // ties break on doc_id.
    "q_hybrid_search" -> ((s, dir) => {
      import graft.similarity.Ann
      val emb = t(s, dir, "embeddings")
      val joined = bm25Scores(t(s, dir, "documents"))
        .join(emb, col("doc_id") === col("vec_id"))
      val q = emb.where(col("vec_id") === 0).select(col("embedding").as("qv"))
      def scored = joined.where(col("doc_id") > 0).crossJoin(broadcast(q))
        .select(col("doc_id"), col("bm25"),
          (Ann.dot(col("embedding"), col("qv"))
            / (Ann.norm(col("embedding")) * Ann.norm(col("qv")))).as("cos"))
      val topLex = scored.orderBy(col("bm25").desc, col("doc_id")).limit(50)
        .select(col("doc_id").as("id_a"),
          row_number().over(BoundedWindow.ordered(col("doc_id"),
            col("bm25").desc, col("doc_id"))).cast("long").as("rank_lex"))
      val topVec = scored.orderBy(col("cos").desc, col("doc_id")).limit(50)
        .select(col("doc_id").as("id_b"),
          row_number().over(BoundedWindow.ordered(col("doc_id"),
            col("cos").desc, col("doc_id"))).cast("long").as("rank_vec"))
      def side(c: Column): Column =
        when(c > 0, lit(1.0) / (lit(60.0) + c)).otherwise(lit(0.0))
      topLex.select(col("id_a").as("doc_id"), col("rank_lex"), lit(0L).as("rank_vec"))
        .unionByName(topVec.select(col("id_b").as("doc_id"),
          lit(0L).as("rank_lex"), col("rank_vec")))
        .groupBy("doc_id")
        .agg(max(col("rank_lex")).as("rank_lex"), max(col("rank_vec")).as("rank_vec"))
        .select(col("doc_id"), col("rank_lex"), col("rank_vec"),
          (floor((side(col("rank_lex")) + side(col("rank_vec"))) * lit(1000000.0)
            + lit(0.500001)) / lit(1000000.0)).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(20)
    }),

    // ---- sub-document (line-level) dedup ----------------------------------
    // Dolma/RefinedWeb-style line dedup with fixed 16-token blocks as the
    // sub-document unit (the synthetic corpus has no newline structure):
    // explode docs into blocks, keep only each block's GLOBAL first
    // occurrence (min (doc_id, start) — content-addressed, deterministic,
    // seedless), then reassemble the surviving blocks in document order.
    // Scale shape: one shuffle keyed on md5(block) for the first-occurrence
    // window — a 128-bit key, so no collision merges and the shuffle key
    // stays 32 bytes regardless of block width — then one shuffle back on
    // doc_id for reassembly. Both stages are line-count cardinality, never
    // all-pairs; a hot block (boilerplate repeated millions of times) costs
    // one partition's row_number scan, not a join explosion.
    // array_sort(collect_list(struct)) keeps reassembly order-stable
    // without a second window over the doc.
    //
    // Planted duplicates (the near-dup-query discipline): the corpus is
    // unioned with each doc's 32-token prefix at doc_id+1e6. The prefix
    // blocks coincide exactly with the original's first blocks, so every
    // planted doc must dedup to nothing (kept_blocks = 0) — the keep-first
    // path is exercised at every SF even though the raw corpus's random
    // blocks are unique.
    "q_line_dedup" -> ((s, dir) => {
      val toks = TextOps.tokens(col("text"))
      val base = t(s, dir, "documents")
      val planted = base.select((col("doc_id") + 1000000L).as("doc_id"),
        concat_ws(" ", slice(toks, lit(1), lit(2 * LineBlock))).as("text"))
      val blocks = base.select(col("doc_id"), col("text"))
        .unionByName(planted)
        .select(col("doc_id"), toks.as("toks"), size(toks).as("n"))
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(1), col("n"), lit(LineBlock))).as("start"))
        .select(col("doc_id"), col("start"),
          concat_ws(" ", slice(col("toks"), col("start"), lit(LineBlock)))
            .as("block_text"))
      blocks
        .withColumn("rn", row_number().over(
          Window.partitionBy(md5(col("block_text")))
            .orderBy(col("doc_id"), col("start"))))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_blocks"),
          sum(when(col("rn") === 1, 1L).otherwise(0L)).as("kept_blocks"),
          array_sort(collect_list(when(col("rn") === 1,
            struct(col("start"), col("block_text"))))).as("kept"))
        .select(col("doc_id"), col("n_blocks"), col("kept_blocks"),
          concat_ws(" ",
            transform(col("kept"), k => k("block_text"))).as("dedup_text"))
        .orderBy("doc_id")
    }),

    // ---- Z-order layout statistics ----------------------------------------
    // The deterministic relational face of a z-ordered file layout (a
    // range-partitioned write has SAMPLED boundaries, so can't be oracled):
    // min-max-normalize (l_partkey, l_suppkey) onto a 10-bit grid, Morton-
    // interleave to a 20-bit z-value, assign files by the top 4 z bits, and
    // report each file's min/max/span per dimension — the parquet row-group
    // pruning envelope. The invariant that makes z-order worth it: every
    // file spans ≤ 2⁸ = 256 cells in BOTH dimensions (a plain sort on one
    // key leaves the other spanning the full 1024-cell grid).
    // Scale shape: one tiny bounds aggregate broadcast back, z is a pure
    // shift/and/or codegen tree, then ONE groupBy(file) shuffle of ≤16
    // aggregate rows per task. Floor is explicit in the cell arithmetic:
    // Spark's double→long cast truncates while DuckDB's rounds — the
    // oracle pins FLOOR on both engines.
    "q_zorder" -> ((s, dir) => {
      val cells = (1L << ZBits) - 1L
      def cell(c: String, mn: String, mx: String): Column =
        when(col(mx) <= col(mn), lit(0L)).otherwise(
          floor((col(c).cast("double") - col(mn)) / (col(mx) - col(mn)) * cells)
            .cast("long"))
      val z = (0 until ZBits).map { i =>
        shiftleft(shiftright(col("zx"), i).bitwiseAND(lit(1L)), 2 * i)
          .bitwiseOR(shiftleft(shiftright(col("zy"), i).bitwiseAND(lit(1L)), 2 * i + 1))
      }.reduce(_ bitwiseOR _)
      val li = t(s, dir, "lineitem")
      val bounds = li.agg(
        min(col("l_partkey")).cast("double").as("mn1"),
        max(col("l_partkey")).cast("double").as("mx1"),
        min(col("l_suppkey")).cast("double").as("mn2"),
        max(col("l_suppkey")).cast("double").as("mx2"))
      li.crossJoin(broadcast(bounds))
        .select(cell("l_partkey", "mn1", "mx1").as("zx"),
          cell("l_suppkey", "mn2", "mx2").as("zy"))
        .select(col("zx"), col("zy"), shiftright(z, ZFileShift).as("file_id"))
        .groupBy("file_id")
        .agg(count(lit(1)).as("n_rows"),
          min("zx").as("min_x"), max("zx").as("max_x"),
          min("zy").as("min_y"), max("zy").as("max_y"))
        .select(col("file_id"), col("n_rows"),
          col("min_x"), col("max_x"), col("min_y"), col("max_y"),
          (col("max_x") - col("min_x") + 1).as("x_span"),
          (col("max_y") - col("min_y") + 1).as("y_span"))
        .orderBy("file_id")
    }),

    // ---- min/max file-pruning simulation ----------------------------------
    // The SKIP metric q_zorder's spans imply: how many parquet files does
    // a range predicate actually prune under (a) the natural arrival
    // layout (files = equal-width orderkey bins — the insert order) vs
    // (b) a partkey-clustered layout (files = equal-width partkey bins —
    // the deterministic face of a sort, the q_zorder no-sampling stance)?
    // 16 narrow partkey range predicates are checked against each file's
    // min/max footer stats; a file is skipped iff max < lo OR min > hi —
    // exactly the parquet row-group pruning rule. Everything is exact
    // integer/bin arithmetic off one broadcast bounds row; the per-file
    // census is ≤ 2·16 rows and the predicate check a 512-row literal
    // cross join. The headline number — clustered layout skips ~15/16 of
    // files where natural skips ~none — is the 100 TB argument for
    // layout-aware writes in one row pair.
    "q_minmax_prune" -> ((s, dir) => {
      val nFiles = 16L; val nPreds = 16
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val bounds = li.agg(min("ok").as("omn"), max("ok").as("omx"),
        min("pk").as("pmn"), max("pk").as("pmx"))
      def bin(c: Column, mn: Column, mx: Column): Column =
        least(floor((c - mn).cast("double")
          / (mx - mn + lit(1L)).cast("double") * lit(nFiles.toDouble))
          .cast("long"), lit(nFiles - 1L))
      val assigned = li.crossJoin(broadcast(bounds))
        .select(col("pk"), col("pmn"), col("pmx"),
          bin(col("ok"), col("omn"), col("omx")).as("f_nat"),
          bin(col("pk"), col("pmn"), col("pmx")).as("f_srt"))
      val files = assigned
        .select(col("pk"), col("pmn"), col("pmx"),
          explode(array(
            struct(lit("natural").as("layout"), col("f_nat").as("f")),
            struct(lit("clustered_pk").as("layout"), col("f_srt").as("f"))))
            .as("lf"))
        .groupBy(col("lf.layout").as("layout"), col("lf.f").as("f"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("pk")).as("mn"), max(col("pk")).as("mx"),
          min(col("pmn")).as("pmn"), min(col("pmx")).as("pmx"))
      val preds = s.range(nPreds).select(col("id").as("q"))
      val checked = files.crossJoin(broadcast(preds))
        .withColumn("span", (col("pmx") - col("pmn") + lit(1L)).cast("double"))
        .withColumn("lo", col("pmn")
          + floor(col("span") * col("q").cast("double") / lit(16.0))
            .cast("long"))
        .withColumn("hi", col("lo")
          + floor(col("span") / lit(32.0)).cast("long"))
        .withColumn("skipped",
          (col("mx") < col("lo") || col("mn") > col("hi")).cast("long"))
      checked.groupBy(col("layout"))
        .agg(countDistinct(col("f")).as("n_files"),
          count(lit(1)).as("n_checks"),
          sum(col("skipped")).as("n_skipped"))
        .select(col("layout"), col("n_files"), col("n_checks"),
          col("n_skipped"),
          r6(col("n_skipped").cast("double") / col("n_checks").cast("double"))
            .as("skip_frac"))
        .orderBy("layout")
    }),

    // ---- URL canonicalization dedup ---------------------------------------
    // The first stage of every web-corpus pipeline (Common Crawl dedup
    // starts at the URL, before any content hash): canonicalize raw URLs —
    // lowercase, strip fragments, strip utm_* tracking parameters, drop
    // the default :443 port, trim the trailing slash — and collapse to
    // canonical groups. Raw URLs are synthesized closed-form from doc_id
    // (mixed-case host, five clutter variants by doc_id mod 5) so the
    // oracle rebuilds them without plumbing a URL column through testdata;
    // the OPERATOR is the regexp canonicalization chain, which runs
    // identically on any real url column.
    //
    // Scale shape: canonicalization is a per-row codegen'd regexp chain
    // (no UDF), then ONE canonical-key groupBy with map-side combine;
    // count(distinct raw) rides Catalyst's standard distinct-expand on the
    // same shuffle. Lowercasing the WHOLE url is correct here because the
    // synthesized paths are digit-only; production would lowercase
    // scheme+host alone (documented deviation, not a silent one).
    "q_url_normalize" -> ((s, dir) => {
      val id = col("doc_id")
      val m5 = id % 5
      val port = when(m5 === 2, lit(":443")).otherwise(lit(""))
      val tail = when(m5 === 0,
          concat(lit("?utm_source=mail&utm_campaign=c"), id.cast("string")))
        .when(m5 === 1, concat(lit("#section-"), id.cast("string")))
        .when(m5 === 3, lit("/"))
        .otherwise(lit(""))
      val raw = concat(lit("https://WWW.Shop"), (id % 7).cast("string"),
        lit(".Example.COM"), port, lit("/item/"), (id % 50).cast("string"),
        tail)
      val canon = regexp_replace(regexp_replace(regexp_replace(
        regexp_replace(regexp_replace(lower(raw),
          "#.*$", ""),          // fragment never reaches the server
          "[?&]utm_[^&#]*", ""), // tracking params, every occurrence
          "\\?&", "?"),          // heal '?&rest' if a utm led the query
          ":443/", "/"),         // https default port
        "/$", "")                // trailing slash
      t(s, dir, "documents")
        .select(id.as("doc_id"), raw.as("raw_url"), canon.as("canonical_url"))
        .groupBy("canonical_url")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("raw_url")).as("n_variants"),
          min(col("doc_id")).as("min_doc_id"))
        .orderBy("canonical_url")
    }),

    // ---- Gopher quality-filter ruleset (oracle-backed) --------------------
    // The PUBLISHED named document-filter rules (Rae et al. 2021 §A1.1 —
    // the ruleset every web-corpus pipeline since has copied or tuned),
    // run as one shuffle-free projection per doc: word-count bounds, mean
    // word length bounds, symbol-to-word ratio (# and ... — the ASCII
    // subset this corpus can contain), bullet-line and ellipsis-line
    // ratios, alphabetic-word ratio, and the ≥2-distinct-stopwords
    // presence check. Emits one named flag PER RULE plus the conjunction —
    // the "why was this doc dropped" audit a silent 0/1 keep column can't
    // answer. Everything is exact integer counts off the token/line
    // arrays; the only floats are per-rule single divisions compared
    // against the published thresholds — both engines run identical
    // division-then-compare on identical integers. Scale: projection-only
    // (no shuffle at all before the dump sort), the q_text_quality shape.
    "q_gopher_rules" -> ((s, dir) => {
      val txt = col("text")
      val toks = graft.text.TextOps.tokens(txt)
      val lines = split(txt, "\n")
      val nWords = size(toks).cast("long")
      val sumLen = aggregate(
        transform(toks, t0 => length(t0).cast("long")), lit(0L), (a, x) => a + x)
      val meanLen = sumLen.cast("double") / nWords
      val hashN = (length(txt) - length(replace(txt, lit("#"), lit("")))).cast("long")
      val ellN = ((length(txt) - length(replace(txt, lit("..."), lit("")))) / 3)
        .cast("long")
      val symRatio = (hashN + ellN).cast("double") / nWords
      val nLines = size(lines).cast("long")
      val bulletN = size(filter(lines, l =>
        startswith(ltrim(l), lit("-")) || startswith(ltrim(l), lit("*"))))
        .cast("long")
      val ellLineN = size(filter(lines, l => endswith(rtrim(l), lit("..."))))
        .cast("long")
      val alphaN = size(filter(toks, t0 => t0.rlike("[A-Za-z]"))).cast("long")
      val stopN = size(array_intersect(array_distinct(toks),
        array(graft.text.TextOps.stopwordSeq.map(lit): _*))).cast("long")
      val rWords = (nWords >= 50L && nWords <= 100000L).cast("long")
      val rLen = (meanLen >= 3.0 && meanLen <= 10.0).cast("long")
      val rSym = (symRatio < 0.1).cast("long")
      val rBullet = (bulletN.cast("double") / nLines < 0.9).cast("long")
      val rEll = (ellLineN.cast("double") / nLines < 0.3).cast("long")
      val rAlpha = (alphaN.cast("double") / nWords > 0.8).cast("long")
      val rStop = (stopN >= 2L).cast("long")
      t(s, dir, "documents").select(col("doc_id"), nWords.as("n_words"),
        rWords.as("r_word_count"), rLen.as("r_mean_word_len"),
        rSym.as("r_symbol_ratio"), rBullet.as("r_bullet_lines"),
        rEll.as("r_ellipsis_lines"), rAlpha.as("r_alpha_words"),
        rStop.as("r_stopwords"),
        (rWords * rLen * rSym * rBullet * rEll * rAlpha * rStop).as("keep"))
        .orderBy("doc_id")
    })
  )

  /** The lexical and vector scores of q_hybrid_search: each document's BM25
    * (k1 = 1.2, b = 0.75) for the query terms table, hash and spark, and its
    * cosine to embedding 0 (s: doc_id, bm25, cos). */
  private[operators] val HybridScoresCte =
    """d AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      |  FROM documents
      |), f AS (
      |  SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
      |    CAST(len(list_filter(toks, x -> x = 'table')) AS DOUBLE) AS tf_table,
      |    CAST(len(list_filter(toks, x -> x = 'hash')) AS DOUBLE) AS tf_hash,
      |    CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE) AS tf_spark
      |  FROM d
      |), st AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl,
      |    SUM(CASE WHEN tf_table > 0 THEN 1.0 ELSE 0.0 END) AS df_table,
      |    SUM(CASE WHEN tf_hash > 0 THEN 1.0 ELSE 0.0 END) AS df_hash,
      |    SUM(CASE WHEN tf_spark > 0 THEN 1.0 ELSE 0.0 END) AS df_spark
      |  FROM f
      |), bm AS (
      |  SELECT doc_id,
      |    ln((n_docs - df_table + 0.5) / (df_table + 0.5) + 1.0)
      |      * (tf_table * 2.2) / (tf_table + 1.2 * (0.25 + 0.75 * dl / avgdl))
      |  + ln((n_docs - df_hash + 0.5) / (df_hash + 0.5) + 1.0)
      |      * (tf_hash * 2.2) / (tf_hash + 1.2 * (0.25 + 0.75 * dl / avgdl))
      |  + ln((n_docs - df_spark + 0.5) / (df_spark + 0.5) + 1.0)
      |      * (tf_spark * 2.2) / (tf_spark + 1.2 * (0.25 + 0.75 * dl / avgdl))
      |    AS bm25
      |  FROM f, st
      |), q AS (
      |  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
      |), s AS (
      |  SELECT bm.doc_id, bm.bm25,
      |    list_dot_product(e.embedding::DOUBLE[], qv)
      |      / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
      |         * sqrt(list_dot_product(qv, qv))) AS cos
      |  FROM bm JOIN embeddings e ON bm.doc_id = e.vec_id, q
      |  WHERE bm.doc_id > 0
      |)""".stripMargin

  val oracleSql: Map[String, String] = Map(

    // scalar-list generate_series + unnest: DuckDB's table-function form
    // rejects lateral column parameters (len(toks)) — the list form takes
    // them fine
    "q_doc_chunk" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |    unnest(generate_series(1, len(toks), 48)) AS start
        |  FROM d
        |)
        |SELECT doc_id, CAST(start AS BIGINT) AS chunk_start,
        |  CAST(LEAST(64, n - start + 1) AS BIGINT) AS chunk_len,
        |  array_to_string(list_slice(toks, start, start + 63), ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_start""".stripMargin,

    "q_stratified_sample" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY source) AS n_src
        |  FROM documents
        |)
        |SELECT doc_id, source FROM r
        |WHERE rn <= CEIL(n_src * 0.2) ORDER BY doc_id""".stripMargin,

    "q_quantile_bucket" ->
      """WITH b AS (
        |  SELECT quantile_cont(n_chars,
        |    [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bs
        |  FROM documents
        |), a AS (
        |  SELECT doc_id, n_chars,
        |    1 + len(list_filter(b.bs, x -> n_chars > x)) AS bucket
        |  FROM documents, b
        |)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
        |  FLOOR((AVG(n_chars)) * 100.0 + 0.500001) / 100.0 AS avg_chars
        |FROM a GROUP BY bucket ORDER BY bucket""".stripMargin,

    // same left-to-right term order as the Spark reduce, so the float sum
    // associates identically
    "q_bm25" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents
        |), f AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS DOUBLE) AS dl,
        |    CAST(len(list_filter(toks, x -> x = 'table')) AS DOUBLE) AS tf_table,
        |    CAST(len(list_filter(toks, x -> x = 'hash')) AS DOUBLE) AS tf_hash,
        |    CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE) AS tf_spark
        |  FROM d
        |), s AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl,
        |    SUM(CASE WHEN tf_table > 0 THEN 1.0 ELSE 0.0 END) AS df_table,
        |    SUM(CASE WHEN tf_hash > 0 THEN 1.0 ELSE 0.0 END) AS df_hash,
        |    SUM(CASE WHEN tf_spark > 0 THEN 1.0 ELSE 0.0 END) AS df_spark
        |  FROM f
        |)
        |SELECT doc_id, FLOOR((
        |    ln((n_docs - df_table + 0.5) / (df_table + 0.5) + 1.0)
        |      * (tf_table * 2.2) / (tf_table + 1.2 * (0.25 + 0.75 * dl / avgdl))
        |  + ln((n_docs - df_hash + 0.5) / (df_hash + 0.5) + 1.0)
        |      * (tf_hash * 2.2) / (tf_hash + 1.2 * (0.25 + 0.75 * dl / avgdl))
        |  + ln((n_docs - df_spark + 0.5) / (df_spark + 0.5) + 1.0)
        |      * (tf_spark * 2.2) / (tf_spark + 1.2 * (0.25 + 0.75 * dl / avgdl))
        |  ) * 10000.0 + 0.500001) / 10000.0 AS bm25
        |FROM f, s ORDER BY doc_id""".stripMargin,

    "q_vocab_growth" ->
      """WITH toks AS (
        |  SELECT source,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents
        |)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(DISTINCT term) AS BIGINT) AS n_terms,
        |  FLOOR((CAST(COUNT(DISTINCT term) AS DOUBLE) / COUNT(*))
        |    * 10000.0 + 0.500001) / 10000.0 AS ttr
        |FROM toks GROUP BY source ORDER BY source""".stripMargin,

    // per-column UNION ALL: the oracle recomputes each profile row
    // independently (it does not need the engine's one-pass shape)
    "q_column_profile" -> {
      val cols = Seq("o_custkey", "o_orderdate", "o_orderkey",
        "o_orderpriority", "o_orderstatus", "o_totalprice")
      cols.map { c =>
        val v = if (c == "o_orderdate") s"CAST($c AS DATE)" else c
        s"""SELECT '$c' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(SUM(CASE WHEN $v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |  CAST(COUNT(DISTINCT $v) AS BIGINT) AS n_distinct,
           |  CAST(MIN($v) AS VARCHAR) AS min_val,
           |  CAST(MAX($v) AS VARCHAR) AS max_val
           |FROM orders""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },

    // envelope: exact count in SQL; the two flags are the filter's
    // contract (no-false-negative is structural, fp bound is measured)
    "q_bloom_prefilter" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
        |  CAST(1 AS BIGINT) AS no_false_negative,
        |  CAST(1 AS BIGINT) AS fp_bounded
        |FROM lineitem
        |WHERE l_orderkey IN
        |  (SELECT o_orderkey FROM orders WHERE o_totalprice > 480000)""".stripMargin,

    // envelope: counts pin the planting arithmetic; the flags are the
    // drop rule's contract, measured engine-side with the same clustering
    "q_semdedup" ->
      """WITH p AS (
        |  SELECT COUNT(*) AS c FROM embeddings WHERE vec_id % 7 = 0
        |), t AS (
        |  SELECT COUNT(*) AS c FROM embeddings
        |)
        |SELECT CAST(t.c + p.c AS BIGINT) AS n_total,
        |  CAST(p.c AS BIGINT) AS n_planted,
        |  CAST(1 AS BIGINT) AS all_planted_dropped,
        |  CAST(1 AS BIGINT) AS no_dup_kept
        |FROM t, p""".stripMargin,

    "q_dedup_keep_best" ->
      """WITH doubled AS (
        |  SELECT doc_id, text, source, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, source, n_chars FROM documents
        |), r AS (
        |  SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY md5(text)
        |      ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM doubled
        |)
        |SELECT doc_id, source FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "q_bpe_pairs" ->
      """WITH d AS (
        |  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents
        |  WHERE len(regexp_split_to_array(trim(lower(text)), '\s+')) >= 2
        |), p AS (
        |  SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM d
        |)
        |SELECT toks[i] || ' ' || toks[i + 1] AS pair,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM p GROUP BY 1 ORDER BY n DESC, pair LIMIT 20""".stripMargin,

    "q_dataset_card" ->
      """WITH d AS (
        |  SELECT source, lang, n_chars,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_toks
        |  FROM documents
        |), a AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |    FLOOR((AVG(n_chars)) * 100.0 + 0.500001) / 100.0 AS avg_chars
        |  FROM d GROUP BY source
        |)
        |SELECT source, n_docs, n_tokens, n_langs, avg_chars,
        |  FLOOR((CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER ())
        |    * 10000.0 + 0.500001) / 10000.0 AS token_share
        |FROM a ORDER BY source""".stripMargin,

    // exact anchor via the q_jaccard_exact string-shingle pipeline at the
    // SOURCE level; the minhash-union estimate is engine-side, flagged
    "q_source_overlap" ->
      """WITH toks AS (
        |  SELECT source, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents WHERE source IN ('src0', 'src1')
        |), sh AS (
        |  SELECT DISTINCT source, unnest(list_transform(
        |    range(0, greatest(len(w)-3, 0) + 1),
        |    i -> array_to_string(w[i+1 : i+3], ' '))) AS g
        |  FROM toks
        |), agg AS (
        |  SELECT g, COUNT(DISTINCT source) AS ns FROM sh GROUP BY g
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_union,
        |  CAST(SUM(CASE WHEN ns = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_inter,
        |  FLOOR((CAST(SUM(CASE WHEN ns = 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*)) * 10000.0 + 0.500001) / 10000.0 AS exact_jaccard,
        |  CAST(1 AS BIGINT) AS est_within_025
        |FROM agg""".stripMargin,

    "q_corpus_pipeline" ->
      """WITH deduped AS (
        |  SELECT doc_id, text, lang, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM documents
        |), kept AS (
        |  SELECT doc_id, text, lang, n_chars FROM deduped
        |  WHERE rn = 1 AND n_chars >= 100
        |), split AS (
        |  SELECT lang, n_chars,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS toks,
        |    CASE WHEN md5(CAST(doc_id AS VARCHAR)) < 'c0000000'
        |      THEN 'train' ELSE 'val' END AS split
        |  FROM kept
        |)
        |SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(toks) AS BIGINT) AS n_tokens,
        |  FLOOR((AVG(n_chars)) * 100.0 + 0.500001) / 100.0 AS avg_chars
        |FROM split GROUP BY split, lang ORDER BY split, lang""".stripMargin,

    "q_vocab_coverage" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents
        |), c AS (
        |  SELECT term, COUNT(*) AS n FROM toks GROUP BY term
        |), r AS (
        |  SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, term) AS rk FROM c
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
        |  CAST(SUM(n) AS BIGINT) AS n_tokens,
        |  FLOOR((CAST(SUM(CASE WHEN rk <= 1000 THEN n ELSE 0 END) AS DOUBLE)
        |    / SUM(n)) * 10000.0 + 0.500001) / 10000.0 AS top1000_coverage
        |FROM r""".stripMargin,

    // both rankings recomputed with the exact q_bm25 formula and the
    // q_rrf_fusion cosine/fusion structure; ranks tie-break on doc_id
    "q_hybrid_search" ->
      s"""WITH $HybridScoresCte, a AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank_lex
        |  FROM s ORDER BY bm25 DESC, doc_id LIMIT 50
        |), b AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS rank_vec
        |  FROM s ORDER BY cos DESC, doc_id LIMIT 50
        |)
        |SELECT CAST(COALESCE(a.doc_id, b.doc_id) AS BIGINT) AS doc_id,
        |  CAST(COALESCE(rank_lex, 0) AS BIGINT) AS rank_lex,
        |  CAST(COALESCE(rank_vec, 0) AS BIGINT) AS rank_vec,
        |  FLOOR((COALESCE(1.0 / (60 + rank_lex), 0)
        |    + COALESCE(1.0 / (60 + rank_vec), 0)) * 1000000.0 + 0.500001)
        |    / 1000000.0 AS rrf
        |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
        |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin,

    // string_agg ignores the NULLed-out duplicate blocks; COALESCE matches
    // Spark's concat_ws('') on docs whose every block is a duplicate
    "q_line_dedup" ->
      """WITH u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |    array_to_string(list_slice(
        |      regexp_split_to_array(trim(text), '\s+'), 1, 32), ' ') AS text
        |  FROM documents
        |), d AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM u
        |), b AS (
        |  SELECT doc_id, toks,
        |    unnest(generate_series(1, len(toks), 16)) AS start
        |  FROM d
        |), blk AS (
        |  SELECT doc_id, start,
        |    array_to_string(list_slice(toks, start, start + 15), ' ') AS block_text
        |  FROM b
        |), r AS (
        |  SELECT doc_id, start, block_text,
        |    row_number() OVER (PARTITION BY block_text ORDER BY doc_id, start) AS rn
        |  FROM blk
        |)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_blocks,
        |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kept_blocks,
        |  COALESCE(string_agg(CASE WHEN rn = 1 THEN block_text END, ' '
        |    ORDER BY start), '') AS dedup_text
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // FLOOR pinned explicitly: DuckDB's double→BIGINT cast rounds where
    // Spark's truncates; the z-term tree is generated from the same loop
    // as the Spark column expression
    // same broadcast bounds row, equal-width bins, footer-rule skip check
    "q_minmax_prune" ->
      """WITH li AS (
        |  SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |), b AS (
        |  SELECT CAST(MIN(ok) AS BIGINT) AS omn, CAST(MAX(ok) AS BIGINT)
        |      AS omx,
        |    CAST(MIN(pk) AS BIGINT) AS pmn, CAST(MAX(pk) AS BIGINT) AS pmx
        |  FROM li
        |), assigned AS (
        |  SELECT pk, pmn, pmx,
        |    LEAST(CAST(FLOOR(CAST(ok - omn AS DOUBLE)
        |      / CAST(omx - omn + 1 AS DOUBLE) * 16.0) AS BIGINT), 15)
        |      AS f_nat,
        |    LEAST(CAST(FLOOR(CAST(pk - pmn AS DOUBLE)
        |      / CAST(pmx - pmn + 1 AS DOUBLE) * 16.0) AS BIGINT), 15)
        |      AS f_srt
        |  FROM li, b
        |), lf AS (
        |  SELECT 'natural' AS layout, f_nat AS f, pk, pmn, pmx FROM assigned
        |  UNION ALL
        |  SELECT 'clustered_pk', f_srt, pk, pmn, pmx FROM assigned
        |), files AS (
        |  SELECT layout, f, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(MIN(pk) AS BIGINT) AS mn, CAST(MAX(pk) AS BIGINT) AS mx,
        |    CAST(MIN(pmn) AS BIGINT) AS pmn, CAST(MIN(pmx) AS BIGINT) AS pmx
        |  FROM lf GROUP BY 1, 2
        |), checked AS (
        |  SELECT layout, f,
        |    CASE WHEN mx < pmn + CAST(FLOOR(CAST(pmx - pmn + 1 AS DOUBLE)
        |        * CAST(q.i AS DOUBLE) / 16.0) AS BIGINT)
        |      OR mn > pmn + CAST(FLOOR(CAST(pmx - pmn + 1 AS DOUBLE)
        |        * CAST(q.i AS DOUBLE) / 16.0) AS BIGINT)
        |        + CAST(FLOOR(CAST(pmx - pmn + 1 AS DOUBLE) / 32.0) AS BIGINT)
        |      THEN 1 ELSE 0 END AS skipped
        |  FROM files CROSS JOIN range(0, 16) q(i)
        |)
        |SELECT layout, CAST(COUNT(DISTINCT f) AS BIGINT) AS n_files,
        |  CAST(COUNT(*) AS BIGINT) AS n_checks,
        |  CAST(SUM(skipped) AS BIGINT) AS n_skipped,
        |  FLOOR(CAST(SUM(skipped) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    * 1000000.0 + 0.500001) / 1000000.0 AS skip_frac
        |FROM checked GROUP BY layout ORDER BY layout""".stripMargin,

    "q_zorder" -> {
      val cells = (1L << ZBits) - 1L
      val terms = (0 until ZBits).map { i =>
        s"(((zx >> $i) & 1) << ${2 * i}) | (((zy >> $i) & 1) << ${2 * i + 1})"
      }.mkString(" | ")
      s"""WITH b AS (
         |  SELECT CAST(min(l_partkey) AS DOUBLE) AS mn1, CAST(max(l_partkey) AS DOUBLE) AS mx1,
         |         CAST(min(l_suppkey) AS DOUBLE) AS mn2, CAST(max(l_suppkey) AS DOUBLE) AS mx2
         |  FROM lineitem
         |), g AS (
         |  SELECT
         |    CASE WHEN b.mx1 <= b.mn1 THEN 0 ELSE CAST(FLOOR(
         |      (CAST(l_partkey AS DOUBLE) - b.mn1) / (b.mx1 - b.mn1) * $cells) AS BIGINT) END AS zx,
         |    CASE WHEN b.mx2 <= b.mn2 THEN 0 ELSE CAST(FLOOR(
         |      (CAST(l_suppkey AS DOUBLE) - b.mn2) / (b.mx2 - b.mn2) * $cells) AS BIGINT) END AS zy
         |  FROM lineitem, b
         |), f AS (
         |  SELECT zx, zy, ($terms) >> $ZFileShift AS file_id FROM g
         |)
         |SELECT file_id, COUNT(*) AS n_rows,
         |  min(zx) AS min_x, max(zx) AS max_x, min(zy) AS min_y, max(zy) AS max_y,
         |  max(zx) - min(zx) + 1 AS x_span, max(zy) - min(zy) + 1 AS y_span
         |FROM f GROUP BY file_id ORDER BY file_id""".stripMargin
    },

    // same closed-form raw URLs, same five-step regexp chain; DuckDB's
    // regexp_replace defaults to first-match so the utm strip (the one
    // pattern that can occur twice) carries the explicit 'g' flag
    "q_url_normalize" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    'https://WWW.Shop' || CAST(doc_id % 7 AS VARCHAR)
        |      || '.Example.COM'
        |      || CASE WHEN doc_id % 5 = 2 THEN ':443' ELSE '' END
        |      || '/item/' || CAST(doc_id % 50 AS VARCHAR)
        |      || CASE
        |           WHEN doc_id % 5 = 0 THEN
        |             '?utm_source=mail&utm_campaign=c' || CAST(doc_id AS VARCHAR)
        |           WHEN doc_id % 5 = 1 THEN '#section-' || CAST(doc_id AS VARCHAR)
        |           WHEN doc_id % 5 = 3 THEN '/'
        |           ELSE '' END AS raw_url
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, raw_url,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(lower(raw_url),
        |        '#.*$', ''),
        |        '[?&]utm_[^&#]*', '', 'g'),
        |        '\?&', '?'),
        |        ':443/', '/'),
        |        '/$', '') AS canonical_url
        |  FROM raw
        |)
        |SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(DISTINCT raw_url) AS BIGINT) AS n_variants,
        |  CAST(MIN(doc_id) AS BIGINT) AS min_doc_id
        |FROM c GROUP BY canonical_url ORDER BY canonical_url""".stripMargin,

    // identical tokenization/line split, exact integer counts per rule,
    // identical division-then-compare against the published thresholds
    "q_gopher_rules" ->
      s"""WITH d AS (
         |  SELECT doc_id, text,
         |    regexp_split_to_array(trim(text), '\\s+') AS w,
         |    string_split(text, chr(10)) AS lines
         |  FROM documents
         |), f AS (
         |  SELECT doc_id,
         |    CAST(len(w) AS BIGINT) AS n_words,
         |    CAST(list_sum(list_transform(w, t -> CAST(length(t) AS BIGINT)))
         |      AS BIGINT) AS sum_len,
         |    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
         |      AS hash_n,
         |    CAST((length(text) - length(replace(text, '...', ''))) // 3
         |      AS BIGINT) AS ell_n,
         |    CAST(len(lines) AS BIGINT) AS n_lines,
         |    CAST(len(list_filter(lines, l -> starts_with(ltrim(l), '-')
         |      OR starts_with(ltrim(l), '*'))) AS BIGINT) AS bullet_n,
         |    CAST(len(list_filter(lines, l -> ends_with(rtrim(l), '...')))
         |      AS BIGINT) AS ell_line_n,
         |    CAST(len(list_filter(w, t -> regexp_matches(t, '[A-Za-z]')))
         |      AS BIGINT) AS alpha_n,
         |    CAST(len(list_intersect(list_distinct(w),
         |      [${graft.text.TextOps.stopwordsInList}])) AS BIGINT) AS stop_n
         |  FROM d
         |), r AS (
         |  SELECT doc_id, n_words,
         |    CAST(CASE WHEN n_words >= 50 AND n_words <= 100000
         |      THEN 1 ELSE 0 END AS BIGINT) AS r_word_count,
         |    CAST(CASE WHEN CAST(sum_len AS DOUBLE) / n_words >= 3.0
         |        AND CAST(sum_len AS DOUBLE) / n_words <= 10.0
         |      THEN 1 ELSE 0 END AS BIGINT) AS r_mean_word_len,
         |    CAST(CASE WHEN CAST(hash_n + ell_n AS DOUBLE) / n_words < 0.1
         |      THEN 1 ELSE 0 END AS BIGINT) AS r_symbol_ratio,
         |    CAST(CASE WHEN CAST(bullet_n AS DOUBLE) / n_lines < 0.9
         |      THEN 1 ELSE 0 END AS BIGINT) AS r_bullet_lines,
         |    CAST(CASE WHEN CAST(ell_line_n AS DOUBLE) / n_lines < 0.3
         |      THEN 1 ELSE 0 END AS BIGINT) AS r_ellipsis_lines,
         |    CAST(CASE WHEN CAST(alpha_n AS DOUBLE) / n_words > 0.8
         |      THEN 1 ELSE 0 END AS BIGINT) AS r_alpha_words,
         |    CAST(CASE WHEN stop_n >= 2 THEN 1 ELSE 0 END AS BIGINT)
         |      AS r_stopwords
         |  FROM f
         |)
         |SELECT doc_id, n_words, r_word_count, r_mean_word_len,
         |  r_symbol_ratio, r_bullet_lines, r_ellipsis_lines, r_alpha_words,
         |  r_stopwords,
         |  r_word_count * r_mean_word_len * r_symbol_ratio * r_bullet_lines
         |    * r_ellipsis_lines * r_alpha_words * r_stopwords AS keep
         |FROM r ORDER BY doc_id""".stripMargin
  )
}
