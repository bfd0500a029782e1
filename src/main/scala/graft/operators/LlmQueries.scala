package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.io.Sources.{table => t}
import graft.text.TextOps
import graft.dedup.Dedup
import graft.similarity.Ann
import graft.multimodal.Multimodal
import graft.functions.ColumnOps
import graft.functions.ColumnOps.{r2, r4, r6}

/** Harness entries for the training-data-pipeline operator families
  * (dedup / similarity / text analysis / multimodal) over
  * `documents.parquet` and `embeddings.parquet`.
  *
  * Every entry is oracle-backed: SQL-expressible stats hash-match directly;
  * LSH/ANN/fingerprint surfaces use envelope contracts (SQL-recomputable
  * scalars + measured contract flags — see the per-query scaladoc).
  *
  * The near-dup queries run on the corpus UNION a deterministically
  * perturbed copy (last two tokens dropped, doc_id offset by 1e6): the
  * planted pairs guarantee non-empty candidate output at every SF while
  * exercising exactly the bucketed join path that matters at 100 TB.
  */
object LlmQueries {

  /** documents scan fanned out to the session's full parallelism: the local
    * testdata is one parquet file → one input task, which would serialize
    * the CPU-heavy per-row signature/trigram work onto a single core. One
    * tiny shuffle of doc rows buys full-width parallelism; on a real
    * many-file 100 TB table the scan parallelizes naturally and this
    * repartition collapses into normal input splits.
    */
  private def docs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").repartition(s.sparkContext.defaultParallelism)

  /** Per-source term counts `(source, term, f)`: each document's lowercased
    * tokens (empty ones dropped) counted per (source, term) — one
    * (source, term) shuffle to exact BIGINT counts. */
  private def termCounts(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("source"),
        explode(TextOps.tokens(lower(col("text")))).as("term"))
      .where(length(col("term")) > 0)
      .groupBy("source", "term").agg(count(lit(1)).as("f"))

  /** The DuckDB mirror of [[termCounts]]: the counts CTE (source, term, f). */
  private val TermCountsCte =
    """counts AS (
      |  SELECT source, t.x AS term, CAST(COUNT(*) AS BIGINT) AS f
      |  FROM (SELECT source,
      |          regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      |        FROM documents) d, LATERAL unnest(toks) AS t(x)
      |  WHERE len(t.x) > 0
      |  GROUP BY source, t.x
      |)""".stripMargin

  /** The output rows of q_multimodal_audio, q_multimodal_aiff and
    * q_multimodal_f32: format metadata plus rms, mean |v| and peak. */
  private def audioRows(feats: Dataset[Multimodal.AudioFeatures]): DataFrame =
    feats.toDF()
      .select(col("media_id"), col("mime"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("n_channels").cast("long").as("n_channels"),
        col("n_frames"),
        r4(element_at(col("feature"), 1)).as("rms"),
        r4(element_at(col("feature"), 2)).as("mean_abs"),
        element_at(col("feature"), 3).cast("long").as("peak"))
      .orderBy("media_id")

  /** The output rows of q_multimodal_frames and q_multimodal_gif: every
    * 2nd frame of each clip with its dims and luminance mean/min/max. */
  private def frameRows(media: Dataset[Multimodal.MediaRow]): DataFrame =
    Multimodal.extractVideoFrames(media, sampleEvery = 2).toDF()
      .select(col("media_id"),
        col("frame_idx").cast("long").as("frame_idx"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        r4(element_at(col("feature"), 1)).as("mean_lum"),
        element_at(col("feature"), 2).cast("long").as("min_lum"),
        element_at(col("feature"), 3).cast("long").as("max_lum"))
      .orderBy("media_id", "frame_idx")

  /** k-means geometry for q_kmeans (clusters / Lloyd iterations / dim). */
  val KmeansK = 8
  val KmeansIters = 5
  val KmeansDim = 64

  /** Corpus + planted near-duplicates (deterministic perturbation). */
  def withPlantedNearDups(docs: DataFrame): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val perturbed = docs.select(
      (col("doc_id") + 1000000L).as("doc_id"),
      concat_ws(" ", slice(toks, lit(1), greatest(size(toks) - 2, lit(1)))).as("text"),
      col("lang"), col("source"), col("n_chars"))
    docs.select("doc_id", "text", "lang", "source", "n_chars").unionByName(perturbed)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- text analysis (oracle-backed) ------------------------------------
    "q_text_stats" -> ((s, dir) => {
      TextOps.textStats(t(s, dir, "documents")).orderBy("doc_id")
    }),

    "q_text_quality" -> ((s, dir) => {
      TextOps.qualityScore(t(s, dir, "documents"))
        .withColumn("stop_ratio", r4(col("stop_ratio")))
        .withColumn("avg_token_len", r4(col("avg_token_len")))
        .orderBy("doc_id")
    }),

    "q_lang_stats" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          r2(avg(length(col("text")))).as("avg_len"))
        .orderBy("lang")
    }),

    // ---- readability scorecard per source (r11) ----------------------------
    // The classic curation signal q_text_quality's stopword/length ratios
    // approximate from the side: Flesch reading ease + Flesch–Kincaid
    // grade (Flesch 1948; Kincaid 1975) from exact integer word /
    // sentence / syllable censuses — words = nonempty whitespace tokens,
    // sentences = [.!?]+ runs (≥1 per doc), syllables ≈ [aeiouy]+ vowel
    // groups (the standard heuristic; ASCII classes, so Java regex and
    // RE2 count identically — the q_charclass_profile discipline). One
    // pushed-down documents scan, three per-doc regex counts inside
    // codegen, one ≤|sources| aggregate; the two scores are closed-form
    // floats of the exact BIGINT totals (a wordless source abstains NULL).
    "q_readability" -> ((s, dir) => {
      val words = size(filter(TextOps.tokens(lower(col("text"))),
        tk => length(tk) > 0))
      val sentences = greatest(
        size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))), lit(1))
      val syllables =
        size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))
      val g = t(s, dir, "documents")
        .select(col("source"), words.as("w"), sentences.as("st"),
          syllables.as("sy"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("nw"),
          sum(col("st")).as("ns"), sum(col("sy")).as("nsy"))
      val wps = col("nw").cast("double") / col("ns").cast("double")
      val spw = col("nsy").cast("double") / col("nw").cast("double")
      val ok = col("nw") > 0L
      g.select(col("source"), col("n_docs"), col("nw").as("n_words"),
          col("ns").as("n_sentences"), col("nsy").as("n_syllables"),
          when(ok, r4(lit(206.835) - lit(1.015) * wps - lit(84.6) * spw))
            .as("flesch_ease"),
          when(ok, r4(lit(0.39) * wps + lit(11.8) * spw - lit(15.59)))
            .as("fk_grade"))
        .orderBy("source")
    }),

    // oracle-backed: blocked record linkage — the entity-resolution shape:
    // block on a coarse key (p_brand), generate candidate pairs WITHIN the
    // block only (each row vs its successor — bounded fan-out, never the
    // block's all-pairs), score with the native Jaro–Winkler codegen kernel,
    // threshold at 0.85. Scale shape: ONE shuffle on the blocking key, one
    // window lead, then pure projection scoring inside whole-stage codegen —
    // linkage over 100 TB costs a sort-by-block, not a join. DuckDB ships
    // the same Winkler variant (0.7 boost gate, prefix≤4, scale 0.1), so
    // the gate is an exact per-pair hash match at 4 decimals.
    "q_record_linkage" -> ((s, dir) => {
      val block = org.apache.spark.sql.expressions.Window
        .partitionBy(col("p_brand")).orderBy(col("p_partkey"))
      t(s, dir, "part")
        .select(col("p_partkey"), col("p_name"),
          lead(col("p_partkey"), 1).over(block).as("cand_key"),
          lead(col("p_name"), 1).over(block).as("cand_name"))
        .where(col("cand_key").isNotNull)
        .select(col("p_partkey"), col("cand_key"),
          r4(call_function("jaro_winkler", col("p_name"), col("cand_name")))
            .as("jw"))
        .select(col("p_partkey"), col("cand_key"), col("jw"),
          (col("jw") >= 0.85).cast("long").as("is_match"))
        .orderBy("p_partkey", "cand_key")
    }),

    // oracle-backed: edit distance between each doc and its perturbed twin
    // (fuzzy matching; levenshtein is the same classic DP in both engines).
    // The 3-arg form bands the DP at width 100: the true distance is
    // structurally ≤ 2 tokens + 2 spaces (≈20 chars), so the band never
    // clips — same values at a fraction of the full O(len²) table. Like
    // the other brute-force anchors the query runs on a bounded slice:
    // char-level DP over full documents is a per-pair VERIFY step, never
    // a corpus-wide sweep (that's what Jaccard/simhash candidates are for)
    "q_edit_distance" -> ((s, dir) => {
      // r17: the graft lev_banded kernel replaces Spark's levenshtein —
      // same contract (exact distance when ≤ band, −1 past it), but with
      // common-prefix/suffix pruning, which provably preserves the
      // distance and collapses the O(len·band) DP to O(tail²) on this
      // candidate = doc-minus-last-two-tokens shape (the shared prefix is
      // nearly the whole document). Values are bitwise-unchanged; the
      // DuckDB oracle still recomputes the unbounded distance itself.
      val toks = TextOps.tokens(col("text"))
      val banded = call_function("lev_banded", col("text"),
        concat_ws(" ", slice(toks, lit(1), greatest(size(toks) - 2, lit(1)))),
        lit(100)).cast("long")
      // the band-never-clips invariant is enforced, not assumed (r3
      // ADVICE): a -1 from the banded DP means a generator change pushed
      // the perturbation past 100 chars — fail loudly instead of silently
      // diverging from the oracle's unbounded distance. The guard lives in
      // a SECOND projection over the materialized attribute: both branches
      // of a CaseWhen are conditional, so codegen subexpression elimination
      // does not dedupe them, and a one-projection form runs the O(len·band)
      // DP twice per row (measured 2.4×); CollapseProject keeps the split
      // because levenshtein is non-cheap and referenced twice.
      t(s, dir, "documents").where(col("doc_id") < 1000)
        .select(col("doc_id"), banded.as("edit_dist"))
        .select(col("doc_id"),
          when(col("edit_dist") >= 0, col("edit_dist")).otherwise(raise_error(concat(
            lit("q_edit_distance: levenshtein band 100 clipped at doc_id="),
            col("doc_id").cast("string")))).as("edit_dist"))
        .orderBy("doc_id")
    }),

    // oracle-backed: duplicate-n-gram fraction — the standard repeated-
    // content quality filter for LLM corpora (high rep_ratio = boilerplate
    // / degenerate repetition). Total vs distinct word-3-gram counts.
    "q_text_repetition" -> ((s, dir) => {
      val toks = TextOps.tokens(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          greatest(size(toks) - 2, lit(1)).cast("long").as("n_grams"),
          size(Dedup.shingleHashSet(col("text"), 3)).cast("long").as("n_unique"))
        .withColumn("rep_ratio",
          r4(lit(1.0) - col("n_unique").cast("double") / col("n_grams")))
        .orderBy("doc_id")
    }),

    // oracle-backed: reproducible content-addressed train/val/test split —
    // pure projection on md5(doc_id), no RNG state, no shuffle before the
    // summary aggregate
    "q_hash_split" -> ((s, dir) => {
      Sampling.hashSplit(t(s, dir, "documents"), col("doc_id"))
        .groupBy("split")
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"))
        .orderBy("split")
    }),

    // oracle-backed: temperature-scaled source sampling (the mT5 /
    // XLM-R / LLaMA multilingual-mixing recipe, Conneau et al. 2020:
    // p_s ∝ p_raw^α with α = 0.3) — the knob that up-samples small
    // sources without letting any source dominate. One explode-free
    // aggregate to the ≤|sources| frame (token counts are exact BIGINTs
    // off the q_token_entropy split), then p_raw^α computed as
    // exp(α·ln p) — the SAME two-libm-call sequence on both engines —
    // normalized over the bounded frame; effective epochs = how many
    // times a source is re-seen per mixture epoch. Scale: the corpus
    // reduces in one partial-aggregated scan; everything after is a
    // ≤|sources|-row window.
    "q_alpha_sampling" -> ((s, dir) => {
      val toks = size(TextOps.tokens(lower(col("text")))).cast("long")
      val src = t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(toks).as("n_tokens"))
      val w = BoundedWindow.whole(col("source"))
      val pRaw = col("n_tokens").cast("double") /
        sum(col("n_tokens")).over(w).cast("double")
      val v = exp(lit(0.3) * log(pRaw))
      val withV = src.select(col("source"), col("n_docs"), col("n_tokens"),
        pRaw.as("p_raw"), v.as("v"))
      withV.select(col("source"), col("n_docs"), col("n_tokens"),
          r6(col("p_raw")).as("p_raw"),
          r6(col("v") / sum(col("v")).over(w)).as("p_alpha"),
          r4((col("v") / sum(col("v")).over(w)) / col("p_raw"))
            .as("eff_epochs"))
        .orderBy("source")
    }),

    // oracle-backed: Count–Min sketch (Cormode–Muthukrishnan 2005) — the
    // sublinear frequency sketch beside HLL distinct (q_approx_distinct),
    // here with its 2048-cell table BUILT RELATIONALLY so the oracle
    // replays the entire sketch, not just its answers: d = 4 pairwise-
    // independent rows h_r(k) = (((k mod P)·A_r + B_r) mod P) mod 512
    // over the Mersenne prime P = 2³¹−1 with literal constants (pure
    // integer — no engine hash), one ×4 explode scan partial-aggregating
    // to the bounded cell frame, point queries = min over the 4 probed
    // cells. The key is reduced mod P BEFORE the multiply so the product
    // is bounded by (P−1)·max(A) ≈ 5.7e18 < 2⁶³ at ANY key magnitude —
    // the unreduced form overflows int64 for keys ≳ 3.47e9, where Spark
    // silently wraps while DuckDB raises, a cross-engine divergence.
    // The audit row carries the CMS contract: the estimate can NEVER
    // undercount (flag must be 1), and overshoot is the collision mass
    // the ε = e/512 bound prices. All exact BIGINTs end-to-end.
    "q_count_min" -> ((s, dir) => {
      val P = 2147483647L
      val W = 512L
      val as = Seq(1103515245L, 2654435761L, 1597334677L, 805306457L)
      val bs = Seq(12345L, 97L, 1299709L, 40503L)
      def h(r: Int, k: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        pmod(pmod(pmod(k, lit(P)) * lit(as(r)) + lit(bs(r)), lit(P)), lit(W))
      val ev = t(s, dir, "events")
      val cells = ev.select(explode(array((0 until 4).map(r =>
          struct(lit(r.toLong).as("r"), h(r, col("user_id")).as("c"))): _*))
          .as("rc"))
        .groupBy(col("rc.r").as("r"), col("rc.c").as("c"))
        .agg(count(lit(1)).as("n"))
      val probes = ev.sparkSession.range(1, 6)
        .select(col("id").as("probe_id"),
          explode(array((0 until 4).map(r =>
            struct(lit(r.toLong).as("r"), h(r, col("id")).as("c"))): _*))
            .as("rc"))
        .select(col("probe_id"), col("rc.r").as("r"), col("rc.c").as("c"))
      val est = probes
        .join(broadcast(cells), Seq("r", "c"), "left")
        .groupBy("probe_id")
        .agg(min(coalesce(col("n"), lit(0L))).as("cms_estimate"))
      val truth = ev.groupBy(col("user_id").as("probe_id"))
        .agg(count(lit(1)).as("true_count"))
        .where(col("probe_id").between(1L, 5L))
      est.join(truth, Seq("probe_id"), "left")
        .select(col("probe_id"),
          coalesce(col("true_count"), lit(0L)).as("true_count"),
          col("cms_estimate"),
          (col("cms_estimate") >= coalesce(col("true_count"), lit(0L)))
            .cast("long").as("never_undercounts"))
        .orderBy("probe_id")
    }),

    // oracle-backed: HyperLogLog FROM SCRATCH (Flajolet et al. 2007) —
    // q_approx_distinct trusts Spark's built-in HLL; this one builds the
    // sketch relationally so the oracle replays its INTERNALS: a 52-bit
    // content-addressed md5 hash splits into bucket = h mod 256 and the
    // 44-bit suffix whose leading-zero rank ρ = 45 − len(bin(z)) is pure
    // string-of-binary integer algebra (no log2 float); registers are a
    // 256-row max aggregate; and the harmonic-mean denominator is kept
    // as the EXACT INTEGER Σ 2^{45−M_j} + V·2^45 (each term a power-of-
    // two table lookup, total < 2^53), so the raw estimate is ONE float
    // division of exact integers — the small-range linear-counting
    // correction (E ≤ 2.5m, V > 0) replays identically. One scan,
    // map-side-combined 256-cell shuffle, bounded everything.
    "q_hll_custom" -> ((s, dir) => {
      val m = 256L
      val h = conv(substring(md5(col("user_id").cast("string")
        .cast("binary")), 1, 13), 16, 10).cast("long")
      val powArr = array((0 to 45).map(i => lit(1L << i)): _*)
      val ev = t(s, dir, "events")
      val regs = ev
        .select(pmod(h, lit(m)).as("bucket"),
          floor((h / lit(256.0))).cast("long").as("z"))
        .select(col("bucket"),
          when(col("z") === 0L, 45L)
            .otherwise(lit(45L) - length(bin(col("z")))).as("rho"))
        .groupBy("bucket").agg(max(col("rho")).as("mr"))
      val sk = regs.agg(count(lit(1)).as("n_regs"),
        sum(element_at(powArr, (lit(46L) - col("mr")).cast("int")))
          .as("s_present"))
      val truth = ev.agg(countDistinct(col("user_id")).as("n_exact"))
      val v0 = lit(m) - col("n_regs")
      val sInt = col("s_present") + v0 * lit(1L << 45)
      val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0))
      val eRaw = alpha * lit(65536.0) * lit(35184372088832.0) /
        sInt.cast("double")
      val est = when(eRaw <= lit(640.0) && v0 > 0L,
        lit(256.0) * log(lit(256.0) / v0.cast("double"))).otherwise(eRaw)
      sk.crossJoin(broadcast(truth))
        .select(col("n_exact"), col("n_regs"), v0.as("empty_registers"),
          r2(est).as("hll_estimate"),
          r6(abs(est - col("n_exact").cast("double")) /
            col("n_exact").cast("double")).as("rel_err"),
          (abs(est - col("n_exact").cast("double")) /
            col("n_exact").cast("double") <= lit(0.195)).cast("long")
            .as("within_3sigma"))
    }),

    // oracle-backed: weighted reservoir sampling WITHOUT replacement
    // (Efraimidis–Spirakis 2006) — the one-pass quality-weighted corpus
    // subsampler: key_i = u_i^{1/w_i} with the uniform content-addressed
    // from md5(doc_id) (the q_bootstrap_ci discipline — zero RNG state,
    // replays identically on any engine/partitioning), take the top-k
    // keys. Length-weighted here (w = n_chars), so long documents are
    // proportionally favored exactly as inclusion-probability theory
    // prescribes. Scale shape: pure projection + one distributed top-k
    // heap (TakeOrdered — no global sort materializes); the corpus never
    // shuffles. Both engines compute the identical (ln u)/w → exp
    // sequence, so the selected SET and order are identical; r6 on the
    // displayed key absorbs ulps.
    "q_weighted_reservoir" -> ((s, dir) => {
      val u = (conv(substring(md5(concat(lit("wrs#"),
        col("doc_id").cast("string")).cast("binary")), 1, 8), 16, 10)
        .cast("double") + lit(0.5)) / lit(4294967296.0)
      val key = exp(log(u) / col("n_chars").cast("double"))
      // zero-weight docs are EXCLUDED, not keyed: ln(u)/0 is NULL on Spark
      // but -inf → exp → 0.0 on DuckDB (a latent cross-engine ranking
      // divergence), and Efraimidis–Spirakis assigns w=0 items inclusion
      // probability 0 anyway — the filter IS the correct semantics
      t(s, dir, "documents")
        .where(col("n_chars") > 0)
        .select(col("doc_id"), col("n_chars").as("weight"), key.as("k0"))
        .orderBy(col("k0").desc, col("doc_id"))
        .limit(20)
        .select(row_number().over(BoundedWindow.ordered(col("doc_id"),
            col("k0").desc, col("doc_id"))).cast("long").as("rank"),
          col("doc_id"), col("weight"), r6(col("k0")).as("key"))
        .orderBy("rank")
    }),

    // oracle-backed: corpus mixing — per-source keep fractions via the
    // same content-addressed rule (keep all of src0, half of src1, a
    // quarter of src2, drop the rest)
    "q_weighted_sample" -> ((s, dir) => {
      Sampling.weightedSample(t(s, dir, "documents"), col("doc_id"), col("source"),
          Seq("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25))
        .groupBy("source")
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"))
        .orderBy("source")
    }),

    // oracle-backed: snapshot diff / CDC — deterministic planted deletes
    // (k%97), updates (k%13, +1.5), and inserts (k%101, shifted keys)
    // against the orders snapshot; one full-outer key join classifies
    // every change, unchanged majority filtered at the join output.
    "q_snapshot_diff" -> ((s, dir) => {
      val base = t(s, dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("v"))
      val next = base.where(col("k") % 97 =!= 0)
        .select(col("k"),
          when(col("k") % 13 === 0, col("v") + 1.5).otherwise(col("v")).as("v"))
        .unionByName(base.where(col("k") % 101 === 0)
          .select((col("k") + 10000000L).as("k"), col("v")))
      SnapshotDiff.diff(base, next, Seq("k")).orderBy("k")
    }),

    // envelope-contract oracle: single-pass heavy hitters over the token
    // stream (Spark's stat.freqItems — the Karp/Misra-Gries family whose
    // published guarantee is NO FALSE NEGATIVES: every term with frequency
    // > support·N is in the sketch, possibly plus false positives). The
    // contract emits the exact heavy-hitter count (SQL-expressible) and a
    // flag that the sketch caught every one — at 100 TB this is the
    // one-pass bounded-memory alternative to a full vocab groupBy.
    "q_freq_items" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(TextOps.tokens(lower(col("text")))).as("term"))
      val support = 0.01
      // two corpus scans total: the sketch pass and ONE exact groupBy —
      // the total token count is SUM(c) over the vocab-sized counts frame
      // (cached: it is read twice and tiny; harness sweeps release it),
      // not a third full-corpus count() job
      val counts = toks.groupBy("term").agg(count(lit(1)).as("c")).cache()
      val total = counts.agg(sum(col("c"))).head().getLong(0)
      val sketch = toks.stat.freqItems(Seq("term"), support)
        .head().getSeq[String](0).toArray
      val truth = counts.where(col("c") > lit(support) * lit(total.toDouble))
      truth.agg(count(lit(1)).as("n_heavy"),
          coalesce(sum(when(col("term").isin(sketch.toIndexedSeq: _*), 0L)
            .otherwise(1L)), lit(0L)).as("n_missed"))
        .select(col("n_heavy"), (col("n_missed") === 0L).cast("long").as("all_found"))
    }),

    // oracle-backed: corpus mixing under TOKEN budgets — fill each source's
    // budget in content-addressed md5 order (partial cut on src0/src2,
    // budget covers all of src1, zero budget empties src3, every other
    // source unbudgeted → dropped). Exact per-doc running offsets are part
    // of the output, so the oracle pins the whole prefix-sum, not just
    // membership. Two-level bucket prefix sums — no per-source hot task.
    "q_token_budget" -> ((s, dir) => {
      Sampling.tokenBudgetMix(t(s, dir, "documents"), col("doc_id"), col("source"),
          size(TextOps.tokens(col("text"))).cast("long"),
          Seq("src0" -> 800L, "src1" -> 100000L, "src2" -> 400L, "src3" -> 0L))
        .select(col("doc_id"), col("source"), col("cum_tokens_before"))
        .orderBy("doc_id")
    }),

    // envelope-contract oracle: TRAINED quality classifier (L2 logistic
    // regression on per-doc stats, the classifier-filtered-corpus stage).
    // Ground truth is linear in (n_tokens, avg_token_len) with 5% hash
    // flips, so the fit must recover the boundary: accuracy ≥ 0.90 is the
    // contract (flips alone bound it near 0.95). n_docs/n_pos pin the
    // planting arithmetic in SQL; the flag pins the fit.
    "q_quality_classifier" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val nTok = size(TextOps.tokens(col("text"))).cast("double")
      val feats = d.select(col("doc_id"),
        nTok.as("f_ntok"),
        (length(col("text")).cast("double") / nTok).as("f_alen"),
        length(col("text")).cast("double").as("f_nchars"))
      val zTrue = (col("f_ntok") - 56.0) * 0.05 + (col("f_alen") - 5.4) * 1.5
      val flip = md5(col("doc_id").cast("string").cast("binary")) < "0ccccccc"
      val labeled = feats.withColumn("label", ((zTrue > 0.0) =!= flip).cast("long"))
      val model = graft.quality.QualityClassifier.fit(labeled,
        Seq("f_ntok", "f_alen", "f_nchars"), "label")
      model.score(labeled)
        .agg(count(lit(1)).as("nd"), sum(col("label")).as("np"),
          avg((col("quality_pred") === col("label")).cast("double")).as("acc"))
        .select(col("nd").as("n_docs"), col("np").as("n_pos"),
          (col("acc") >= 0.90).cast("long").as("acc_ge_090"))
    }),

    // oracle-backed: smoothed TF-IDF top-3 terms per document
    "q_tfidf" -> ((s, dir) => {
      TextOps.tfidf(t(s, dir, "documents"), k = 3)
        .withColumn("tfidf", r4(col("tfidf")))
        .orderBy("doc_id", "rank")
    }),

    // oracle-backed: term burstiness (Church & Gale 1995) — a word that
    // is rare overall but CLUMPS inside the documents that use it (index
    // of dispersion var/mean of per-doc tf, zeros included, ≫ 1) behaves
    // nothing like its Poisson rate suggests: the signal behind keyword-
    // spam detection and df-vs-tf weighting decisions. One explode scan →
    // (doc, term) tf → vocab-bounded term frame with exact BIGINT/
    // decimal-38 Σtf and Σtf²; mean/var/dispersion are closed-form floats
    // over those integers; top-20 by (total tf, term).
    "q_term_burstiness" -> ((s, dir) => {
      val toks = TextOps.tokens(lower(col("text")))
      val d = t(s, dir, "documents")
      val nDocs = d.agg(count(lit(1)).as("n_docs"))
      val tf = d.select(col("doc_id"), explode(toks).as("w"))
        .where(length(col("w")) > 0)
        .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      val term = tf.groupBy("w")
        .agg(count(lit(1)).as("df"), sum(col("tf")).as("tf_total"),
          sum(col("tf").cast("decimal(38,0)") * col("tf")).as("tf_sq"))
        .crossJoin(broadcast(nDocs))
      val nD = col("n_docs").cast("double")
      val mean = col("tf_total").cast("double") / nD
      val vr = col("tf_sq").cast("double") / nD - mean * mean
      val disp = vr / mean
      term.orderBy(col("tf_total").desc, col("w"))
        .limit(20)
        .select(col("w").as("term"), col("df"), col("tf_total"),
          r6(mean).as("mean_tf"), r6(disp).as("dispersion"),
          (disp > lit(1.5)).cast("long").as("bursty"))
        .orderBy(col("tf_total").desc, col("term"))
    }),

    // oracle-backed: PMI collocation extraction (Church & Hanks 1990) —
    // the adjacent-word-pair mining step that surfaces multiword units
    // ("new york") before tokenizer/vocab decisions. Bigrams come from
    // zip_with over the SAME token arrays q_tfidf splits — an in-array
    // shift, NO positional self-join, so the corpus is scanned once and
    // partial-aggregates straight to the (w1,w2) frame. PMI =
    // ln(c12·N²/(Nb·c1·c2)) with every count an exact BIGINT and the
    // products in decimal-38 (N² ≈ 10¹¹ at sf0.1 and 10²⁴ at corpus
    // scale); unigram attach frames are vocab-bounded broadcasts. ONE
    // ln per surviving pair, top-20 by (support, pair) — fully
    // deterministic.
    "q_collocation_pmi" -> ((s, dir) => {
      val toks = TextOps.tokens(lower(col("text")))
      val base = t(s, dir, "documents")
        .select(toks.as("ts")).where(size(col("ts")) >= 2)
      val big = base.select(explode(zip_with(
          slice(col("ts"), lit(1), size(col("ts")) - 1),
          slice(col("ts"), lit(2), size(col("ts")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
        .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      val uni = t(s, dir, "documents")
        .select(explode(toks).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val tot = uni.agg(sum(col("c")).as("n_tokens"))
      val nb = big.agg(sum(col("c12")).as("n_bigrams"))
      val num = col("c12").cast("decimal(38,0)") *
        col("n_tokens").cast("decimal(38,0)") * col("n_tokens")
      val den = col("n_bigrams").cast("decimal(38,0)") *
        col("c1").cast("decimal(38,0)") * col("c2")
      big
        .join(broadcast(uni.select(col("w").as("w1"), col("c").as("c1"))),
          Seq("w1"))
        .join(broadcast(uni.select(col("w").as("w2"), col("c").as("c2"))),
          Seq("w2"))
        .crossJoin(broadcast(tot)).crossJoin(broadcast(nb))
        .orderBy(col("c12").desc, col("w1"), col("w2"))
        .limit(20)
        .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
          r6(log(num.cast("double") / den.cast("double"))).as("pmi"))
        .orderBy(col("c12").desc, col("w1"), col("w2"))
    }),

    // oracle-backed: RAKE keyword extraction (Rose et al. 2010) — the
    // unsupervised multiword-keyword miner one step up from
    // q_collocation_pmi's bigrams: candidate phrases are maximal runs of
    // non-stopword tokens between punctuation/stopword boundaries (capped
    // at 4 words, the standard RAKE cap), word score = deg/freq over the
    // corpus-wide candidate table (deg = Σ length of phrases containing
    // the word, self included), phrase score = Σ word scores. Two-level
    // split first on an EXPLICIT punctuation class then an EXPLICIT
    // whitespace class (Java \s and RE2 \s disagree on \x0B — the ADVICE
    // r10 divergence, avoided by construction); word scores are pinned to
    // the 1e-6 grid as INTEGERS, so phrase sums and the top-25 ordering
    // are exact-integer deterministic. Shape: corpus scans once through
    // doc-bounded windows (run-id prefix sum, phrase-length count), then
    // everything lives on the vocab-/phrase-bounded frames.
    "q_rake_keywords" -> ((s, dir) => {
      val stops = TextOps.stopwordSeq
      val segs = t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(lower(col("text")), "[^a-z0-9 \\t\\n\\f\\r]+"))
            .as(Seq("seg_idx", "seg")))
        .where(trim(col("seg")) =!= "")
      val toks = segs
        .select(col("doc_id"), col("seg_idx"),
          posexplode(split(trim(col("seg")), "[ \\t\\n\\f\\r]+"))
            .as(Seq("tok_idx", "tok")))
        .where(length(col("tok")) > 0)
      val wRun = Window.partitionBy(col("doc_id"), col("seg_idx"))
        .orderBy(col("tok_idx"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val marked = toks.withColumn("run_id",
        sum(col("tok").isin(stops: _*).cast("long")).over(wRun))
      val nonStop = marked.where(!col("tok").isin(stops: _*))
      val members = nonStop
        .withColumn("len", count(lit(1)).over(
          Window.partitionBy(col("doc_id"), col("seg_idx"), col("run_id"))))
        .where(col("len") <= 4)
      val wstats = members.groupBy(col("tok"))
        .agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
        .select(col("tok"),
          floor(col("deg").cast("double") / col("freq").cast("double")
            * lit(1000000.0) + lit(0.500001)).cast("long").as("ws"))
      val phrases = members
        .groupBy(col("doc_id"), col("seg_idx"), col("run_id"))
        .agg(array_join(transform(
            array_sort(collect_list(struct(col("tok_idx"), col("tok")))),
            x => x.getField("tok")), " ").as("phrase"),
          count(lit(1)).as("n_words"))
      val dist = phrases.groupBy(col("phrase"))
        .agg(count(lit(1)).as("n_occ"), max(col("n_words")).as("n_words"))
      val scored = dist
        .select(col("phrase"), col("n_occ"), col("n_words"),
          explode(split(col("phrase"), " ")).as("tok"))
        .join(wstats, Seq("tok"))
        .groupBy(col("phrase"), col("n_occ"), col("n_words"))
        .agg(sum(col("ws")).as("score_u"))
      scored
        .orderBy(col("score_u").desc, col("n_occ").desc, col("phrase"))
        .limit(25)
        .select(col("phrase"), col("n_words"), col("n_occ"),
          (col("score_u").cast("double") / lit(1000000.0)).as("score"))
        .orderBy(col("score").desc, col("n_occ").desc, col("phrase"))
    }),

    // ---- dedup ------------------------------------------------------------
    "q_dedup_exact" -> ((s, dir) => {
      Dedup.exactDuplicates(t(s, dir, "documents")).orderBy("text_hash")
    }),

    // oracle-backed: per-source duplication scorecard — the rollup a
    // corpus report leads with while q_dedup_exact lists the groups:
    // per source, exact-hash unique share, the count of docs that are
    // copies of an earlier doc GLOBALLY (min-doc_id keeper, so cross-
    // source copies charge the copying source, not the origin), and the
    // deduped retention rate. One md5 projection → two bounded
    // aggregates; all exact BIGINTs, one division per rate.
    "q_dup_rate_by_source" -> ((s, dir) => {
      val hashed = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
      val keeper = hashed.groupBy("h").agg(min(col("doc_id")).as("keep_id"))
      hashed.join(keeper, Seq("h"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("h")).as("n_unique_texts"),
          sum((col("doc_id") =!= col("keep_id")).cast("long"))
            .as("n_copies"))
        .select(col("source"), col("n_docs"), col("n_unique_texts"),
          col("n_copies"),
          r6((col("n_docs") - col("n_copies")).cast("double") /
            col("n_docs").cast("double")).as("retention_rate"))
        .orderBy("source")
    }),

    // envelope-contract oracle (the q_approx_distinct pattern): the pair
    // list itself is engine-specific, but the semantic contract is not —
    // the planted pairs are SQL-expressible by construction and their
    // exact Jaccard is ≥ 0.75 on this generator, so banded LSH at
    // threshold 0.3 must recover ≥ 95% of them (measured: 100% at every
    // SF; per-pair detection prob ≥ 0.998 at s = 0.75 with 16 bands × 4
    // rows). DuckDB recomputes n_planted via the q_jaccard_exact shingle
    // pipeline and returns the contract flag as a constant.
    "q_dedup_minhash" -> ((s, dir) => {
      val d = withPlantedNearDups(docs(s, dir))
      // ONE text scan: the checkpointed shingle-set frame feeds the planted
      // verify AND the LSH signatures (minhash_from_hashes re-mixes the
      // same base hashes bitwise-identically to the text kernel)
      val sets = Dedup.shingleSets(d)
      val planted = t(s, dir, "documents")
        .select(col("doc_id").as("doc_a"), (col("doc_id") + 1000000L).as("doc_b"),
          lit(1.0).as("est_jaccard"))
      val target = Dedup.verifyJaccardSets(sets, planted)
        .where(col("jaccard") >= 0.5).select("doc_a", "doc_b")
      val found = Dedup.minhashNearDuplicatesFromSets(sets, threshold = 0.3)
        .select(col("doc_a"), col("doc_b"), lit(1L).as("hit"))
      target.join(found, Seq("doc_a", "doc_b"), "left")
        .agg(count(lit(1)).as("n"), coalesce(sum(col("hit")), lit(0L)).as("n_found"))
        .select(col("n").as("n_planted"),
          (col("n_found") >= col("n") * 0.95).cast("long").as("recall_ge_095"))
    }),

    // envelope-contract oracle: the candidate→verify loop. The candidate
    // set is engine-specific (LSH), but two contracts over it are not:
    // every planted pair must survive to the verified output (recall, the
    // SQL-expressible planted count), and the 64-lane minhash estimate
    // must track the exact Jaccard the verify step computes — max |est −
    // exact| ≤ 0.30 ≈ 5σ of the lane-sampling noise (measured max
    // 0.111–0.164, avg 0.021 across SFs by
    // RecallProbe, deleted, last held at cdb9a9a). An estimator or shingle
    // kernel regression breaks the band before it breaks recall.
    "q_ngram_jaccard" -> ((s, dir) => {
      val d = withPlantedNearDups(docs(s, dir))
      // ONE text scan (r8 ran the shingle/minhash kernels over the corpus
      // three times): the checkpointed set frame feeds signatures and both
      // exact-verify passes; `verified` is additionally checkpointed
      // because it fans out to the recall join AND the band aggregate —
      // without it the LSH candidate join would run once per branch.
      val sets = Dedup.shingleSets(d)
      val cands = Dedup.minhashNearDuplicatesFromSets(sets, threshold = 0.3)
      val verified = Dedup.verifyJaccardSets(sets, cands).localCheckpoint()
      val planted = t(s, dir, "documents")
        .select(col("doc_id").as("doc_a"), (col("doc_id") + 1000000L).as("doc_b"),
          lit(1.0).as("est_jaccard"))
      val target = Dedup.verifyJaccardSets(sets, planted)
        .where(col("jaccard") >= 0.5).select("doc_a", "doc_b")
      val recall = target.join(
          verified.select(col("doc_a"), col("doc_b"), lit(1L).as("hit")),
          Seq("doc_a", "doc_b"), "left")
        .agg(count(lit(1)).as("n"), coalesce(sum(col("hit")), lit(0L)).as("n_found"))
      val band = verified
        .agg(max(abs(col("est_jaccard") - col("jaccard"))).as("max_err"))
      recall.crossJoin(band)
        .select(col("n").as("n_planted"),
          (col("n_found") >= col("n") * 0.95).cast("long").as("recall_ge_095"),
          (col("max_err") <= 0.30).cast("long").as("est_band_ok"))
    }),

    // envelope-contract oracle (same shape as q_dedup_minhash): simhash at
    // maxHamming=3 — 4×16-bit chunks, pigeonhole-exhaustive, buckets stay
    // fine-grained enough to prune at 100 TB (r2 ADVICE: radius 8 exceeded
    // the guarantee) — must recover ≥ 60% of the planted pairs (measured
    // 0.744–0.784 across SFs by RecallProbe, deleted, last held at cdb9a9a:
    // dropping 2 of ~40 tokens flips a minority of the 64 majority-vote
    // bits, usually ≤ 3). The
    // pair list is engine-specific; the planted count is not.
    "q_dedup_simhash" -> ((s, dir) => {
      val d = withPlantedNearDups(docs(s, dir))
      val planted = t(s, dir, "documents")
        .select(col("doc_id").as("doc_a"), (col("doc_id") + 1000000L).as("doc_b"),
          lit(1.0).as("est_jaccard"))
      val target = Dedup.verifyJaccard(d, planted)
        .where(col("jaccard") >= 0.5).select("doc_a", "doc_b")
      val found = Dedup.simhashNearDuplicates(d, maxHamming = 3)
        .select(col("doc_a"), col("doc_b"), lit(1L).as("hit"))
      target.join(found, Seq("doc_a", "doc_b"), "left")
        .agg(count(lit(1)).as("n"), coalesce(sum(col("hit")), lit(0L)).as("n_found"))
        .select(col("n").as("n_planted"),
          (col("n_found") >= col("n") * 0.6).cast("long").as("recall_ge_060"))
    }),

    // oracle-backed: duplicate-cluster resolution — connected components
    // over a two-hop planted dup graph (id → id+1e6 → id+2e6), so the
    // propagation genuinely merges across hops (diameter 2, ≥2 rounds).
    // The edge set is SQL-expressible by construction; the oracle computes
    // the same components via a recursive transitive-closure CTE.
    "q_dedup_clusters" -> ((s, dir) => {
      val ids = t(s, dir, "documents").select(col("doc_id"))
      val edges = ids.select(col("doc_id").as("a"), (col("doc_id") + 1000000L).as("b"))
        .unionByName(ids.select((col("doc_id") + 1000000L).as("a"),
          (col("doc_id") + 2000000L).as("b")))
      Dedup.connectedComponents(edges).orderBy("doc_id")
    }),

    // ---- similarity -------------------------------------------------------
    "q_embed_stats" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          r4(avg(element_at(col("embedding"), 1).cast("double"))).as("avg_dim0"))
        .orderBy("label")
    }),

    // oracle-backed: Maximum Mean Discrepancy drift test between embedding
    // groups (Gretton et al. 2012, linear kernel) — "did the embedding
    // distribution shift between sources/labels?" asked pairwise over all
    // label pairs. The unbiased estimator collapses to a MOMENT IDENTITY:
    // Σ_{i≠j}⟨x_i,x_j⟩ = |Σx|² − Σ|x|², so MMD² = (|S_a|²−Q_a)/(n_a(n_a−1))
    // + (|S_b|²−Q_b)/(n_b(n_b−1)) − 2⟨S_a,S_b⟩/(n_a n_b) needs only each
    // group's dim-wise sum vector and squared-norm total — ONE partial-
    // aggregated pass over the ×d posexplode scan to the |labels|·d
    // bounded frame (the q_embed_quantize scan shape); no pair of rows
    // ever meets. Cross-engine exactness: components quantize to integer
    // micro-units ONCE (floor(x·1e6), the q_entropy_rate discipline), so
    // every sum is BIGINT/decimal-38 exact and the estimator is a fixed
    // 3-term float sequence per pair, reported in micro-units² (1e-12 of
    // native units, documented). The 45 pair rows assemble by broadcast
    // joins of the bounded frame.
    "q_embed_mmd" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("label").cast("long").as("g"),
          posexplode(col("embedding")))
        .select(col("g"), col("pos").as("d"),
          floor(col("col").cast("double") * lit(1000000.0)).cast("long")
            .as("e"))
      val gd = e.groupBy("g", "d")
        .agg(count(lit(1)).as("n"), sum(col("e")).as("sd"),
          sum(col("e").cast("decimal(38,0)") * col("e")).as("qd"))
      val g1 = gd.groupBy("g").agg(max(col("n")).as("n"),
        sum(col("qd")).as("q"),
        sum(col("sd").cast("decimal(38,0)") * col("sd")).as("s2"))
      val cross = gd.select(col("g").as("ga"), col("d"), col("sd").as("sa"))
        .join(broadcast(gd.select(col("g").as("gb"), col("d"),
          col("sd").as("sb"))), Seq("d"))
        .where(col("ga") < col("gb"))
        .groupBy("ga", "gb")
        .agg(sum(col("sa").cast("decimal(38,0)") * col("sb")).as("sab"))
      val aSide = g1.select(col("g").as("ga"), col("n").as("na"),
        col("q").as("qa"), col("s2").as("s2a"))
      val bSide = g1.select(col("g").as("gb"), col("n").as("nb"),
        col("q").as("qb"), col("s2").as("s2b"))
      val taa = (col("s2a") - col("qa")).cast("double") /
        (col("na") * (col("na") - 1L)).cast("double")
      val tbb = (col("s2b") - col("qb")).cast("double") /
        (col("nb") * (col("nb") - 1L)).cast("double")
      val tab = col("sab").cast("double") / (col("na") * col("nb")).cast("double")
      cross.join(broadcast(aSide), Seq("ga"))
        .join(broadcast(bSide), Seq("gb"))
        .select(col("ga"), col("gb"), col("na"), col("nb"),
          r4(taa + tbb - lit(2.0) * tab).as("mmd2_micro2"))
        .orderBy("ga", "gb")
    }),

    // oracle-backed: Local Outlier Factor over the bounded monitoring
    // sample — see Ann.lof scaladoc (broadcast-only joins, bit-identical
    // codegen distances, r6-absorbed k-term sums)
    "q_lof" -> ((s, dir) =>
      Ann.lof(t(s, dir, "embeddings"), maxId = 200L, k = 5)),

    // oracle-backed: DBSCAN (Ester et al., KDD 1996) COMPOSED from the
    // suite's verified primitives — the q_lof distance machinery
    // (bit-identical three-dot d², broadcast-only bounded-sample joins)
    // for ε-neighborhoods, and Dedup.connectedComponents (the dedup
    // cluster resolver) over the core–core subgraph. ε² is DATA-DRIVEN
    // but deterministic: the median 5-NN distance² (an exact order
    // statistic with id tie-break, identical doubles both engines) —
    // the standard k-distance-plot elbow made reproducible. minPts = 5;
    // core = ≥5 ε-neighbors, clusters = CC over core–core ε-edges
    // (isolated cores keep their own id), border points attach to their
    // nearest core by (d², id), the rest is noise (cluster −1). Output
    // is the per-cluster census — integer-exact end to end; the one
    // float anywhere is the displayed ε². Scale stance: DBSCAN is
    // all-pairs by nature, so the sample is the unit of work (the q_lof
    // stance); the corpus path is the LSH-bucketed candidate pruning
    // the dedup family already implements.
    "q_dbscan" -> ((s, dir) => {
      val minPts = 5L
      val samp = t(s, dir, "embeddings").where(col("vec_id") < 200L)
        .select(col("vec_id"), col("embedding"),
          Ann.dot(col("embedding"), col("embedding")).as("sq"))
      val a = samp.select(col("vec_id").as("a"), col("embedding").as("va"),
        col("sq").as("aa"))
      val b = samp.select(col("vec_id").as("b"), col("embedding").as("vb"),
        col("sq").as("bb"))
      val pairs = a.join(broadcast(b), col("a") =!= col("b"))
        .select(col("a"), col("b"),
          (col("aa") + col("bb") - lit(2.0) * Ann.dot(col("va"), col("vb")))
            .as("d2"))
        .localCheckpoint()
      val wk = org.apache.spark.sql.expressions.Window
        .partitionBy(col("a")).orderBy(col("d2"), col("b"))
      val kd = pairs
        .select(col("a"), col("d2"), row_number().over(wk).as("rk"))
        .where(col("rk") === 5)
      val eps = kd
        .select(col("d2"),
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("d2"))).cast("long").as("r"),
          count(lit(1)).over(graft.operators.BoundedWindow
            .whole(col("a"))).as("cnt"))
        .where(col("r") === floor((col("cnt") + 1L) / lit(2.0)).cast("long"))
        .select(col("d2").as("eps2"))
      val near = pairs.crossJoin(broadcast(eps))
        .where(col("d2") <= col("eps2"))
        .localCheckpoint()
      val core = near.groupBy("a").agg(count(lit(1)).as("deg"))
        .where(col("deg") >= minPts).select(col("a").as("cid"))
      val coreEdges = near
        .join(broadcast(core.select(col("cid").as("a"))), Seq("a"))
        .join(broadcast(core.select(col("cid").as("b"))), Seq("b"))
        .where(col("a") < col("b")).select(col("a"), col("b"))
      // r17: the probe set is contract-bounded (vec_id < 200), so the
      // core graph fits a driver union-find — ≤ C(200,2) rows, loud cap,
      // the codebook/closeness bounded-collect precedent. Replaces the
      // iterative distributed CC (sym + label checkpoints, one job per
      // propagation round) whose per-round scheduling dwarfed this tiny
      // graph; labels keep the identical min-id-per-component semantics.
      // Corpus-scale cluster resolution still runs the distributed
      // Dedup.connectedComponents (q_dedup_clusters).
      val ccRows = coreEdges.collect()
      require(ccRows.length <= 200 * 199 / 2,
        s"q_dbscan: ${ccRows.length} core edges exceed the bounded-probe cap")
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      ccRows.foreach { r =>
        val (ra, rb) = (find(r.getLong(0)), find(r.getLong(1)))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = ccRows.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct
      val minLabel = nodes.groupBy(find).map { case (root, ns) =>
        root -> ns.min
      }
      val ccSeq = nodes.toSeq.map(v => (v, minLabel(find(v))))
      import s.implicits._
      val cc = ccSeq.toDF("cid", "component")
      val coreLab = core.join(broadcast(cc), Seq("cid"), "left")
        .select(col("cid"), coalesce(col("component"), col("cid"))
          .as("cluster"))
      val borderPick = near
        .join(broadcast(coreLab.select(col("cid").as("b"),
          col("cluster"))), Seq("b"))
        .join(broadcast(coreLab.select(col("cid").as("a"))),
          Seq("a"), "left_anti")
        .groupBy("a")
        .agg(min(struct(col("d2"), col("b"), col("cluster"))).as("pick"))
        .select(col("a").as("vid"), col("pick.cluster").as("cluster"))
      val labeled = coreLab
        .select(col("cid").as("vid"), col("cluster"), lit(1L).as("is_core"))
        .unionAll(borderPick.select(col("vid"), col("cluster"),
          lit(0L).as("is_core")))
      val noise = samp.select(col("vec_id").as("vid"))
        .join(broadcast(labeled.select(col("vid"))), Seq("vid"), "left_anti")
        .select(col("vid"), lit(-1L).as("cluster"), lit(-1L).as("is_core"))
      labeled.unionAll(noise)
        .groupBy("cluster")
        .agg(sum(when(col("is_core") === 1L, 1L).otherwise(0L)).as("n_core"),
          sum(when(col("is_core") === 0L, 1L).otherwise(0L)).as("n_border"),
          sum(when(col("is_core") === -1L, 1L).otherwise(0L)).as("n_noise"))
        .crossJoin(broadcast(eps))
        .select(col("cluster"), col("n_core"), col("n_border"),
          col("n_noise"), r6(col("eps2")).as("eps2"))
        .orderBy("cluster")
    }),

    // oracle-backed: exact brute-force cosine top-5 for a bounded probe
    // batch (DuckDB list_dot_product over DOUBLE[] is bit-identical)
    "q_ann_brute" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.bruteForceTopK(emb, emb.where(col("vec_id") < 10), k = 5)
        .select(col("probe_id"), col("vec_id"), r4(col("cos")).as("cos"),
          col("rank").cast("long").as("rank"))
        .orderBy("probe_id", "rank")
    }),

    // envelope-contract oracle: the approximate top-k list is engine-
    // specific, but "recall vs exact brute force ≥ floor" is the published
    // semantic contract of LSH ANN. Floor 0.4 carries ≥ 1.6× margin over
    // the measured recall (0.80/0.74/0.64 at sf0.001/0.01/0.1); DuckDB
    // recomputes n_exact from its own brute-force top-k and returns the
    // flag as a constant. Short hashes + more tables because random
    // synthetic vectors are near-orthogonal (low per-table collision prob).
    "q_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = emb.where(col("vec_id") < 10)
      val brute = Ann.bruteForceTopK(emb, probes, k = 5)
        .select(col("probe_id"), col("vec_id"))
      val lsh = Ann.lshTopK(emb, probes, k = 5, tables = 8, bits = 4)
        .select(col("probe_id"), col("vec_id"), lit(1L).as("hit"))
      brute.join(lsh, Seq("probe_id", "vec_id"), "left")
        .agg(count(lit(1)).as("n"), coalesce(sum(col("hit")), lit(0L)).as("n_hit"))
        .select(col("n").as("n_exact"),
          (col("n_hit") >= col("n") * 0.4).cast("long").as("recall_ge_040"))
    }),

    // oracle-backed: SQ8 scalar quantization + quantized-dot top-5 — codes
    // are exact integers both engines reproduce, so ranking AND the error
    // tally hash-match (see Ann.sq8TopK scaladoc)
    "q_embed_quantize" -> ((s, dir) =>
      Ann.sq8TopK(t(s, dir, "embeddings"), probeMaxId = 10L, k = 5)),

    // oracle-backed: quantization-fidelity audit — one verified operator
    // grading another, and a MEASURED design lesson: per probe, recall@5
    // against the exact-cosine ranking for (a) the RAW quantized dot and
    // (b) the CENTERED (code − 128) dot, the proper SQ8 inner-product
    // estimator. The raw dot ≈ 16384·d + 128·(Σa + Σb) + centered-dot —
    // norm-dominated, ranking by vector magnitude rather than the probe
    // (measured recall ~0.04 here); centering removes the affine offset
    // and recovers ~0.7. Shipping int8 retrieval without this audit is
    // exactly how that bug reaches production. All overlap counts exact
    // BIGINTs; bounded probe batch, heap passes, 50-row joins.
    "q_quantization_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = emb.where(col("vec_id") < 10)
      val exact = Ann.bruteForceTopK(emb, probes, k = 5)
        .select(col("probe_id"), col("vec_id"), col("rank").as("rank_exact"))
      val raw = Ann.sq8TopK(emb, probeMaxId = 10L, k = 5)
        .select(col("probe_id"), col("vec_id"), col("rank").as("rank_raw"))
      val cen = Ann.sq8TopK(emb, probeMaxId = 10L, k = 5, centered = true)
        .select(col("probe_id"), col("vec_id"), col("rank").as("rank_cen"))
      exact
        .join(raw, Seq("probe_id", "vec_id"), "left")
        .join(cen, Seq("probe_id", "vec_id"), "left")
        .groupBy("probe_id")
        .agg(sum(when(col("rank_raw").isNotNull, 1L).otherwise(0L))
            .as("n_recalled_raw"),
          sum(when(col("rank_cen").isNotNull, 1L).otherwise(0L))
            .as("n_recalled_centered"),
          max(when(col("rank_exact") === 1L,
            (col("rank_cen") === 1L).cast("long"))).as("top1_kept"))
        .select(col("probe_id"), col("n_recalled_raw"),
          r6(col("n_recalled_raw").cast("double") / lit(5.0))
            .as("recall_raw"),
          col("n_recalled_centered"),
          r6(col("n_recalled_centered").cast("double") / lit(5.0))
            .as("recall_centered"),
          coalesce(col("top1_kept"), lit(0L)).as("top1_preserved"))
        .orderBy("probe_id")
    }),

    // oracle-backed: ColBERT-style late-interaction MaxSim top-5 over
    // 8-way chunked sub-vectors (see Ann.maxSimTopK scaladoc) — scores
    // and ranking FP-bit-identical cross-engine
    "q_maxsim_search" -> ((s, dir) =>
      Ann.maxSimTopK(t(s, dir, "embeddings"), probeMaxId = 10L, m = 8, k = 5)),

    // oracle-backed: kNN classification accuracy — the embedding-quality
    // probe every representation-learning pipeline runs (kNN accuracy on
    // a labeled eval set ≈ linear-probe quality without training
    // anything): each eval vector's label predicted by majority vote of
    // its 5 exact-cosine neighbours (vote ties break to the smaller
    // label — deterministic), scored per class. The eval set is a
    // BOUNDED id prefix (the broadcast-probe contract: eval sets are
    // fixed-size human-labeled samples, never corpus-sized). Cosines are
    // FP-bit-identical cross-engine (the q_ann_brute precedent), votes
    // and accuracies exact integers + single divisions.
    "q_knn_eval" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = emb.where(col("vec_id") < 100)
      val topk = Ann.bruteForceTopK(emb, probes, k = 5)
        .select(col("probe_id"), col("vec_id"))
      val votes = topk
        .join(emb.select(col("vec_id"),
          col("label").cast("long").as("nbr_label")), Seq("vec_id"))
        .groupBy("probe_id", "nbr_label").agg(count(lit(1)).as("c"))
      val pred = votes.groupBy("probe_id")
        .agg(min(struct((lit(0L) - col("c")).as("negc"),
          col("nbr_label").as("lbl"))).as("pick"))
        .select(col("probe_id"), col("pick.lbl").as("pred_label"))
      probes.select(col("vec_id").as("probe_id"),
          col("label").cast("long").as("gold_label"))
        .join(pred, Seq("probe_id"))
        .groupBy("gold_label")
        .agg(count(lit(1)).as("n_probes"),
          sum((col("pred_label") === col("gold_label")).cast("long"))
            .as("n_correct"))
        .select(col("gold_label"), col("n_probes"), col("n_correct"),
          r6(col("n_correct").cast("double") / col("n_probes"))
            .as("accuracy"))
        .orderBy("gold_label")
    }),

    // envelope-contract oracle: distributed PCA over the embedding corpus
    // (see graft.similarity.Pca scaladoc — one Gram-matrix treeAggregate
    // pass, driver-local d×d Jacobi eigen, a second pass checking
    // Var(scoreᵢ) = λᵢ ON THE DATA, measured deviation ~1e-16 at all SFs).
    // Floors from PcaProbe (deleted; last held at cdb9a9a): evr1
    // 0.0209–0.0289 and cum8 0.160–0.205
    // across sf0.001/0.01/0.1 — these synthetic embeddings are near-
    // isotropic (1/d = 0.0156 baseline), so the load-bearing flags are
    // projvar/ortho/monotone; the floors still trip on a degenerate
    // eigensolve. Floors 0.015 / 0.12 = measured-min-minus-margin.
    "q_pca" -> ((s, dir) =>
      graft.similarity.Pca.pcaContract(s, t(s, dir, "embeddings"),
        "embedding", k = 8, evr1Floor = 0.015, cumFloor = 0.12)),

    // envelope-contract oracle, same shape as q_ann_lsh: product
    // quantization (Jégou 2011, the FAISS IVF-PQ compression half) at
    // m=16 subspaces × 32 codewords — 16 bytes/vec vs 256 raw (16×).
    // Recall@10 vs brute measured 0.42–0.52 across sf0.001/0.01/0.1
    // (RecallProbe r8, deleted, last held at cdb9a9a; these uniform
    // synthetic embeddings are PQ's worst
    // case — no cluster structure for the codebooks to exploit), floor
    // 0.35 per the measured-min-minus-margin band rule (within 0.1 of
    // the worst SF, so a partial recall regression trips the gate).
    // bytes_per_vec is pinned in SQL so the
    // compression claim itself is part of the contract.
    "q_ann_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = emb.where(col("vec_id") < 10)
      val brute = Ann.bruteForceTopK(emb, probes, k = 10)
        .select(col("probe_id"), col("vec_id"))
      val pq = Ann.pqTopK(emb, probes, k = 10, m = 16, ksub = 32)
        .select(col("probe_id"), col("vec_id"), lit(1L).as("hit"))
      brute.join(pq, Seq("probe_id", "vec_id"), "left")
        .agg(count(lit(1)).as("n"), coalesce(sum(col("hit")), lit(0L)).as("n_hit"))
        .select(col("n").as("n_exact"),
          (col("n_hit") >= col("n") * 0.35).cast("long").as("recall_ge_035"),
          lit(16L).as("bytes_per_vec"))
    }),

    // envelope-contract oracle (the q_fingerprint pattern): BPE completed
    // into an actual tokenizer — train 50 merges on the corpus word-
    // frequency table (the only collect, vocab-bounded; the merge loop is
    // driver work on that bounded table, the published algorithm), then
    // count subwords per doc via the BpeModel.tokenCount codegen
    // kernel — ONE shuffle-free scan, the corpus never explodes into
    // words. The oracle pins the SQL-computable facts exactly: n_words /
    // n_chars per doc AND the FIRST learned merge (argmax of weighted
    // char-bigram counts with the same tie-break — the training loop's
    // first step recomputed relationally); the subword count itself rides
    // the bounds flag (n_words ≤ n_subwords ≤ n_chars), with exact values
    // pinned by TextOpsSpec on hand-segmented corpora.
    "q_bpe_tokenize" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val model = TextOps.trainBpe(d, numMerges = 50)
      val toks = TextOps.tokens(lower(col("text")))
      val nWords = size(filter(toks, w => length(w) > 0)).cast("long")
      val nChars = length(regexp_replace(lower(col("text")), "\\s", "")).cast("long")
      TextOps.bpeTokenCounts(d, model)
        .select(col("doc_id"), nWords.as("n_words"), nChars.as("n_chars"),
          lit(model.merges(0)._1 + " " + model.merges(0)._2).as("first_merge"),
          (col("n_subwords") >= nWords && col("n_subwords") <= nChars)
            .cast("long").as("bounds_ok"))
        .orderBy("doc_id")
    }),

    // oracle-backed: contrastive pair mining — the (anchor, positive,
    // hard-negative) triplets an embedding-model trainer consumes.
    // Positive = exact nearest neighbour; hard negatives = the rank-10/
    // 20/30 band of the SAME ranking (the standard in-batch-hard-negative
    // recipe made deterministic: a strided band instead of RNG draws, so
    // the pair set is stable under corpus growth and re-runs). Scale
    // shape: one bruteForceTopK heap pass (bounded probe batch broadcast,
    // per-partition k-heaps — at 100 TB the anchor batch is the unit of
    // work); the band filter is a projection on the ≤|anchors|·30 rows.
    "q_contrastive_pairs" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val anchors = emb.where(col("vec_id") < 20)
      Ann.bruteForceTopK(emb, anchors, k = 30)
        .where(col("rank").isin(1, 10, 20, 30))
        .select(col("probe_id").as("anchor_id"), col("vec_id"),
          when(col("rank") === 1, "pos").otherwise("neg").as("role"),
          col("rank").cast("long").as("rank"), r4(col("cos")).as("cos"))
        .orderBy("anchor_id", "rank")
    }),

    // envelope-contract oracle: IVF-PQ — the composed FAISS shape. Coarse
    // cells PRUNE (only nprobe=8 of 16 cells searched per probe, the
    // q_ann_ivf join geometry) and PQ codes COMPRESS (ranking on the
    // 16-byte reconstruction). Measured recall@10 0.39–0.51 across SFs
    // (RecallProbe r8, deleted, last held at cdb9a9a) — just under the
    // PQ ceiling, as expected (pruning
    // can only lose candidates); floor 0.30, within 0.1 of the worst SF.
    "q_ann_ivfpq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = emb.where(col("vec_id") < 10)
      val brute = Ann.bruteForceTopK(emb, probes, k = 10)
        .select(col("probe_id"), col("vec_id"))
      val ivfpq = Ann.ivfPqTopK(emb, probes, k = 10, nlist = 16, nprobe = 8,
          m = 16, ksub = 32)
        .select(col("probe_id"), col("vec_id"), lit(1L).as("hit"))
      brute.join(ivfpq, Seq("probe_id", "vec_id"), "left")
        .agg(count(lit(1)).as("n"), coalesce(sum(col("hit")), lit(0L)).as("n_hit"))
        .select(col("n").as("n_exact"),
          (col("n_hit") >= col("n") * 0.30).cast("long").as("recall_ge_030"),
          lit(16L).as("bytes_per_vec"))
    }),

    // oracle-backed: exact n-gram Jaccard on the planted (original,
    // perturbed) pairs — the candidate set is SQL-expressible by
    // construction, so the shingle + Jaccard kernel gets a DuckDB
    // hash-match independent of the LSH candidate generator
    "q_jaccard_exact" -> ((s, dir) => {
      val d = withPlantedNearDups(docs(s, dir))
      val pairs = t(s, dir, "documents")
        .select(col("doc_id").as("doc_a"), (col("doc_id") + 1000000L).as("doc_b"),
          lit(1.0).as("est_jaccard"))
      Dedup.verifyJaccard(d, pairs)
        .select(col("doc_a"), col("doc_b"), r4(col("jaccard")).as("jaccard"))
        .orderBy("doc_a")
    }),

    // oracle-backed: Zipf's-law fit over the term-frequency table — the
    // corpus-health diagnostic next to q_vocab_growth/q_token_entropy (a
    // natural corpus has ln f ≈ a − s·ln rank with s ≈ 1; synthetic or
    // template-heavy data bends the line). One explode → map-side-combined
    // term counts (vocab-bounded), a distributed TakeOrdered picks the
    // top-1000 head (ties broken by term — identical cutoff both
    // engines), the rank window + OLS fit run on that bounded frame; the
    // full-vocab count rides a broadcast single-row attach.
    "q_zipf" -> ((s, dir) => {
      val terms = docs(s, dir)
        .select(explode(TextOps.tokens(lower(col("text")))).as("term"))
        .where(length(col("term")) > 0)
        .groupBy("term").agg(count(lit(1)).as("f"))
      val top = terms.orderBy(col("f").desc, col("term")).limit(1000)
      val ranked = top.select(col("f"), row_number().over(
        BoundedWindow.ordered(col("f"), col("f").desc, col("term")))
        .cast("long").as("rank"))
      val fit = ranked.agg(
        count(lit(1)).as("n_fit"),
        r4(expr("regr_slope(ln(f), ln(rank))")).as("zipf_slope"),
        r4(expr("regr_intercept(ln(f), ln(rank))")).as("intercept"),
        r6(pow(corr(log(col("f")), log(col("rank"))), 2)).as("r2"))
      terms.agg(count(lit(1)).as("n_terms"))
        .crossJoin(broadcast(fit))
        .select(col("n_terms"), col("n_fit"), col("zipf_slope"),
          col("intercept"), col("r2"))
    }),

    // ---- hapax share per source (r11) -------------------------------------
    // The classic vocabulary-health signal q_zipf's slope summarizes away:
    // what FRACTION of each source's vocabulary occurs exactly once
    // (hapax legomena) or twice (dis legomena)? OCR garbage and boilerplate
    // floods move it in opposite directions, which is why corpus reports
    // track it next to the type-token ratio. One (source, term) shuffle to
    // exact counts; rates are single divisions of exact BIGINTs, r6.
    "q_hapax_rate" -> ((s, dir) => {
      val counts = termCounts(s, dir)
      counts.groupBy("source")
        .agg(count(lit(1)).as("vocab"),
          sum(col("f")).as("n_tokens"),
          sum((col("f") === 1L).cast("long")).as("hapax"),
          sum((col("f") === 2L).cast("long")).as("dis"))
        .select(col("source"), col("n_tokens"), col("vocab"), col("hapax"),
          col("dis"),
          r6(col("hapax").cast("double") / col("vocab").cast("double"))
            .as("hapax_share"),
          r6(col("vocab").cast("double") / col("n_tokens").cast("double"))
            .as("type_token_ratio"))
        .orderBy("source")
    }),

    // ---- Simpson diversity per source (r11) -------------------------------
    // Token-repertoire concentration WITHOUT logs: Simpson's λ =
    // Σ f(f−1) / (N(N−1)) — the probability two random tokens coincide —
    // and its inverse (effective vocabulary size). Complements
    // q_token_entropy with an index that stays EXACT integer arithmetic
    // until one final division (entropy's ln sums need the §2.13 guard
    // discipline; λ needs none). Same one (source, term) shuffle.
    "q_simpson_diversity" -> ((s, dir) => {
      val counts = termCounts(s, dir)
      counts.groupBy("source")
        .agg(count(lit(1)).as("vocab"),
          sum(col("f")).as("n_tokens"),
          sum(col("f").cast("decimal(19,0)") *
            (col("f") - 1L).cast("decimal(19,0)")).as("coin"))
        // n_tokens <= 1 makes the denominator 0 (Spark 0/0 = NaN, oracle
        // NULL) — guard so both engines abstain NULL on the degenerate
        // source, matching inv_simpson's try_divide
        .select(col("source"), col("n_tokens"), col("vocab"),
          when(col("n_tokens") > 1L,
            r6(col("coin").cast("double") /
              (col("n_tokens").cast("double") *
                (col("n_tokens") - 1L).cast("double")))).as("simpson"),
          r2(try_divide(
            col("n_tokens").cast("double") *
              (col("n_tokens") - 1L).cast("double"),
            col("coin").cast("double"))).as("inv_simpson"))
        .orderBy("source")
    }),

    // ---- per-source KL divergence vs the corpus (r12) -----------------------
    // The distribution-shift readout behind DSIR-style importance weighting
    // and domain-mix debugging that q_js_divergence's pairwise matrix and
    // q_token_entropy's per-source H don't give directly: how far is each
    // SOURCE's unigram distribution from the CORPUS mixture it feeds?
    // Plug-in KL(Pₛ‖Q) = Σ_{t∈supp(Pₛ)} p·ln(p/q) over the source's own
    // support (q > 0 structurally — every source term is a corpus term —
    // so no smoothing is needed), plus the corpus-mass coverage of that
    // support. Plan shape: ONE (source, term) shuffle to exact counts;
    // the corpus term frame is vocab-bounded and attaches by BROADCAST
    // (the q_collocation_pmi unigram-attach stance); the per-source ln
    // sum rides a source-PARTITIONED term-ordered cumulative window
    // (identical float sequence cross-engine — every ln argument is a
    // ratio of exact BIGINTs), keep-last-row.
    "q_kl_divergence" -> ((s, dir) => {
      val counts = termCounts(s, dir)
      val tm = counts.groupBy("term").agg(sum(col("f")).as("ft"))
      val tot = tm.agg(sum(col("ft")).as("nn"))
      val ns = counts.groupBy("source")
        .agg(sum(col("f")).as("ntok"), count(lit(1)).as("nterms"))
      val j = counts
        .join(broadcast(tm), Seq("term"))
        .join(broadcast(ns), Seq("source"))
        .crossJoin(broadcast(tot))
      val pd = col("f").cast("double") / col("ntok").cast("double")
      val qd = col("ft").cast("double") / col("nn").cast("double")
      val wS = Window.partitionBy(col("source")).orderBy(col("term"))
      val wCum = wS.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val acc = j
        .withColumn("rn", row_number().over(wS).cast("long"))
        .withColumn("kl", sum(pd * log(pd / qd)).over(wCum))
        .withColumn("cov", sum(col("ft")).over(wCum))
      acc.where(col("rn") === col("nterms"))
        .select(col("source"), col("nterms").as("n_terms"),
          col("ntok").as("n_tokens"), r6(col("kl")).as("kl"),
          r6(col("cov").cast("double") / col("nn").cast("double"))
            .as("corpus_coverage"))
        .orderBy("source")
    }),

    // ---- Yule's K characteristic per source (r11) --------------------------
    // The size-INVARIANT vocabulary-richness constant (Yule 1944) that
    // q_hapax_rate's type-token ratio is not (TTR falls mechanically with
    // corpus length; K is the repeat-rate rescaled so it doesn't): K =
    // 10⁴·(Σf² − N)/N² over the term-frequency spectrum — the classic
    // authorship/contamination fingerprint (boilerplate floods push K up,
    // OCR noise pushes it toward 0). Same one (source, term) shuffle as
    // q_simpson_diversity; Σf² exact in decimal(38,0), K is one float
    // compose of exact integers (N ≥ 1 structurally — every census row
    // has f ≥ 1 — so the division is total).
    "q_yule_k" -> ((s, dir) => {
      val counts = termCounts(s, dir)
      counts.groupBy("source")
        .agg(count(lit(1)).as("vocab"),
          sum(col("f")).as("n_tokens"),
          sum(col("f").cast("decimal(19,0)") *
            col("f").cast("decimal(19,0)")).as("s2"))
        .select(col("source"), col("n_tokens"), col("vocab"),
          col("s2").cast("long").as("sum_f2"),
          r4(lit(10000.0) *
            (col("s2").cast("double") - col("n_tokens").cast("double")) /
            (col("n_tokens").cast("double") *
              col("n_tokens").cast("double"))).as("yule_k"))
        .orderBy("source")
    }),

    // oracle-backed: EXACT set-similarity self-join via prefix filtering
    // (see Dedup.setSimJoinPrefix) — every pair with shingle Jaccard ≥
    // 0.5, no false negatives, candidates from the rarest-first prefix
    // equi-join instead of minhash banding OR all-pairs. Runs on the
    // even-doc_id half (+ planted copies — parity-preserved by the
    // +1000000 offset); the engine-side plan is the corpus-scale path.
    // The oracle recounts every qualifying pair through an any-shared-
    // shingle equi-join — exact (J ≥ 0.5 > 0 requires a shared shingle)
    // and independent of the engine's prefix/positional filtering, so
    // any prefix-filter unsoundness is a red row, not a silent miss;
    // O(Σ df²) cost means it runs at sf1 too (r14 — the old brute-force
    // all-pairs recount was the one oracle quadratic at the 10× corpus).
    "q_setsim_join" -> ((s, dir) => {
      // pre-kernel spread: the q_lm_perplexity single-input-partition note
      val d = withPlantedNearDups(docs(s, dir)).where(col("doc_id") % 2 === 0)
        .repartition(s.sparkContext.defaultParallelism)
      Dedup.setSimJoinPrefix(d, threshold = 0.5)
        .select(col("doc_a"), col("doc_b"), r4(col("jaccard")).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    }),

    // oracle-backed: exact shingle CONTAINMENT — |A∩B| / |B| — on the same
    // planted pairs. Jaccard misses quote/subset relationships (a doc
    // wholly embedded in a much larger one scores near 0); containment is
    // the curation measure for them (Broder 1997's two resemblance
    // measures). The planted copy drops the last 2 tokens of the
    // original, so its shingles are a strict subset: containment ≈ 1.0 —
    // pinned exactly by the oracle. At 100 TB this runs on LSH candidates
    // like verifyJaccard; the planted pairs are the SQL-expressible anchor.
    "q_containment_exact" -> ((s, dir) => {
      val d = withPlantedNearDups(docs(s, dir))
      val sets = d.select(col("doc_id"),
        Dedup.shingleHashSet(col("text"), 3).as("sh"))
      // pair reconstruction is STRUCTURAL (the planting offset itself:
      // planted id = original id + 1e6, and no two corpus ids differ by
      // exactly 1e6), never an id-range split — the r13 sf1 run caught
      // the old `doc_id < 1000000` discriminator silently dropping every
      // pair whose original id exceeded the fixture's range (45k of 50k
      // pairs at 10× corpus). The shift-join matches originals to their
      // planted twins at ANY id range; non-pairs find no join partner.
      val a = sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
      val b = sets
        .select((col("doc_id") - 1000000L).as("doc_a"), col("sh").as("sh_b"))
      a.join(b, "doc_a")
        .select(col("doc_a"), (col("doc_a") + 1000000L).as("doc_b"),
          // r17: sorted-merge intersection kernel (sh sets are sorted
          // distinct) — same exact integer as size(array_intersect)
          r4(call_function("sorted_inter_size", col("sh_a"), col("sh_b"))
            .cast("double")
            / greatest(size(col("sh_b")), lit(1)).cast("double"))
            .as("containment"))
        .orderBy("doc_a")
    }),

    // oracle-backed: exact cosine near-dup pairs on a bounded slice (the
    // brute-force anchor for the LSH path below; DuckDB list_dot_product)
    "q_embed_neardup_brute" -> ((s, dir) => {
      Ann.bruteForcePairs(
          t(s, dir, "embeddings").where(col("vec_id") < 128), threshold = 0.2)
        .select(col("id_a"), col("id_b"), r4(col("cos")).as("cos"))
        .orderBy("id_a", "id_b")
    }),

    // envelope-contract oracle: embedding-cosine near-dup pairs via LSH
    // buckets vs the exact pair set (SQL-expressible: all-pairs cosine at
    // the same threshold). bits MATCHES the threshold — cos 0.4 → hyperplane
    // collision p≈0.63, so 4 bits/table × 8 tables → ~0.75 recall (measured
    // 0.729–0.770 by RecallProbe, deleted, last held at cdb9a9a; 8 bits
    // gave 0.15: a tuning bug the
    // contract would now catch). Soundness is structural — LSH scores the
    // exact cosine before its threshold filter, so every reported pair is
    // in the exact set; sound_lsh pins that too.
    "q_embed_neardup" -> ((s, dir) => {
      // exact side bounded: pairs whose smaller id is in the 256-probe
      // slice — O(256·n) like the top-k anchor, so the contract itself
      // stays linear in the corpus (all-pairs brute force at sf1+ would
      // dwarf the LSH path it is checking). LSH runs the full corpus; the
      // comparison restricts to the same slice.
      val emb = t(s, dir, "embeddings")
      val exact = Ann.bruteForcePairsAgainst(emb.where(col("vec_id") < 256),
          emb, threshold = 0.4)
        .select(col("id_a"), col("id_b"), lit(1L).as("ex"))
      val lsh = Ann.cosineNearDuplicates(emb, threshold = 0.4,
          tables = 8, bits = 4)
        .where(col("id_a") < 256)
        .select(col("id_a"), col("id_b"), lit(1L).as("hit"))
      exact.join(lsh, Seq("id_a", "id_b"), "full")
        .agg(coalesce(sum(col("ex")), lit(0L)).as("n_exact"),
          coalesce(sum(col("ex") * col("hit")), lit(0L)).as("n_hit"),
          coalesce(sum(when(col("ex").isNull, 1L).otherwise(0L)), lit(0L)).as("n_unsound"))
        .select(col("n_exact"),
          (col("n_hit") >= col("n_exact") * 0.5).cast("long").as("recall_ge_050"),
          (col("n_unsound") === 0).cast("long").as("sound_lsh"))
    }),

    // envelope-contract oracle, same shape as q_ann_lsh: IVF with
    // nprobe/nlist = 1/4 must hold recall ≥ 0.4 vs brute force (measured
    // 0.64-0.72 across SFs). Cell assignment is the IvfModel.cells
    // codegen kernel; search is an equi-join on the cell id (no crossJoin).
    "q_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = emb.where(col("vec_id") < 10)
      val brute = Ann.bruteForceTopK(emb, probes, k = 5)
        .select(col("probe_id"), col("vec_id"))
      val ivf = Ann.ivfTopK(emb, probes, k = 5, nlist = 16, nprobe = 4)
        .select(col("probe_id"), col("vec_id"), lit(1L).as("hit"))
      brute.join(ivf, Seq("probe_id", "vec_id"), "left")
        .agg(count(lit(1)).as("n"), coalesce(sum(col("hit")), lit(0L)).as("n_hit"))
        .select(col("n").as("n_exact"),
          (col("n_hit") >= col("n") * 0.4).cast("long").as("recall_ge_040"))
    }),

    // oracle-backed EXACTLY (not an envelope): distributed Lloyd's k-means
    // over the full embedding corpus — k=8, 5 fixed iterations, seedless
    // md5-min init. The hash gate holds because every float op is order-
    // pinned cross-engine: assignment score dot(v,c)−‖c‖²/2 is a left-to-
    // right dot both engines (bit-identical argmax, same larger-cid
    // tie-break), d² = (v·v − 2v·c) + c·c same association; the one
    // unordered reduction (centroid mean) differs at ~1e-16, far below any
    // assignment boundary. Per-cluster output, r4-rounded mean squared
    // distance. Scale: see kmeansLloyd scaladoc — iters scans, k·dim-row
    // shuffles, capped k·dim driver collects.
    "q_kmeans" -> ((s, dir) => {
      val (centers, assigned) = Ann.kmeansLloyd(t(s, dir, "embeddings"),
        k = KmeansK, iters = KmeansIters)
      val cmat = array(centers.map(c => array(c.map(lit): _*)): _*)
      assigned
        .select(col("cell"), col("v"), element_at(cmat, col("cell") + 1).as("c"))
        .select(col("cell"),
          (Ann.dot(col("v"), col("v")) - lit(2.0) * Ann.dot(col("v"), col("c"))
            + Ann.dot(col("c"), col("c"))).as("d2"))
        .groupBy("cell")
        .agg(count(lit(1)).as("n_pts"), r4(avg(col("d2"))).as("avg_sqdist"))
        .select(col("cell").cast("long").as("cell"), col("n_pts"),
          col("avg_sqdist"))
        .orderBy("cell")
    }),

    // ---- language ID (oracle-backed) + fingerprint (rows-only) ------------
    "q_lang_id" -> ((s, dir) => {
      val d = docs(s, dir)
      TextOps.langId(d, d).orderBy("doc_id")
    }),

    // oracle-backed: LM-perplexity quality scoring (CCNet-style filter).
    // Train the add-one-smoothed trigram LM on the doc_id%10<8 slice,
    // score EVERY doc's average log-likelihood via the broadcast-model
    // codegen kernel; the oracle recomputes profile and scores relationally
    // — per-doc hash-match at 4 decimals pins kernel, normalization, and
    // smoothing arithmetic cross-engine.
    "q_lm_perplexity" -> ((s, dir) => {
      // compact corpus parquet arrives as ONE partition; the trigram
      // explode multiplies work not bytes, so spread rows across cores
      // before it (roundrobin — no hash Exchange enters the scoring plan)
      val d = t(s, dir, "documents").repartition(s.sparkContext.defaultParallelism)
      TextOps.lmScore(d, d.where(col("doc_id") % 10 < 8))
        .select(col("doc_id"), col("n_grams"), r4(col("avg_logprob")).as("avg_logprob"))
        .orderBy("doc_id")
    }),

    // oracle-backed: DSIR importance selection (Xie et al. 2023) — the
    // data-selection stage between quality filtering and mixing: rank the
    // corpus by target-vs-source LM log-likelihood ratio and Gumbel-top-k
    // sample ∝ softmax weight, noise content-addressed from md5(text).
    // Target domain = the en slice; k = 100. Scale shape: two broadcast
    // LM kernels, one shuffle-free scoring scan, TakeOrdered heap. The
    // oracle recomputes both profiles, the ratio, the md5 uniform, and
    // the same top-k relationally — selection AND values hash-matched.
    "q_dsir_select" -> ((s, dir) => {
      // same pre-explode spread as q_lm_perplexity: two trigram profile
      // builds + the scoring scan otherwise serialize on one partition
      val d = t(s, dir, "documents").repartition(s.sparkContext.defaultParallelism)
      TextOps.dsirSelect(d, d.where(col("lang") === "en"), k = 100)
        .select(col("doc_id"), r4(col("llr")).as("llr"))
        .orderBy("doc_id")
    }),

    // oracle-backed: CCNet perplexity buckets (Wenzek et al. 2020) — the
    // curation step downstream of q_lm_perplexity's raw scores: split each
    // source into head/middle/tail TERTILES by LM log-likelihood, the
    // partition CCNet keeps/reweights/drops. The per-doc score is the
    // q_lm_perplexity value r4-PINNED, so the tertile order is over
    // identical doubles in both engines (tie-break doc_id). The tertile
    // itself comes from Ranks.withPartitionedRank + ntileOf — the
    // two-level bucketed ranking with source as the lane (a native
    // NTILE window partitioned by the schema-bounded-small source key
    // over a data-sized frame is exactly the hot-single-task shape r11
    // eliminated); the ORACLE uses DuckDB's native NTILE, so the
    // derivation is independently cross-checked. Per-bucket means sum
    // exact 1e-4-grid integers (the pinned scores re-quantized), so
    // aggregation order cannot diverge.
    "q_ppl_buckets" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
      val scored = TextOps.lmScore(d, d.where(col("doc_id") % 10 < 8),
          keep = Seq("source"))
        .select(col("doc_id"), r4(col("avg_logprob")).as("lp"), col("source"))
      val ranked = Ranks.withPartitionedRank(scored, col("source"),
        -col("lp"), col("doc_id"), "rk", nOut = "n_src", checkpoint = false)
      val tiled = ranked.withColumn("tile",
        Ranks.ntileOf(col("rk"), col("n_src"), 3))
      tiled.groupBy(col("source"),
          when(col("tile") === 1, "head").when(col("tile") === 2, "middle")
            .otherwise("tail").as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(floor(col("lp") * lit(10000.0) + lit(0.500001)).cast("long"))
            .as("sk"),
          min(col("lp")).as("min_lp"), max(col("lp")).as("max_lp"))
        .select(col("source"), col("bucket"), col("n_docs"),
          r6(col("sk").cast("double") / col("n_docs").cast("double")
            / lit(10000.0)).as("avg_logprob"),
          col("min_lp"), col("max_lp"))
        .orderBy("source", "bucket")
    }),

    // envelope-contract oracle: the fingerprint VALUES are xxhash64-specific
    // (the kernel-vs-HOF cross-check in TextOpsSpec pins them), but
    // winnowing's published guarantees (Schleimer–Wilkerson–Aiken 2003 §2)
    // are not: with L k-grams and window w, every window selects one hash
    // (n_fp ≥ 1), a selected position covers ≤ w consecutive windows (all
    // L hashes distinct ⇒ n_fp ≥ ⌈W/w⌉, W = window count), and the distinct
    // fingerprint set can't exceed either the window count or the distinct
    // gram count. DuckDB recomputes L per doc from the text and returns the
    // bounds flag as a constant — per-row hash-match on (doc_id, n_grams,
    // bounds_ok), so a tokenizer or kernel regression breaks the oracle.
    "q_fingerprint" -> ((s, dir) => {
      val k = 3; val w = 4
      val toks = TextOps.tokens(col("text"))
      docs(s, dir)
        .select(col("doc_id"),
          greatest(size(toks) - (k - 1), lit(1)).cast("long").as("n_grams"),
          size(Dedup.shingleHashSet(col("text"), k)).cast("long").as("n_distinct"),
          size(call_function("winnow_fp", col("text"), lit(k), lit(w)))
            .cast("long").as("n_fp"))
        .withColumn("n_windows", greatest(col("n_grams") - (w - 1), lit(1L)))
        .select(col("doc_id"), col("n_grams"),
          (col("n_fp") >= 1L &&
            col("n_fp") <= least(col("n_windows"), col("n_distinct")) &&
            (col("n_distinct") < col("n_grams") ||
              col("n_fp") >= floor((col("n_windows") + (w - 1)) / w)))
            .cast("long").as("bounds_ok"))
        .orderBy("doc_id")
    }),

    // ---- ROUGE-2 overlap scoring (oracle-backed) --------------------------
    // The generation-eval metric (Lin 2004): bigram-MULTISET overlap
    // precision/recall/F1 of a candidate against its reference — here the
    // planted truncation (the q_ngram_jaccard corpus: candidate = doc
    // minus its last two tokens) scored against the original, which makes
    // every score closed-form checkable AND exercises the exact shape an
    // LLM-eval harness runs over (model output, reference) pairs at scale.
    //
    // Multiset, not set: repeated bigrams must count ("the cat the cat"
    // vs one "the cat" is 1/3 recall, not 1/1) — so overlap is
    // Σ_g min(c_ref, c_cand) via one (doc_id, gram)-keyed equi-join of
    // the two per-doc gram histograms. Scale shape: grams explode ~L rows
    // per doc but partial-aggregate (map-side combine) before the one
    // shuffle; denominators come FREE from token counts (|bigrams| =
    // len−1 — no second aggregation over grams); docs shorter than 2
    // tokens have no bigrams and abstain with NULL metrics identically.
    "q_rouge_overlap" -> ((s, dir) => {
      val d = docs(s, dir)
      val toks = TextOps.tokens(col("text"))
      // ONE tokenize pass shared by both gram histograms and the size frame
      // (the c506f83 shingle-scan discipline): without the checkpoint the
      // regex split would run three times over the corpus
      val base = d.select(col("doc_id"), toks.as("w"),
        slice(toks, lit(1), greatest(size(toks) - 2, lit(1))).as("w2"))
        .localCheckpoint()
      def bigrams(w: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        when(size(w) >= 2,
          transform(sequence(lit(1), size(w) - 1),
            i => concat(element_at(w, i), lit(" "), element_at(w, i + 1))))
          .otherwise(array().cast("array<string>"))
      // ONE side-tagged explode + ONE (doc_id, gram) exchange (r17): the
      // r16 shape built two separate gram histograms and sort-merge-joined
      // them back on (doc_id, g) — three shuffles of the exploded gram
      // stream where one suffices. Both sides' grams ride the same
      // map-side-combined aggregate as conditional counts; "gram present
      // in both" (the old inner join) is the two-counts-positive filter.
      val tagged = base.select(col("doc_id"), explode(concat(
          transform(bigrams(col("w")),
            g => struct(g.as("g"), lit(0).as("side"))),
          transform(bigrams(col("w2")),
            g => struct(g.as("g"), lit(1).as("side"))))).as("e"))
      val ov = tagged
        .groupBy(col("doc_id"), col("e.g").as("g"))
        .agg(sum(when(col("e.side") === 0, 1L).otherwise(0L)).as("c_ref"),
          sum(when(col("e.side") === 1, 1L).otherwise(0L)).as("c_cand"))
        .where(col("c_ref") > 0 && col("c_cand") > 0)
        .groupBy("doc_id")
        .agg(sum(least(col("c_ref"), col("c_cand"))).as("overlap"))
      val sized = base.select(col("doc_id"),
        greatest(size(col("w")) - 1, lit(0)).cast("long").as("n_ref"),
        greatest(size(col("w2")) - 1, lit(0)).cast("long").as("n_cand"))
      val j = sized.join(ov, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_ref"), col("n_cand"),
          coalesce(col("overlap"), lit(0L)).as("overlap"))
      val p = when(col("n_cand") > 0,
        col("overlap").cast("double") / col("n_cand"))
      val rr = when(col("n_ref") > 0,
        col("overlap").cast("double") / col("n_ref"))
      j.select(col("doc_id"), col("n_ref"), col("n_cand"), col("overlap"),
        r6(p).as("rouge2_precision"), r6(rr).as("rouge2_recall"),
        r6(when(p.isNotNull && rr.isNotNull && p + rr > 0,
          lit(2.0) * p * rr / (p + rr))).as("rouge2_f1"))
        .orderBy("doc_id")
    }),

    // ---- multimodal: REAL PNG encode → ImageIO decode (oracle-backed) -----
    // The engine builds genuine PNGs whose dims/pixels are closed-form in
    // doc_id, decodes them with javax.imageio, and reports true decoded
    // width/height + mean luminance; DuckDB recomputes all three from the
    // pixel formula without ever seeing the bytes. byte_len is deliberately
    // NOT in the output (PNG encoder output is JDK-specific).
    "q_multimodal" -> ((s, dir) => {
      val media = Multimodal.pngMediaFromDocuments(s, t(s, dir, "documents"))
      Multimodal.extractFeatures(media).toDF()
        .select(col("media_id"), col("mime"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          r4(element_at(col("feature"), 1)).as("mean_lum"))
        .orderBy("media_id")
    }),

    // the THIRD real still container (r10): genuine baseline TIFFs through
    // the JDK 9+ javax.imageio TIFF plugin — lossless, distinct pixel
    // formula, same luminance oracle shape as q_multimodal
    "q_multimodal_tiff" -> ((s, dir) => {
      val media = Multimodal.tiffMediaFromDocuments(s, t(s, dir, "documents"))
      Multimodal.extractFeatures(media).toDF()
        .select(col("media_id"), col("mime"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          r4(element_at(col("feature"), 1)).as("mean_lum"),
          element_at(col("feature"), 2).cast("long").as("min_lum"),
          element_at(col("feature"), 3).cast("long").as("max_lum"))
        .orderBy("media_id")
    }),

    // REAL WAV encode → javax.sound decode: frame counts and every PCM16
    // sample are closed-form in doc_id with INTEGER values, so amplitude
    // sums stay exact in doubles and the oracle recomputes rms/meanAbs/
    // peak from the sample formula without seeing the bytes.
    "q_multimodal_audio" -> ((s, dir) => audioRows(Multimodal.extractAudioFeatures(
      Multimodal.wavMediaFromDocuments(s, t(s, dir, "documents"))))),

    // the SECOND real audio container (r11): genuine AIFF (big-endian IFF
    // chunks) through the same javax.sound SPI — distinct sample formula
    // and rate, so a reader regression breaks only its own query
    "q_multimodal_aiff" -> ((s, dir) => audioRows(Multimodal.extractAudioFeatures(
      Multimodal.aiffMediaFromDocuments(s, t(s, dir, "documents"))))),

    // REAL float32-WAV decode (r11, the THIRD audio container path):
    // WAVE_FORMAT_IEEE_FLOAT through the same javax.sound SPI
    // (WaveFloatFileReader); integer-valued float samples are exact, so
    // the oracle recomputes rms/mean_abs/peak from the closed form
    // (n = 256 + id%512 @ 16 kHz, v(i) = (i·29 + id·13) mod 1601 − 800)
    // without seeing bytes; a non-float payload fails loudly
    "q_multimodal_f32" -> ((s, dir) => audioRows(Multimodal.extractAudioF32Features(
      Multimodal.f32MediaFromDocuments(s, t(s, dir, "documents"))))),

    // REAL WAV decode → fixed-point linear-interp resample 8 kHz → 6 kHz
    // (src/dst = 4/3): every output sample is exact integer arithmetic
    // over the decoded PCM (Multimodal.resamplePcm), so the oracle
    // recomputes length, sum, |sum| and peak per clip from the closed-form
    // sample formula without ever seeing bytes — the q_multimodal_resize
    // pixel-exact contract, for audio
    "q_audio_resample" -> ((s, dir) => {
      val media = Multimodal.wavMediaFromDocuments(s, t(s, dir, "documents"))
      Multimodal.resampleAudio(media, num = 4, den = 3).toDF()
        .select(col("media_id"),
          col("sample_rate_out").cast("long").as("sample_rate_out"),
          col("n_in"), col("n_out"), col("sum_out"), col("sum_abs_out"),
          col("peak_out"))
        .orderBy("media_id")
    }),

    // oracle-backed: REAL ISO-BMFF container parsing (ftyp/moov/mvhd/tkhd/
    // mdat box walk — everything a pre-decode ingest filter reads);
    // frame DECODE is q_multimodal_frames. Parameters are closed-form
    // in doc_id, so the oracle recomputes the parser's outputs exactly.
    "q_multimodal_video" -> ((s, dir) => {
      val media = Multimodal.mp4MediaFromDocuments(s, t(s, dir, "documents"))
      Multimodal.extractVideoMeta(media).toDF()
        .select(col("media_id"), col("brand"), col("duration_ms"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("mdat_bytes"), col("byte_len"))
        .orderBy("media_id")
    }),

    // oracle-backed: REAL video FRAME decode — the engine builds genuine
    // RIFF/AVI containers (uncompressed 24-bit DIB frames, lossless) whose
    // dims/frame-count/pixels are closed-form in doc_id, demuxes them,
    // decodes every 2nd frame (the frame-sampling contract), and reports
    // true per-frame luminance stats; DuckDB recomputes everything from
    // the pixel formula without seeing a byte. The MJPEG decode path is
    // covered by MultimodalSpec self-consistency (JPEG bytes are
    // JDK-version-specific, so no closed-form oracle there).
    "q_multimodal_frames" -> ((s, dir) =>
      frameRows(Multimodal.aviMediaFromDocuments(s, t(s, dir, "documents")))),

    // oracle-backed: the SECOND JDK-decodable animated container — REAL
    // multi-frame GIF decode (ImageIO index reads over a gray-ramp
    // palette, lossless by construction) through the same every-2nd-frame
    // sampling path as the AVI pipeline. Same closed form in doc_id, so
    // the two containers hash-match the SAME oracle rows — a demux or
    // palette regression in either path breaks its own query.
    "q_multimodal_gif" -> ((s, dir) =>
      frameRows(Multimodal.gifMediaFromDocuments(s, t(s, dir, "documents")))),

    // oracle-backed: REAL pixel resize — encode genuine PNGs, decode,
    // bilinear-downscale the PIXEL BUFFER with the exact fixed-point
    // kernel (corner-aligned rational weights, floor division — see
    // Multimodal.resizeImage), and report output dims + the integer-exact
    // Σ(r+g+b) of the resized buffer. Every output pixel is closed-form in
    // doc_id, so DuckDB recomputes the whole resized image per media row
    // — a kernel rounding regression breaks the hash, not just a bound.
    "q_multimodal_resize" -> ((s, dir) => {
      val media = Multimodal.pngMediaFromDocuments(s, t(s, dir, "documents"))
      Multimodal.resizeSummaries(media, maxSide = 4).toDF()
        .select(col("media_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("rgb_sum"))
        .orderBy("media_id")
    }),

    // oracle-backed: perceptual hash (pHash) over REAL decoded pixels —
    // the image near-dup fingerprint multimodal dedup runs before
    // training: decode the genuine PNG, canonicalize to 8×8 through the
    // exact fixed-point bilinear core (UP-sampling exercised too — source
    // heights run 3..9), integer 2-D DCT-II over the fixed-point cosine
    // basis that is INLINED into the oracle as literal integers (no trig
    // in the cross-engine surface), low-4×4-minus-DC median threshold →
    // 15-bit hash. Everything after decode is integer-exact, so DuckDB
    // replays the full pipeline pixel-for-pixel from the closed-form
    // source formula. One mapPartitions scan, no shuffle.
    "q_image_phash" -> ((s, dir) => {
      val media = Multimodal.pngMediaFromDocuments(s, t(s, dir, "documents"))
      Multimodal.phashSummaries(media).toDF()
        .select(col("media_id"), col("dc"), col("phash"), col("n_ones"))
        .orderBy("media_id")
    }),

    // ---- corpus scrubbing (oracle-backed) ---------------------------------
    // PII redaction over deterministically planted emails/phones/cards/IPs;
    // the md5 of the redacted text pins the FULL redaction output per doc
    // cross-engine, not just the match counts. Pure projection — the C4-
    // style scrub costs one scan at any corpus size.
    "q_pii_redact" -> ((s, dir) => {
      val planted = t(s, dir, "documents").withColumn("text", concat(col("text"),
        when(col("doc_id") % 5 === 0, concat(lit(" contact user"),
          col("doc_id").cast("string"), lit("@example.com now"))).otherwise(lit("")),
        when(col("doc_id") % 7 === 0, concat(lit(" call +141555500"),
          (col("doc_id") % 100).cast("string"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit(" card 4242424242424242")).otherwise(lit("")),
        when(col("doc_id") % 13 === 0, concat(lit(" from 10.0."),
          (col("doc_id") % 256).cast("string"), lit(".7"))).otherwise(lit(""))))
      TextOps.redactPii(planted.withColumn("n_pii", TextOps.piiCount(col("text"))))
        .select(col("doc_id"), col("n_pii"), md5(col("text")).as("redacted_md5"))
        .orderBy("doc_id")
    }),

    // oracle-backed: k-anonymity audit (Sweeney 2002) — the release gate
    // a dataset passes before leaving the privacy boundary: every
    // quasi-identifier combination (nation × market segment here) must
    // cover ≥ k individuals, else those rows re-identify. One corpus scan
    // partial-aggregates to the ≤|nations|·|segments| cell frame (schema-
    // bounded), then the audit scalars — min cell size, violating cells,
    // rows needing suppression, the pass flag — are windows over that
    // tiny frame. All exact BIGINTs; the one float is the suppression
    // rate division.
    "q_kanonymity" -> ((s, dir) => {
      val k = lit(5L)
      val cells = t(s, dir, "customer")
        .groupBy(col("c_nationkey").as("qi_nation"),
          col("c_mktsegment").as("qi_segment"))
        .agg(count(lit(1)).as("n"))
      val g = cells.agg(
        count(lit(1)).as("n_groups"),
        sum(col("n")).as("n_rows"),
        min(col("n")).as("min_k"),
        sum(when(col("n") < k, 1L).otherwise(0L)).as("groups_below_k"),
        sum(when(col("n") < k, col("n")).otherwise(0L)).as("rows_below_k"))
      g.select(col("n_groups"), col("n_rows"), col("min_k"),
        col("groups_below_k"), col("rows_below_k"),
        r6(col("rows_below_k").cast("double") / col("n_rows"))
          .as("suppression_rate"),
        (col("min_k") >= k).cast("long").as("k_anonymous"))
    }),

    // oracle-backed: l-diversity audit (Machanavajjhala et al. 2007) — the
    // follow-up gate k-anonymity misses: a quasi-identifier cell of ≥ k
    // rows that all share the SAME sensitive value still discloses it to
    // anyone who can place a person in the cell. Over the q_kanonymity QIs
    // (nation × market segment) with account-balance band ($1000 bands) as
    // the sensitive attribute: per-cell distinct-l and entropy-l =
    // exp(H(sensitive | cell)); the release passes when every cell clears
    // BOTH at l = 3. Scale shape: one corpus scan partial-aggregates to
    // the (QI × band) cell frame — schema-bounded at |nations|·|segments|·
    // |bands| — then the per-QI rollup and the audit scalars are two more
    // bounded aggregates; nothing downstream of the first Exchange scales
    // with the corpus. Counts stay exact BIGINT; the entropy is the
    // q_token_entropy closed form ln t − Σ n·ln n / t whose ≤|bands|-term
    // accumulation is absorbed by r4 BEFORE the min/flags, so the audit
    // booleans cannot flip cross-engine.
    "q_l_diversity" -> ((s, dir) => {
      val l = lit(3L)
      val band = floor(col("c_acctbal") / lit(1000.0)).cast("long")
      val cells = t(s, dir, "customer")
        .groupBy(col("c_nationkey").as("qi_nation"),
          col("c_mktsegment").as("qi_segment"), band.as("band"))
        .agg(count(lit(1)).as("n"))
      val grp = cells
        .groupBy("qi_nation", "qi_segment")
        .agg(sum(col("n")).as("t"), count(lit(1)).as("distinct_l"),
          r4(log(sum(col("n")))
            - sum(col("n").cast("double") * log(col("n"))) / sum(col("n")))
            .as("h"))
        .select(col("t"), col("distinct_l"),
          r4(exp(col("h"))).as("entropy_l"))
      grp.agg(
          count(lit(1)).as("n_groups"), sum(col("t")).as("n_rows"),
          min(col("distinct_l")).as("min_distinct_l"),
          min(col("entropy_l")).as("min_entropy_l"),
          sum(when(col("distinct_l") < l, 1L).otherwise(0L))
            .as("groups_below_distinct"),
          sum(when(col("entropy_l") < l.cast("double"), 1L).otherwise(0L))
            .as("groups_below_entropy"))
        .select(col("n_groups"), col("n_rows"), col("min_distinct_l"),
          col("min_entropy_l"), col("groups_below_distinct"),
          col("groups_below_entropy"),
          (col("min_distinct_l") >= l &&
            col("min_entropy_l") >= l.cast("double"))
            .cast("long").as("l_diverse"))
    }),

    // ---- t-closeness audit (r11) ------------------------------------------
    // The third privacy gate (Li et al. 2007), completing k-anonymity +
    // l-diversity: a cell can be l-diverse yet still leak when its
    // sensitive DISTRIBUTION sits far from the population's (a cell of
    // only top-band balances discloses wealth). Over the same QIs
    // (nation × segment) and sensitive $1000 acctbal bands: per-cell EMD
    // to the global band distribution — for an ORDERED attribute EMD is
    // the mean |cumulative difference| over the first m−1 band prefixes.
    // Scale shape: the (QI × band) frame is schema-bounded; the dense
    // grid comes from cellTot × bandTot (both bounded, broadcast); the
    // cumulative rides a per-cell ordered window over that grid (same
    // float sequence both engines — band order), each prefix's |cum|
    // micro-quantized before the per-cell sum. Release passes at the
    // conventional t = 0.2.
    "q_t_closeness" -> ((s, dir) => {
      val band = floor(col("c_acctbal") / lit(1000.0)).cast("long")
      val rows = t(s, dir, "customer")
        .select(col("c_nationkey").as("qn"),
          col("c_mktsegment").as("qs"), band.as("band"))
      val cellBand = rows.groupBy("qn", "qs", "band")
        .agg(count(lit(1)).as("n"))
      val cellTot = rows.groupBy("qn", "qs").agg(count(lit(1)).as("tc"))
      val bandTot = rows.groupBy("band").agg(count(lit(1)).as("nb"))
      val glob = rows.agg(count(lit(1)).as("nn"),
        countDistinct(col("band")).as("m"), max(col("band")).as("maxb"))
      val grid = cellTot.crossJoin(broadcast(bandTot))
        .join(cellBand, Seq("qn", "qs", "band"), "left")
        .na.fill(0L, Seq("n"))
        .crossJoin(broadcast(glob))
      val diff = col("n").cast("double") / col("tc").cast("double") -
        col("nb").cast("double") / col("nn").cast("double")
      val cum = grid.withColumn("cum", sum(diff).over(
        Window.partitionBy(col("qn"), col("qs")).orderBy(col("band"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val perCell = cum.where(col("band") < col("maxb"))
        .select(col("qn"), col("qs"), col("tc"), col("m"),
          floor(abs(col("cum")) * lit(1000000.0)).cast("long").as("cm"))
        .groupBy("qn", "qs", "tc", "m")
        .agg(sum(col("cm")).as("emd_micro"))
        .select(col("qn"), col("qs"), col("tc"),
          r6(col("emd_micro").cast("double") / 1000000.0 /
            (col("m") - 1L).cast("double")).as("emd"))
      perCell.agg(count(lit(1)).as("n_groups"), sum(col("tc")).as("n_rows"),
          max(col("emd")).as("max_emd"),
          sum((col("emd") > 0.2).cast("long")).as("groups_above_t"))
        .select(col("n_groups"), col("n_rows"), col("max_emd"),
          col("groups_above_t"),
          (col("max_emd") <= 0.2).cast("long").as("t_close"))
    }),

    // ---- cross-document duplicate n-gram spans (r11) ----------------------
    // The n-gram-level contamination/memorization diagnostic (the Lee et
    // al. 2022 dedup report's unit, downstream of doc-level dedup): per
    // source, what share of its DISTINCT 8-gram token shingles also
    // appears in at least one OTHER document? One (gram) shuffle over
    // linear gram volume — grams are strings, never pairs; counts exact
    // BIGINT; the doc census per gram is the dedup-exact group-listing
    // shape. Tokenization and the 8-gram join are textually mirrored in
    // the oracle (concat_ws ' ' ≡ array_to_string ' ').
    "q_dup_ngram_spans" -> ((s, dir) => {
      val toks = TextOps.tokens(lower(col("text")))
      // ONE tokenize pass (the q_rouge_overlap checkpoint discipline): the
      // token frame feeds the gram census AND the per-source doc count.
      // (r18: a pre-tokenize core-count repartition was measured here and
      // on trainBpe — noise-to-negative both, unlike q_ngram_novelty where
      // the same spread halves the wall; the checkpoint build here is
      // filter-bounded and cheaper than the exchange it would add.)
      val base = docs(s, dir)
        .select(col("doc_id"), col("source"), toks.as("w"))
        .where(size(col("w")) >= 8)
        .localCheckpoint()
      // TWO gram-keyed exchanges replace the r16 four (distinct → per-gram
      // doc count → join the count back onto the full gram set → a
      // countDistinct Expand over the joined stream): (1) the per-(gram,
      // source) distinct-doc count partial-aggregates — map-side dedup of
      // (g, source, doc) before anything crosses the network; (2) the
      // per-gram rollup carries its per-source breakdown in a bounded
      // collect_list (≤|sources| entries), so the duplicate census falls
      // out of a projection-only explode + a ≤|sources|-row aggregate —
      // the gram stream is never join-shuffled back.
      val bySrc = base
        .select(col("doc_id"), col("source"),
          explode(transform(sequence(lit(0), size(col("w")) - 8),
            i => concat_ws(" ", slice(col("w"), i + 1, lit(8))))).as("g"))
        .groupBy(col("g"), col("source"))
        .agg(countDistinct(col("doc_id")).as("n_sg"))
      val perSrc = bySrc
        .groupBy("g")
        .agg(sum(col("n_sg")).as("docs"),
          collect_list(struct(col("source"), col("n_sg"))).as("srcs"))
        .select(col("docs"), explode(col("srcs")).as("e"))
        .groupBy(col("e.source").as("source"))
        .agg(sum(col("e.n_sg")).as("n_grams"),
          sum(when(col("docs") >= 2L, col("e.n_sg")).otherwise(0L))
            .as("dup_grams"))
      // base has one row per doc, so the doc census is a plain count
      base.groupBy("source").agg(count(lit(1)).as("n_docs"))
        .join(perSrc, Seq("source"))
        .select(col("source"), col("n_docs"), col("n_grams"),
          col("dup_grams"),
          r6(col("dup_grams").cast("double") / col("n_grams").cast("double"))
            .as("dup_share"))
        .orderBy("source")
    }),

    // ---- Kish effective sample size of sampling weights (r11) -------------
    // The diagnostic every weighted pipeline (q_weighted_sample, DSIR,
    // α-sampling) should report: with per-doc weight w = n_chars, ESS =
    // (Σw)²/Σw² — how many EQUAL-WEIGHT docs the weighted set is worth
    // (Kish 1965). Efficiency = ESS/n: 1.0 means uniform, small means a
    // few heavy docs dominate the mixture. Exact BIGINT Σw, decimal-38
    // Σw²; one division chain per source.
    "q_ess_weights" -> ((s, dir) => {
      docs(s, dir)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_w"),
          sum(col("n_chars").cast("decimal(19,0)") *
            col("n_chars").cast("decimal(19,0)")).as("sw2"))
        .select(col("source"), col("n_docs"), col("sum_w"),
          r2(col("sum_w").cast("double") * col("sum_w").cast("double") /
            col("sw2").cast("double")).as("ess"),
          r6(col("sum_w").cast("double") * col("sum_w").cast("double") /
            col("sw2").cast("double") / col("n_docs").cast("double"))
            .as("efficiency"))
        .orderBy("source")
    }),

    // oracle-backed: differentially-private segment counts — the released
    // histogram shape (Laplace mechanism, Dwork et al. 2006: sensitivity
    // 1 counts + Lap(1/ε) noise). Noise is CONTENT-ADDRESSED from
    // md5(segment) through the inverse CDF (the q_bootstrap_ci uniform
    // discipline) so both engines draw the identical deviate — the
    // determinism is for the correctness gate, not the privacy proof
    // (true ε-DP needs a fresh secret draw per release; documented). One
    // bounded aggregate, one float sequence per cell.
    "q_dp_counts" -> ((s, dir) => {
      val eps = 1.0
      val u = (conv(substring(md5(concat(lit("dp#"), col("segment"))
        .cast("binary")), 1, 8), 16, 10).cast("double") + lit(0.5)) /
        lit(4294967296.0)
      val c = u - lit(0.5)
      val lap = -signum(c) * log(lit(1.0) - lit(2.0) * abs(c)) / lit(eps)
      t(s, dir, "customer")
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("true_count"))
        .select(col("segment"), col("true_count"),
          r4(col("true_count") + lap).as("noisy_count"),
          lit(eps).as("epsilon"))
        .orderBy("segment")
    }),

    // benchmark decontamination: flag docs sharing an 8-gram with the eval
    // set (doc_id % 97 == 0). Contamination is planted by appending the
    // first 8 tokens of doc 0 to docs with doc_id % 13 == 5; benchmark
    // docs self-flag (they are in the corpus). Bench grams broadcast; one
    // corpus scan.
    "q_decontaminate" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val probe = d.where(col("doc_id") === 0)
        .select(concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 8)).as("p"))
      val corpus = d.crossJoin(broadcast(probe))
        .withColumn("text", when(col("doc_id") % 13 === 5,
          concat(col("text"), lit(" "), col("p"))).otherwise(col("text")))
        .drop("p")
      TextOps.decontaminate(corpus, d.where(col("doc_id") % 97 === 0), n = 8)
        .orderBy("doc_id")
    }),

    // concat-and-chunk sequence packing: per-source greedy packing into
    // 512-token training sequences; reports pack occupancy. The window is
    // partitioned by source — no global single-task ordering.
    "q_seq_pack" -> ((s, dir) => {
      TextOps.packSequences(t(s, dir, "documents"), budget = 512, partitionCol = "source")
        .groupBy(col("source"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
        .orderBy("source", "pack_id")
    }),

    // ---- duplication scorecard: cluster-size distribution (r10) -----------
    // The histogram behind every dedup report: group the corpus by exact
    // content hash, then count CLUSTERS OF EACH SIZE — "how much of the
    // corpus is singletons vs 2-copies vs mass-duplicated?" plus the
    // duplication factor (docs per distinct text) and the excess share
    // (fraction of docs that exact dedup would drop). Scale shape: one
    // content-hash shuffle (map-side combined), then the size histogram
    // over the cluster frame and three broadcast scalars — the size frame
    // is bounded by max multiplicity, not the corpus.
    "q_dup_cluster_stats" -> ((s, dir) => {
      val clusters = t(s, dir, "documents")
        .groupBy(md5(col("text")).as("h"))
        .agg(count(lit(1)).as("sz"))
      val hist = clusters.groupBy(col("sz"))
        .agg(count(lit(1)).as("n_clusters"))
      val tot = clusters.agg(sum(col("sz")).as("n_docs"),
        count(lit(1)).as("n_distinct"))
      hist.crossJoin(broadcast(tot))
        .select(col("sz").as("cluster_size"), col("n_clusters"),
          (col("sz") * col("n_clusters")).as("docs_at_size"),
          r6(col("n_docs").cast("double") / col("n_distinct"))
            .as("dup_factor"),
          r6((col("n_docs") - col("n_distinct")).cast("double") /
            col("n_docs")).as("excess_share"))
        .orderBy("cluster_size")
    }),

    // ---- tokenizer fertility by source (r10) ------------------------------
    // The tokenizer-health readout every multilingual corpus report
    // carries (fertility: subword tokens per word — high fertility means
    // the tokenizer fragments this slice; chars-per-token prices the
    // context-window cost): per source, whitespace words, BPE-ish subword
    // tokens (the q_text_stats pre-tokenizer), chars, and the two ratios.
    // One scan, map-side-combined exact BIGINT sums, two final divisions.
    "q_token_fertility" -> ((s, dir) => {
      val toks = size(TextOps.tokens(col("text"))).cast("long")
      val bpe = size(TextOps.bpeishTokens(col("text"))).cast("long")
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("n_chars_total"),
          sum(toks).as("n_words"),
          sum(bpe).as("n_subwords"))
        .select(col("source"), col("n_docs"), col("n_chars_total"),
          col("n_words"), col("n_subwords"),
          r4(col("n_subwords").cast("double") / col("n_words"))
            .as("fertility"),
          r4(col("n_chars_total").cast("double") / col("n_subwords"))
            .as("chars_per_token"))
        .orderBy("source")
    }),

    // ---- cross-source n-gram novelty (r10) --------------------------------
    // "How much of each source is CONTENT the other sources don't have?"
    // — the redundancy-vs-novelty read that decides whether adding a
    // source buys new signal or re-buys the web: per source, its distinct
    // 8-gram vocabulary and the share of it appearing in NO other source.
    // Scale shape: one tokenize+explode scan to (source, gram) distincts
    // (map-side combined), one gram-keyed aggregate counting carrying
    // sources, broadcast NOTHING — both shuffles are key-partitioned and
    // the gram frame never re-joins the corpus. Exact BIGINTs + one
    // division.
    "q_ngram_novelty" -> ((s, dir) => {
      val n = 8
      // ONE gram-keyed exchange (r17): the r16 shape shuffled the exploded
      // gram stream three times (distinct → per-gram spread count → join
      // the spread back onto the gram set). collect_set(source) per gram
      // dedups map-side AND carries the whole per-gram source census in a
      // schema-bounded set (|sources| is a small enum), so novelty falls
      // out of a projection-only explode + a ≤|sources|-row aggregate.
      // r18: spread the text across the session's cores before the
      // tokenize/8-gram explode — the corpus arrives as one split at bench
      // SFs, serializing ~1 s of pure string CPU into a single task. The
      // exchange moves the text ONCE; work-per-byte here is far above the
      // scan heuristic AQE sizes for (guide §2.5). At corpus scale the
      // input arrives in many splits and the exchange is a no-op cost-wise
      // relative to the gram shuffle that follows.
      val perGram = t(s, dir, "documents")
        .select(col("source"), col("text"))
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("source"),
          explode(ColumnOps.bind(TextOps.tokens(col("text"))) {
            toks => transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
              i => concat_ws(" ", slice(toks, i + 1, lit(n))))
          }).as("gram"))
        .groupBy("gram")
        .agg(collect_set(col("source")).as("srcs"))
      perGram
        .select(size(col("srcs")).cast("long").as("n_sources"),
          explode(col("srcs")).as("source"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_grams"),
          sum((col("n_sources") === 1L).cast("long")).as("n_unique"))
        .select(col("source"), col("n_grams"), col("n_unique"),
          r6(col("n_unique").cast("double") / col("n_grams"))
            .as("novelty_share"))
        .orderBy("source")
    }),

    // ---- character-class profile by source (r10) --------------------------
    // The cheap corpus screen that catches OCR garbage, base64 blobs, and
    // markup floods before any model-based filter: per source, density per
    // kilochar of letters, digits, whitespace, sentence punctuation, and
    // everything else. Class counts via length-of-regexp-strip — the one
    // string idiom whose semantics are identical across Java regex and
    // RE2 for ASCII classes (the q_text_stats n_punct discipline). One
    // scan, exact BIGINT sums, densities r4 off single divisions.
    "q_charclass_profile" -> ((s, dir) => {
      def cnt(pat: String): org.apache.spark.sql.Column =
        (length(col("text")) -
          length(regexp_replace(col("text"), pat, ""))).cast("long")
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("n_chars_total"),
          sum(cnt("[A-Za-z]")).as("n_letters"),
          sum(cnt("[0-9]")).as("n_digits"),
          // explicit class, textually identical to the oracle's: Java \s
          // is [ \t\n\x0B\f\r] but RE2 \s is [\t\n\f\r ] — a document
          // containing \x0B would silently diverge engine vs oracle
          // (r10 ADVICE), so both sides spell the Java set out
          sum(cnt("[ \\t\\n\\f\\r\\x0B]")).as("n_space"),
          sum(cnt("[.,;:!?]")).as("n_punct"))
        .select(col("source"), col("n_docs"), col("n_chars_total"),
          r4(col("n_letters").cast("double") * 1000.0 / col("n_chars_total"))
            .as("letters_per_kc"),
          r4(col("n_digits").cast("double") * 1000.0 / col("n_chars_total"))
            .as("digits_per_kc"),
          r4(col("n_space").cast("double") * 1000.0 / col("n_chars_total"))
            .as("space_per_kc"),
          r4(col("n_punct").cast("double") * 1000.0 / col("n_chars_total"))
            .as("punct_per_kc"))
        .orderBy("source")
    }),

    // ---- simplified silhouette over fixed probes (r10) --------------------
    // Cluster-quality audit without the pairwise blowup: the SIMPLIFIED
    // silhouette (a = distance to the assigned centroid, b = distance to
    // the nearest OTHER centroid, s = (b−a)/max(a,b)) against k = 5 FIXED
    // deterministic probe centroids (the embeddings of vec_id 0..4) — the
    // probes are data, not a fitted model, so the oracle replays the
    // assignment exactly (the q_maxsim_search stance). Scale shape: the
    // 5-probe frame collects to ONE broadcast row; per vector the 5
    // distances live in an array sorted in-row (shuffle-free projection,
    // whole-stage codegen via the vec_dot kernel); the only shuffle is
    // the ≤k-cell final aggregate, with per-vector s quantized to 1e-6
    // micro-units in BIGINT before the mean (the linkPrediction
    // discipline — no float-sum order anywhere).
    "q_silhouette" -> ((s, dir) => {
      val probes = t(s, dir, "embeddings").where(col("vec_id") < 5L)
        .select(collect_list(struct(col("vec_id").as("pid"),
          col("embedding").as("pv"))).as("ps"))
      val scored = t(s, dir, "embeddings").crossJoin(broadcast(probes))
        .select(col("vec_id"),
          sort_array(transform(col("ps"), p =>
            struct(sqrt(greatest(
              Ann.dot(col("embedding"), col("embedding")) +
                Ann.dot(p.getField("pv"), p.getField("pv")) -
                lit(2.0) * Ann.dot(col("embedding"), p.getField("pv")),
              lit(0.0))).as("d"), p.getField("pid").as("pid"))))
            .as("ds"))
        // degenerate guard (r10 ADVICE): with < 2 probe centroids the
        // oracle's rk=2 join emits no rows while ANSI element_at(ds, 2)
        // would throw INVALID_ARRAY_INDEX — abstain-by-drop so both
        // engines degrade identically (the §2.13 discipline)
        .where(size(col("ds")) >= 2)
        .select(col("vec_id"),
          element_at(col("ds"), 1).getField("pid").as("cluster"),
          element_at(col("ds"), 1).getField("d").as("a"),
          element_at(col("ds"), 2).getField("d").as("b"))
      val sVal = when(greatest(col("a"), col("b")) > 0,
        (col("b") - col("a")) / greatest(col("a"), col("b")))
        .otherwise(lit(0.0))
      scored
        .select(col("cluster"), col("a"),
          floor(sVal * lit(1000000.0)).cast("long").as("s_micro"))
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("s_micro")).as("sm"),
          sum(floor(col("a") * lit(1000000.0)).cast("long")).as("am"))
        .select(col("cluster"), col("n_vecs"),
          r6(col("sm").cast("double") / col("n_vecs") / lit(1000000.0))
            .as("mean_silhouette"),
          r6(col("am").cast("double") / col("n_vecs") / lit(1000000.0))
            .as("mean_dist_to_centroid"))
        .orderBy("cluster")
    }),

    // ---- pairwise-cosine histogram (r10) ----------------------------------
    // q_embed_anisotropy reports the MEAN pairwise cosine; this is the
    // distribution behind it — the histogram every similarity-threshold
    // decision (SemDeDup cutoff, ANN recall target) should be read
    // against. Bounded monitoring slice (vec_id < 200 — the q_dbscan
    // stance), broadcast all-pairs a < b, cosine via the vec_dot kernel,
    // 10 bins of width 0.2 over [−1, 1] with the boundary decided on the
    // r6-ROUNDED cosine so a ±1-ulp dot difference cannot flip a bin.
    "q_cosine_hist" -> ((s, dir) => {
      val samp = t(s, dir, "embeddings").where(col("vec_id") < 200L)
        .select(col("vec_id"), col("embedding"),
          sqrt(Ann.dot(col("embedding"), col("embedding"))).as("nrm"))
        .where(col("nrm") > 0)
      val a = samp.select(col("vec_id").as("a"), col("embedding").as("va"),
        col("nrm").as("na"))
      val b = samp.select(col("vec_id").as("b"), col("embedding").as("vb"),
        col("nrm").as("nb"))
      val cosR = r6(Ann.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      val pairs = a.join(broadcast(b), col("a") < col("b"))
        .select(cosR.as("c"))
      val bin = least(floor((col("c") + 1.0) / lit(0.2)).cast("long"),
        lit(9L))
      pairs.select(bin.as("bin"), col("c"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_pairs"),
          sum(floor(col("c") * lit(1000000.0)).cast("long")).as("cm"))
        .select(col("bin"),
          r2(col("bin").cast("double") * 0.2 - 1.0).as("bin_lo"),
          col("n_pairs"),
          r6(col("cm").cast("double") / col("n_pairs") / lit(1000000.0))
            .as("mean_cos_in_bin"))
        .orderBy("bin")
    }),

    // ---- embedding-space anisotropy audit (r10) ---------------------------
    // Ethayarajh (2019)'s finding made operational: contextual embedding
    // spaces are often ANISOTROPIC — random vectors have high expected
    // cosine — which silently inflates every cosine-threshold decision
    // upstream (SemDeDup cutoffs, ANN recall targets). The audit: mean
    // pairwise cosine over ALL n² pairs WITHOUT the pairwise blowup, via
    // the sum-vector identity Σ_{i≠j} uᵢ·uⱼ = ‖Σu‖² − Σ‖uᵢ‖² on
    // unit-normalized vectors. Exactness: each normalized component
    // quantizes to 1e-6 micro-units BIGINT (the q_embed_mmd discipline),
    // so the per-dimension sums, ‖S‖² and the self-term Q are EXACT
    // integers and the mean cosine is one float division. Scale shape:
    // one ×d explode scan partial-aggregates to the d-bounded dimension
    // frame; no joins, no pairs.
    "q_embed_anisotropy" -> ((s, dir) => {
      val withNorm = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          sqrt(Ann.dot(col("embedding"), col("embedding"))).as("nrm"))
        .where(col("nrm") > 0)
      val comps = withNorm
        .select(col("vec_id"), col("nrm"), posexplode(col("embedding")))
        .select(col("pos").as("d"),
          floor(col("col").cast("double") / col("nrm") * lit(1000000.0))
            .cast("long").as("e"))
      val dims = comps.groupBy("d").agg(sum(col("e")).as("sd"))
      val tot = dims.agg(count(lit(1)).as("dim"),
        sum(col("sd").cast("decimal(38,0)") * col("sd")).as("s2"))
      val q = comps.agg(
        sum(col("e").cast("decimal(38,0)") * col("e")).as("qq"))
      val nv = withNorm.agg(count(lit(1)).as("n_vecs"),
        sum(floor(col("nrm") * lit(1000000.0)).cast("long")).as("nrm_micro"))
      val meanCos = (col("s2") - col("qq")).cast("double") /
        (col("n_vecs") * (col("n_vecs") - 1L)).cast("double") /
        lit(1000000000000.0)
      nv.crossJoin(broadcast(tot)).crossJoin(broadcast(q))
        .select(col("n_vecs"), col("dim"),
          r6(col("nrm_micro").cast("double") / col("n_vecs") /
            lit(1000000.0)).as("mean_norm"),
          r6(meanCos).as("mean_pairwise_cos"),
          (r6(meanCos) > lit(0.1)).cast("long").as("anisotropic"))
    })
  )

  /** The q_image_phash oracle, GENERATED so the fixed-point DCT basis is
    * inlined as the very same integers [[graft.multimodal.Multimodal.PhashCos]]
    * multiplies — the replay is closed-form source pixels → rational
    * bilinear 8×8 (the q_multimodal_resize SQL shape with a fixed target)
    * → integer DCT → 8th-of-15 median threshold → 15-bit hash.
    */
  private def phashOracle: String = {
    val cosVals = (for (u <- 0 until 8; x <- 0 until 8)
      yield s"($u, $x, ${graft.multimodal.Multimodal.PhashCos(u)(x)})")
      .mkString(", ")
    s"""WITH cosv(u, x, c) AS (VALUES $cosVals),
       |dims AS (
       |  SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h
       |  FROM documents
       |), px AS (
       |  SELECT d.doc_id, d.w, d.h, ox.ox AS gx, oy.oy AS gy,
       |    ox.ox * (d.w - 1) AS sxn, oy.oy * (d.h - 1) AS syn
       |  FROM dims d,
       |    LATERAL unnest(generate_series(0, 7)) AS ox(ox),
       |    LATERAL unnest(generate_series(0, 7)) AS oy(oy)
       |), v AS (
       |  SELECT doc_id, gx, gy,
       |    sxn // 7 AS x0, sxn % 7 AS fx, LEAST(sxn // 7 + 1, w - 1) AS x1,
       |    syn // 7 AS y0, syn % 7 AS fy, LEAST(syn // 7 + 1, h - 1) AS y1
       |  FROM px
       |), g8 AS MATERIALIZED (
       |  SELECT doc_id, gx, gy,
       |    ((7 - fx) * (7 - fy) * ((31 * x0 + 17 * y0 + doc_id) % 256)
       |     + fx * (7 - fy) * ((31 * x1 + 17 * y0 + doc_id) % 256)
       |     + (7 - fx) * fy * ((31 * x0 + 17 * y1 + doc_id) % 256)
       |     + fx * fy * ((31 * x1 + 17 * y1 + doc_id) % 256)) // 49 AS p
       |  FROM v
       |), dctuv AS MATERIALIZED (
       |  SELECT g8.doc_id, cu.u AS u, cv.u AS v2,
       |    CAST(SUM(g8.p * cu.c * cv.c) AS BIGINT) AS d
       |  FROM g8
       |  JOIN cosv cu ON cu.x = g8.gx
       |  JOIN cosv cv ON cv.x = g8.gy
       |  WHERE cu.u < 4 AND cv.u < 4
       |  GROUP BY 1, 2, 3
       |), med AS (
       |  SELECT doc_id, d AS med FROM (
       |    SELECT doc_id, d,
       |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY d) AS rn
       |    FROM dctuv WHERE u != 0 OR v2 != 0)
       |  WHERE rn = 8
       |), d0 AS (
       |  SELECT doc_id, d AS dc FROM dctuv WHERE u = 0 AND v2 = 0
       |)
       |SELECT t.doc_id AS media_id, MAX(d0.dc) AS dc,
       |  CAST(COALESCE(SUM(CASE WHEN (t.u != 0 OR t.v2 != 0) AND t.d > m.med
       |    THEN CAST(1 AS BIGINT) << (t.u * 4 + t.v2) ELSE 0 END), 0)
       |    AS BIGINT) AS phash,
       |  CAST(SUM(CASE WHEN (t.u != 0 OR t.v2 != 0) AND t.d > m.med
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_ones
       |FROM dctuv t
       |JOIN med m ON m.doc_id = t.doc_id
       |JOIN d0 ON d0.doc_id = t.doc_id
       |GROUP BY t.doc_id ORDER BY media_id""".stripMargin
  }

  /** Each document's whitespace tokens (toks) and the planted near-duplicate
    * copy that drops its last two (pert). */
  private val PlantedTokensCte =
    """toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
      |), pert AS (
      |  SELECT doc_id, w[1 : greatest(len(w)-2, 1)] AS w2 FROM toks
      |)""".stripMargin

  /** [[PlantedTokensCte]] as distinct word 3-shingle sets: sh_a of each
    * original, sh_b of its planted copy. */
  private val ShingleSetsCte =
    s"""$PlantedTokensCte, sh_a AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    range(0, greatest(len(w)-3, 0) + 1),
       |    i -> array_to_string(w[i+1 : i+3], ' '))) AS sh
       |  FROM toks
       |), sh_b AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    range(0, greatest(len(w2)-3, 0) + 1),
       |    i -> array_to_string(w2[i+1 : i+3], ' '))) AS sh
       |  FROM pert
       |)""".stripMargin

  /** [[ShingleSetsCte]] joined per document: the exact Jaccard of each
    * planted near-duplicate pair. */
  private val ShingleJaccardCte =
    s"""$ShingleSetsCte, j AS (
       |  SELECT a.doc_id,
       |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |      len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
       |  FROM sh_a a JOIN sh_b b USING (doc_id)
       |)""".stripMargin

  /** Exact cosine of the first 10 embeddings (probes) against every other
    * embedding, dot products accumulated float-to-double in index order as
    * the Spark kernel does. */
  private val AnnScoredCte =
    """probes AS (
      |  SELECT vec_id AS probe_id, embedding::DOUBLE[] AS pvec
      |  FROM embeddings WHERE vec_id < 10
      |), corpus AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS cvec FROM embeddings
      |), scored AS (
      |  SELECT p.probe_id, c.vec_id,
      |    list_dot_product(c.cvec, p.pvec) /
      |      (sqrt(list_dot_product(c.cvec, c.cvec)) * sqrt(list_dot_product(p.pvec, p.pvec))) AS cos_exact
      |  FROM corpus c, probes p WHERE c.vec_id <> p.probe_id
      |)""".stripMargin

  /** [[AnnScoredCte]] ranked per probe: the exact top-k ground truth the ANN
    * oracles count against. */
  private val AnnRankedCte =
    s"""$AnnScoredCte, ranked AS (
       |  SELECT probe_id, vec_id,
       |    row_number() OVER (PARTITION BY probe_id ORDER BY cos_exact DESC, vec_id) AS rank
       |  FROM scored
       |)""".stripMargin

  /** The character-trigram language model over a norm CTE (doc_id, t):
    * trigrams (tg), the profile of the 80% training split (prof), its size
    * (tot) and each document's add-one log-count sum (sc). */
  private val TrigramScoresCte =
    """tg AS (
      |  SELECT doc_id, substr(t, CAST(i AS INTEGER), 3) AS g
      |  FROM norm, LATERAL unnest(generate_series(1, greatest(length(t) - 2, 1))) AS u(i)
      |), prof AS (
      |  SELECT g, COUNT(*) AS c FROM tg WHERE doc_id % 10 < 8 GROUP BY g
      |), tot AS (
      |  SELECT CAST(SUM(c) AS DOUBLE) AS nn, CAST(COUNT(*) AS DOUBLE) AS vv FROM prof
      |), sc AS (
      |  SELECT tg.doc_id, SUM(ln(COALESCE(p.c, 0) + 1.0)) AS s,
      |    CAST(COUNT(*) AS BIGINT) AS n_grams
      |  FROM tg LEFT JOIN prof p USING (g)
      |  GROUP BY tg.doc_id
      |)""".stripMargin

  /** The oracle of an audio fixture: clip lengths `frames` and samples
    * `sample` (SQL over doc_id, f.doc_id and i.i) aggregated to the
    * [[audioRows]] columns. Integer-valued samples keep Σv and Σv² exact
    * in doubles on both engines regardless of summation order; float32
    * quantization mirrored via CAST AS REAL like q_multimodal. */
  private def audioOracle(frames: String, sample: String, mime: String,
      sampleRate: Int): String =
    s"""WITH f AS (
      |  SELECT doc_id, $frames AS n FROM documents
      |), smp AS (
      |  SELECT f.doc_id, f.n,
      |    CAST($sample AS DOUBLE) AS v
      |  FROM f, LATERAL unnest(generate_series(0, f.n - 1)) AS i(i)
      |)
      |SELECT doc_id AS media_id, '$mime' AS mime,
      |  CAST($sampleRate AS BIGINT) AS sample_rate, CAST(1 AS BIGINT) AS n_channels,
      |  CAST(n AS BIGINT) AS n_frames,
      |  FLOOR(CAST(CAST(sqrt(SUM(v * v) / n) AS REAL) AS DOUBLE) * 10000.0 + 0.500001)
      |    / 10000.0 AS rms,
      |  FLOOR(CAST(CAST(SUM(abs(v)) / n AS REAL) AS DOUBLE) * 10000.0 + 0.500001)
      |    / 10000.0 AS mean_abs,
      |  CAST(GREATEST(abs(MIN(v)), abs(MAX(v))) AS BIGINT) AS peak
      |FROM smp GROUP BY doc_id, n ORDER BY media_id""".stripMargin

  /** The oracle of a video-frame fixture whose clip height is `height`
    * (SQL over doc_id): every 2nd frame (fr), its closed-form luminance
    * per pixel (px), aggregated to the [[frameRows]] columns. DIB and the
    * gray-ramp GIF are lossless and luminance values are integers, so
    * per-frame sums are exact in doubles on both engines; float32
    * quantization mirrored via CAST AS REAL like q_multimodal. Sampling
    * (every 2nd frame) is the f % 2 = 0 predicate. */
  private def framesOracle(height: String): String =
    s"""WITH p AS (
      |  SELECT doc_id, 4 + doc_id % 13 AS w, $height AS h,
      |    2 + doc_id % 5 AS nf
      |  FROM documents
      |), fr AS (
      |  SELECT p.doc_id, p.w, p.h, f.f AS frame_idx
      |  FROM p, LATERAL unnest(generate_series(0, p.nf - 1)) AS f(f)
      |  WHERE f.f % 2 = 0
      |), px AS (
      |  SELECT fr.doc_id, fr.frame_idx, fr.w, fr.h,
      |    CAST((x.x * 31 + y.y * 17 + fr.frame_idx * 23 + fr.doc_id) % 256
      |      AS DOUBLE) AS v
      |  FROM fr,
      |    LATERAL unnest(generate_series(0, fr.w - 1)) AS x(x),
      |    LATERAL unnest(generate_series(0, fr.h - 1)) AS y(y)
      |)
      |SELECT doc_id AS media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
      |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |  FLOOR(CAST(CAST(AVG(v) AS REAL) AS DOUBLE) * 10000.0 + 0.500001)
      |    / 10000.0 AS mean_lum,
      |  CAST(MIN(v) AS BIGINT) AS min_lum, CAST(MAX(v) AS BIGINT) AS max_lum
      |FROM px GROUP BY doc_id, frame_idx, w, h
      |ORDER BY media_id, frame_idx""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_text_stats" ->
      """SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS char_len,
        |  CAST(array_length(regexp_split_to_array(TRIM(text), '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(array_length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_tokens,
        |  CAST(LENGTH(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS n_punct
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_text_quality" ->
      """SELECT doc_id,
        |  CAST(array_length(regexp_split_to_array(TRIM(text), '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(regexp_split_to_array(TRIM(text), '\s+'),
        |    x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) AS BIGINT) AS n_stopwords,
        |  FLOOR((CAST(len(list_filter(regexp_split_to_array(TRIM(text), '\s+'),
        |      x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |    / array_length(regexp_split_to_array(TRIM(text), '\s+'))) * 10000.0 + 0.500001) / 10000.0 AS stop_ratio,
        |  FLOOR((CAST(LENGTH(text) AS DOUBLE)
        |    / array_length(regexp_split_to_array(TRIM(text), '\s+'))) * 10000.0 + 0.500001) / 10000.0 AS avg_token_len,
        |  CAST(CASE WHEN array_length(regexp_split_to_array(TRIM(text), '\s+')) >= 5
        |    AND LENGTH(text) >= 20 THEN 1 ELSE 0 END AS BIGINT) AS quality_ok
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_lang_stats" ->
      """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  FLOOR((AVG(LENGTH(text))) * 100.0 + 0.500001) / 100.0 AS avg_len
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q_dedup_exact" ->
      """SELECT md5(text) AS text_hash, COUNT(*) AS n_copies, MIN(doc_id) AS keeper
        |FROM documents GROUP BY 1 ORDER BY text_hash""".stripMargin,

    // is_match derives from the ROUNDED jw on both sides, so the threshold
    // compare can never flip on a sub-ulp engine difference
    "q_record_linkage" ->
      """WITH c AS (
        |  SELECT p_partkey, p_name,
        |    lead(p_partkey) OVER (PARTITION BY p_brand ORDER BY p_partkey) AS cand_key,
        |    lead(p_name) OVER (PARTITION BY p_brand ORDER BY p_partkey) AS cand_name
        |  FROM part
        |), s AS (
        |  SELECT p_partkey, cand_key,
        |    FLOOR(jaro_winkler_similarity(p_name, cand_name) * 10000.0
        |      + 0.500001) / 10000.0 AS jw
        |  FROM c WHERE cand_key IS NOT NULL
        |)
        |SELECT p_partkey, cand_key, jw,
        |  CAST(CASE WHEN jw >= 0.85 THEN 1 ELSE 0 END AS BIGINT) AS is_match
        |FROM s ORDER BY p_partkey, cand_key""".stripMargin,

    "q_edit_distance" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w, text
        |  FROM documents WHERE doc_id < 1000
        |)
        |SELECT doc_id, CAST(levenshtein(text,
        |  array_to_string(w[1 : greatest(len(w)-2, 1)], ' ')) AS BIGINT) AS edit_dist
        |FROM toks ORDER BY doc_id""".stripMargin,

    // distinct-shingle counts via the same list pipeline as q_jaccard_exact
    "q_text_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
        |), sh AS (
        |  SELECT doc_id, greatest(len(w) - 2, 1) AS n_grams,
        |    len(list_distinct(list_transform(
        |      range(0, greatest(len(w)-3, 0) + 1),
        |      i -> array_to_string(w[i+1 : i+3], ' ')))) AS n_unique
        |  FROM toks
        |)
        |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
        |  CAST(n_unique AS BIGINT) AS n_unique,
        |  FLOOR((1.0 - CAST(n_unique AS DOUBLE) / n_grams) * 10000.0 + 0.500001) / 10000.0 AS rep_ratio
        |FROM sh ORDER BY doc_id""".stripMargin,

    // hex boundaries: 0.5→80000000, 0.25→40000000; weight 1.0 is a
    // keep-all short-circuit on both sides (no md5 test at all)
    "q_weighted_sample" ->
      """SELECT source, COUNT(*) AS n, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        |FROM documents
        |WHERE CASE source
        |  WHEN 'src0' THEN TRUE
        |  WHEN 'src1' THEN md5(CAST(doc_id AS VARCHAR)) < '80000000'
        |  WHEN 'src2' THEN md5(CAST(doc_id AS VARCHAR)) < '40000000'
        |  ELSE FALSE END
        |GROUP BY source ORDER BY source""".stripMargin,

    // snapshot-diff parity: same planted change rules; +1.5 on a double is
    // the same exact IEEE op in both engines, so update detection is exact
    "q_snapshot_diff" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_totalprice AS v FROM orders
        |), nxt AS (
        |  SELECT k, CASE WHEN k % 13 = 0 THEN v + 1.5 ELSE v END AS v
        |  FROM base WHERE k % 97 != 0
        |  UNION ALL
        |  SELECT k + 10000000, v FROM base WHERE k % 101 = 0
        |)
        |SELECT COALESCE(b.k, n.k) AS k,
        |  CASE WHEN b.k IS NULL THEN 'insert'
        |       WHEN n.k IS NULL THEN 'delete'
        |       ELSE 'update' END AS change
        |FROM base b FULL OUTER JOIN nxt n ON b.k = n.k
        |WHERE b.k IS NULL OR n.k IS NULL OR b.v IS DISTINCT FROM n.v
        |ORDER BY k""".stripMargin,

    // heavy-hitter envelope: DuckDB recomputes the exact heavy-hitter
    // count; the no-false-negative flag is the sketch's published contract
    "q_freq_items" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents
        |), tot AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM toks
        |), hh AS (
        |  SELECT term, COUNT(*) AS c FROM toks GROUP BY term
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_heavy, CAST(1 AS BIGINT) AS all_found
        |FROM hh, tot WHERE c > 0.01 * n""".stripMargin,

    // token-budget mixing parity: the oracle runs the NAIVE single-window
    // prefix sum (per source, (md5, doc_id) order) — the two-level bucket
    // form must reproduce it row-for-row, offsets included. Keep rule:
    // cumulative tokens BEFORE the doc < budget; unbudgeted sources drop.
    "q_token_budget" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS tok,
        |    md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents
        |  WHERE source IN ('src0', 'src1', 'src2', 'src3')
        |), c AS (
        |  SELECT doc_id, source, tok,
        |    -- DuckDB's windowed SUM(BIGINT) yields HUGEINT, which the
        |    -- driver's pandas bridge renders as float64 ("1429.0") and the
        |    -- value hash diverges from Spark's BIGINT; cast back (r5 judge)
        |    CAST(COALESCE(SUM(tok) OVER (PARTITION BY source ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS cum_tokens_before
        |  FROM t
        |)
        |SELECT doc_id, source, cum_tokens_before FROM c
        |WHERE cum_tokens_before < CASE source
        |  WHEN 'src0' THEN 800 WHEN 'src1' THEN 100000
        |  WHEN 'src2' THEN 400 WHEN 'src3' THEN 0 END
        |ORDER BY doc_id""".stripMargin,

    // classifier envelope: the oracle re-derives the planted labels (same
    // float arithmetic, same md5 flip boundary ≈ 5%) and pins n_docs/n_pos
    // exactly; the accuracy flag is the fit's contract constant
    "q_quality_classifier" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS ntok,
        |    CAST(length(text) AS DOUBLE)
        |      / len(regexp_split_to_array(trim(text), '\s+')) AS alen
        |  FROM documents
        |), l AS (
        |  SELECT CASE WHEN ((ntok - 56.0) * 0.05 + (alen - 5.4) * 1.5 > 0.0)
        |              != (md5(CAST(doc_id AS VARCHAR)) < '0ccccccc')
        |         THEN 1 ELSE 0 END AS label
        |  FROM f
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(label) AS BIGINT) AS n_pos,
        |  CAST(1 AS BIGINT) AS acc_ge_090
        |FROM l""".stripMargin,

    // md5 hex strings compare identically in any engine; boundaries are
    // the hex prefixes for cumulative fractions 0.8 and 0.9
    "q_hash_split" ->
      """SELECT CASE WHEN md5(CAST(doc_id AS VARCHAR)) < 'cccccccc' THEN 'train'
        |            WHEN md5(CAST(doc_id AS VARCHAR)) < 'e6666666' THEN 'val'
        |            ELSE 'test' END AS split,
        |  COUNT(*) AS n, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        |FROM documents GROUP BY 1 ORDER BY split""".stripMargin,

    // integer tf/df + one shared ln keep scores bit-identical; ties break
    // on the term string on both engines
    "q_tfidf" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2
        |), df AS (
        |  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
        |), n AS (
        |  SELECT COUNT(*) AS n_docs FROM documents
        |), scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf,
        |    tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0) AS tfidf
        |  FROM tf JOIN df USING (term) CROSS JOIN n
        |), ranked AS (
        |  SELECT doc_id, term, tf, tfidf,
        |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS BIGINT) AS rank
        |  FROM scored
        |)
        |SELECT doc_id, term, tf,
        |  FLOOR(tfidf * 10000.0 + 0.500001) / 10000.0 AS tfidf, rank
        |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "q_embed_stats" ->
      """SELECT label, COUNT(*) AS n,
        |  FLOOR((AVG(CAST(embedding[1] AS DOUBLE))) * 10000.0 + 0.500001) / 10000.0 AS avg_dim0
        |FROM embeddings GROUP BY label ORDER BY label""".stripMargin,

    // brute-force cosine top-k is FP-bit-identical cross-engine: both sides
    // cast float→double and accumulate the dot product in index order, so
    // the ranks and the 4-dp rounded cosines agree exactly
    "q_ann_brute" ->
      s"""WITH $AnnScoredCte, ranked AS (
        |  SELECT probe_id, vec_id, cos_exact,
        |    row_number() OVER (PARTITION BY probe_id ORDER BY cos_exact DESC, vec_id) AS rank
        |  FROM scored
        |)
        |SELECT probe_id, vec_id,
        |  FLOOR(cos_exact * 10000.0 + 0.500001) / 10000.0 AS cos,
        |  CAST(rank AS BIGINT) AS rank
        |FROM ranked WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin,

    // identical schema-bounded QI cell frame, exact BIGINT audit scalars
    "q_kanonymity" ->
      """WITH cells AS (
        |  SELECT c_nationkey AS qi_nation, c_mktsegment AS qi_segment,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM customer GROUP BY 1, 2
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
        |  CAST(SUM(n) AS BIGINT) AS n_rows,
        |  CAST(MIN(n) AS BIGINT) AS min_k,
        |  CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS groups_below_k,
        |  CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
        |    AS rows_below_k,
        |  FLOOR(CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS DOUBLE)
        |      / SUM(n) * 1000000.0 + 0.500001) / 1000000.0
        |    AS suppression_rate,
        |  CAST(CASE WHEN MIN(n) >= 5 THEN 1 ELSE 0 END AS BIGINT)
        |    AS k_anonymous
        |FROM cells""".stripMargin,

    // identical exact token census, the same exp(α·ln p) sequence, and
    // the bounded-frame normalization
    "q_alpha_sampling" ->
      """WITH src AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(len(regexp_split_to_array(trim(lower(text)), '\s+')))
        |      AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1
        |), p AS (
        |  SELECT *, CAST(n_tokens AS DOUBLE)
        |      / CAST(SUM(n_tokens) OVER () AS DOUBLE) AS p_raw,
        |    EXP(0.3 * LN(CAST(n_tokens AS DOUBLE)
        |      / CAST(SUM(n_tokens) OVER () AS DOUBLE))) AS v
        |  FROM src
        |)
        |SELECT source, n_docs, n_tokens,
        |  FLOOR(p_raw * 1000000.0 + 0.500001) / 1000000.0 AS p_raw,
        |  FLOOR(v / SUM(v) OVER () * 1000000.0 + 0.500001) / 1000000.0
        |    AS p_alpha,
        |  FLOOR((v / SUM(v) OVER ()) / p_raw * 10000.0 + 0.500001) / 10000.0
        |    AS eff_epochs
        |FROM p ORDER BY source""".stripMargin,

    // the sketch internals replayed: same md5 hash split, same
    // binary-string-length ρ, same exact integer denominator
    "q_hll_custom" ->
      """WITH hh AS (
        |  SELECT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13)
        |    AS BIGINT) AS h
        |  FROM events
        |), parts AS (
        |  SELECT h % 256 AS bucket, h // 256 AS z FROM hh
        |), rho AS (
        |  SELECT bucket,
        |    CASE WHEN z = 0 THEN 45 ELSE 45 - length(bin(z)) END AS rho
        |  FROM parts
        |), regs AS (
        |  SELECT bucket, CAST(MAX(rho) AS BIGINT) AS mr FROM rho GROUP BY 1
        |), sk AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_regs,
        |    CAST(SUM(CAST(1 AS BIGINT) << CAST(45 - mr AS INTEGER))
        |      AS BIGINT) AS s_present
        |  FROM regs
        |), truth AS (
        |  SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
        |  FROM events
        |), c AS (
        |  SELECT n_exact, n_regs, 256 - n_regs AS v0,
        |    s_present + (256 - n_regs) * (CAST(1 AS BIGINT) << 45) AS s_int
        |  FROM sk, truth
        |), e AS (
        |  SELECT *, 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0
        |    * 35184372088832.0 / CAST(s_int AS DOUBLE) AS e_raw
        |  FROM c
        |), f AS (
        |  SELECT *, CASE WHEN e_raw <= 640.0 AND v0 > 0
        |    THEN 256.0 * LN(256.0 / CAST(v0 AS DOUBLE)) ELSE e_raw END AS est
        |  FROM e
        |)
        |SELECT n_exact, n_regs, CAST(v0 AS BIGINT) AS empty_registers,
        |  FLOOR(est * 100.0 + 0.500001) / 100.0 AS hll_estimate,
        |  FLOOR(ABS(est - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE)
        |    * 1000000.0 + 0.500001) / 1000000.0 AS rel_err,
        |  CAST(CASE WHEN ABS(est - CAST(n_exact AS DOUBLE))
        |      / CAST(n_exact AS DOUBLE) <= 0.195
        |    THEN 1 ELSE 0 END AS BIGINT) AS within_3sigma
        |FROM f""".stripMargin,

    // the full sketch replayed relationally: identical literal-constant
    // hash rows, the same bounded cell frame, min-over-rows point queries
    "q_count_min" ->
      """WITH hp AS (
        |  SELECT * FROM (VALUES (0, 1103515245, 12345),
        |    (1, 2654435761, 97), (2, 1597334677, 1299709),
        |    (3, 805306457, 40503)) AS t(r, a, b)
        |), cells AS (
        |  SELECT hp.r,
        |    (((e.user_id % 2147483647) * hp.a + hp.b) % 2147483647) % 512 AS c,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events e, hp GROUP BY 1, 2
        |), probes AS (
        |  SELECT CAST(u.i AS BIGINT) AS probe_id, hp.r,
        |    (((CAST(u.i AS BIGINT) % 2147483647) * hp.a + hp.b)
        |      % 2147483647) % 512 AS c
        |  FROM (SELECT UNNEST(generate_series(1, 5)) AS i) u, hp
        |), est AS (
        |  SELECT probe_id, CAST(MIN(COALESCE(cells.n, 0)) AS BIGINT)
        |    AS cms_estimate
        |  FROM probes LEFT JOIN cells ON cells.r = probes.r
        |    AND cells.c = probes.c
        |  GROUP BY 1
        |), truth AS (
        |  SELECT user_id AS probe_id, CAST(COUNT(*) AS BIGINT) AS true_count
        |  FROM events WHERE user_id BETWEEN 1 AND 5 GROUP BY 1
        |)
        |SELECT e.probe_id, COALESCE(t.true_count, 0) AS true_count,
        |  e.cms_estimate,
        |  CAST(CASE WHEN e.cms_estimate >= COALESCE(t.true_count, 0)
        |    THEN 1 ELSE 0 END AS BIGINT) AS never_undercounts
        |FROM est e LEFT JOIN truth t ON t.probe_id = e.probe_id
        |ORDER BY e.probe_id""".stripMargin,

    // the identical content-addressed uniform and (ln u)/w → exp key
    // sequence; top-20 by (key DESC, doc_id)
    "q_weighted_reservoir" ->
      """WITH keyed AS (
        |  SELECT doc_id, n_chars AS weight,
        |    EXP(LN((CAST('0x' || substr(md5('wrs#' || CAST(doc_id AS VARCHAR)),
        |        1, 8) AS BIGINT) + 0.5) / 4294967296.0)
        |      / CAST(n_chars AS DOUBLE)) AS k0
        |  FROM documents WHERE n_chars > 0
        |), ranked AS (
        |  SELECT doc_id, weight, k0,
        |    ROW_NUMBER() OVER (ORDER BY k0 DESC, doc_id) AS rank
        |  FROM keyed
        |)
        |SELECT CAST(rank AS BIGINT) AS rank, doc_id, weight,
        |  FLOOR(k0 * 1000000.0 + 0.500001) / 1000000.0 AS key
        |FROM ranked WHERE rank <= 20 ORDER BY rank""".stripMargin,

    // the same distance identity and data-driven ε², recursive-CTE
    // min-label closure over the core subgraph, identical tie-breaks
    "q_dbscan" ->
      """WITH RECURSIVE s AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS sq
        |  FROM embeddings WHERE vec_id < 200
        |), pairs AS MATERIALIZED (
        |  SELECT a.vec_id AS a, b.vec_id AS b,
        |    a.sq + b.sq - 2.0 * list_dot_product(a.v, b.v) AS d2
        |  FROM s a JOIN s b ON a.vec_id != b.vec_id
        |), kd AS (
        |  SELECT a, d2 FROM (
        |    SELECT a, d2,
        |      ROW_NUMBER() OVER (PARTITION BY a ORDER BY d2, b) AS rk
        |    FROM pairs) WHERE rk = 5
        |), eps AS (
        |  SELECT d2 AS eps2 FROM (
        |    SELECT d2, ROW_NUMBER() OVER (ORDER BY d2) AS r,
        |      COUNT(*) OVER () AS cnt
        |    FROM kd)
        |  WHERE r = (cnt + 1) // 2
        |), near AS MATERIALIZED (
        |  SELECT a, b, d2 FROM pairs, eps WHERE d2 <= eps2
        |), core AS MATERIALIZED (
        |  SELECT a AS cid FROM near GROUP BY a HAVING COUNT(*) >= 5
        |), ce AS MATERIALIZED (
        |  SELECT n.a, n.b FROM near n
        |  JOIN core ca ON ca.cid = n.a JOIN core cb ON cb.cid = n.b
        |  WHERE n.a < n.b
        |), se AS MATERIALIZED (
        |  SELECT a, b FROM ce UNION ALL SELECT b AS a, a AS b FROM ce
        |), reach(node, lbl) AS (
        |  SELECT cid, cid FROM core
        |  UNION
        |  SELECT se.b, reach.lbl FROM reach JOIN se ON se.a = reach.node
        |), cl AS MATERIALIZED (
        |  SELECT node AS cid, CAST(MIN(lbl) AS BIGINT) AS cluster
        |  FROM reach GROUP BY node
        |), border AS (
        |  SELECT vid, cluster FROM (
        |    SELECT n.a AS vid, cl.cluster,
        |      ROW_NUMBER() OVER (PARTITION BY n.a ORDER BY n.d2, n.b) AS rk
        |    FROM near n
        |    JOIN cl ON cl.cid = n.b
        |    WHERE NOT EXISTS (SELECT 1 FROM core c WHERE c.cid = n.a))
        |  WHERE rk = 1
        |), labeled AS (
        |  SELECT cid AS vid, cluster, CAST(1 AS BIGINT) AS is_core FROM cl
        |  UNION ALL
        |  SELECT vid, cluster, CAST(0 AS BIGINT) FROM border
        |), allrows AS (
        |  SELECT vid, cluster, is_core FROM labeled
        |  UNION ALL
        |  SELECT s.vec_id, CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
        |  FROM s WHERE NOT EXISTS (
        |    SELECT 1 FROM labeled l WHERE l.vid = s.vec_id)
        |)
        |SELECT cluster,
        |  CAST(SUM(CASE WHEN is_core = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_core,
        |  CAST(SUM(CASE WHEN is_core = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_border,
        |  CAST(SUM(CASE WHEN is_core = -1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_noise,
        |  FLOOR((SELECT eps2 FROM eps) * 1000000.0 + 0.500001) / 1000000.0
        |    AS eps2
        |FROM allrows GROUP BY cluster ORDER BY cluster""".stripMargin,

    // the same three-dot distance identity over DOUBLE[] casts, (d², id)
    // kNN ranking, and the identical reach/lrd/LOF float sequences
    "q_lof" ->
      """WITH s AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS sq
        |  FROM embeddings WHERE vec_id < 200
        |), pairs AS (
        |  SELECT a.vec_id AS a, b.vec_id AS b,
        |    a.sq + b.sq - 2.0 * list_dot_product(a.v, b.v) AS d2
        |  FROM s a JOIN s b ON a.vec_id != b.vec_id
        |), knn AS (
        |  SELECT * FROM (
        |    SELECT a, b, d2,
        |      ROW_NUMBER() OVER (PARTITION BY a ORDER BY d2, b) AS rk
        |    FROM pairs) WHERE rk <= 5
        |), kd AS (SELECT a AS p, d2 AS kd2 FROM knn WHERE rk = 5),
        |reach AS (
        |  SELECT knn.a, GREATEST(sqrt(kd.kd2), sqrt(knn.d2)) AS r
        |  FROM knn JOIN kd ON kd.p = knn.b
        |), lrd AS (
        |  SELECT a, 5.0 / SUM(r) AS lrd FROM reach GROUP BY a
        |), neigh AS (
        |  SELECT knn.a, SUM(l2.lrd) AS sl
        |  FROM knn JOIN lrd l2 ON l2.a = knn.b GROUP BY knn.a
        |)
        |SELECT n.a AS vec_id,
        |  FLOOR(sqrt(kd.kd2) * 1000000.0 + 0.500001) / 1000000.0
        |    AS k_distance,
        |  FLOOR(l.lrd * 1000000.0 + 0.500001) / 1000000.0 AS lrd,
        |  FLOOR(n.sl / (5.0 * l.lrd) * 1000000.0 + 0.500001) / 1000000.0
        |    AS lof,
        |  CAST(CASE WHEN FLOOR(n.sl / (5.0 * l.lrd) * 1000000.0 + 0.500001)
        |      / 1000000.0 > 1.5
        |    THEN 1 ELSE 0 END AS BIGINT) AS is_outlier
        |FROM neigh n JOIN lrd l ON l.a = n.a JOIN kd ON kd.p = n.a
        |ORDER BY vec_id""".stripMargin,

    // identical md5 text hashes, global min-id keepers, exact counts
    "q_dup_rate_by_source" ->
      """WITH h AS (
        |  SELECT doc_id, source, md5(text) AS h FROM documents
        |), keeper AS (
        |  SELECT h, MIN(doc_id) AS keep_id FROM h GROUP BY h
        |)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(DISTINCT h.h) AS BIGINT) AS n_unique_texts,
        |  CAST(SUM(CASE WHEN h.doc_id <> k.keep_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_copies,
        |  FLOOR(CAST(COUNT(*) - SUM(CASE WHEN h.doc_id <> k.keep_id
        |      THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    * 1000000.0 + 0.500001) / 1000000.0 AS retention_rate
        |FROM h JOIN keeper k ON k.h = h.h
        |GROUP BY source ORDER BY source""".stripMargin,

    // identical tf census (zeros implicit in the N denominator), exact
    // HUGEINT Σtf², the same dispersion sequence
    "q_term_burstiness" ->
      """WITH d AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
        |), tf AS (
        |  SELECT doc_id, t.x AS w, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id,
        |      regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |    FROM documents) dd, LATERAL unnest(toks) AS t(x)
        |  WHERE len(t.x) > 0
        |  GROUP BY doc_id, t.x
        |), term AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS df,
        |    CAST(SUM(tf) AS BIGINT) AS tf_total,
        |    SUM(CAST(tf AS HUGEINT) * tf) AS tf_sq
        |  FROM tf GROUP BY w
        |), top AS (
        |  SELECT * FROM term, d ORDER BY tf_total DESC, w LIMIT 20
        |), e AS (
        |  SELECT *,
        |    CAST(tf_total AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean,
        |    (CAST(tf_sq AS DOUBLE) / CAST(n_docs AS DOUBLE)
        |      - (CAST(tf_total AS DOUBLE) / CAST(n_docs AS DOUBLE))
        |        * (CAST(tf_total AS DOUBLE) / CAST(n_docs AS DOUBLE)))
        |      / (CAST(tf_total AS DOUBLE) / CAST(n_docs AS DOUBLE)) AS disp
        |  FROM top
        |)
        |SELECT w AS term, df, tf_total,
        |  FLOOR(mean * 1000000.0 + 0.500001) / 1000000.0 AS mean_tf,
        |  FLOOR(disp * 1000000.0 + 0.500001) / 1000000.0 AS dispersion,
        |  CAST(CASE WHEN disp > 1.5 THEN 1 ELSE 0 END AS BIGINT) AS bursty
        |FROM e ORDER BY tf_total DESC, term""".stripMargin,

    // identical token arrays (the q_tfidf split), index-shifted bigrams,
    // and ONE ln over the same exact integer ratio; (support, pair) order
    "q_collocation_pmi" ->
      """WITH toks AS (
        |  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS ts
        |  FROM documents
        |), big AS (
        |  SELECT ts[CAST(u.i AS INTEGER)] AS w1,
        |    ts[CAST(u.i + 1 AS INTEGER)] AS w2
        |  FROM toks, LATERAL unnest(generate_series(1, len(ts) - 1)) AS u(i)
        |  WHERE len(ts) >= 2
        |), bc AS (
        |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM big GROUP BY 1, 2
        |), uni AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM (
        |    SELECT unnest(ts) AS w FROM toks) GROUP BY 1
        |), tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tokens FROM uni),
        |nb AS (SELECT CAST(SUM(c12) AS BIGINT) AS n_bigrams FROM bc),
        |top AS (
        |  SELECT bc.w1, bc.w2, bc.c12, u1.c AS c1, u2.c AS c2,
        |    n_tokens, n_bigrams
        |  FROM bc JOIN uni u1 ON u1.w = bc.w1 JOIN uni u2 ON u2.w = bc.w2,
        |    tot, nb
        |  ORDER BY c12 DESC, w1, w2 LIMIT 20
        |)
        |SELECT w1, w2, c12, c1, c2,
        |  FLOOR(LN(CAST(CAST(c12 AS HUGEINT) * n_tokens * n_tokens AS DOUBLE)
        |      / CAST(CAST(n_bigrams AS HUGEINT) * c1 * c2 AS DOUBLE))
        |    * 1000000.0 + 0.500001) / 1000000.0 AS pmi
        |FROM top ORDER BY c12 DESC, w1, w2""".stripMargin,

    // identical two-level explicit-class split, stopword run boundaries,
    // integer-grid word scores; string_agg(ORDER BY) mirrors the
    // sorted-struct phrase reassembly
    "q_rake_keywords" ->
      s"""WITH segs0 AS (
         |  SELECT doc_id,
         |    regexp_split_to_array(lower(text), '[^a-z0-9 \\t\\n\\f\\r]+')
         |      AS sa
         |  FROM documents
         |), segs AS (
         |  SELECT doc_id, CAST(u.i AS BIGINT) AS seg_idx,
         |    sa[CAST(u.i AS INTEGER)] AS seg
         |  FROM segs0, LATERAL unnest(generate_series(1, len(sa))) AS u(i)
         |  WHERE trim(sa[CAST(u.i AS INTEGER)]) <> ''
         |), toks0 AS (
         |  SELECT doc_id, seg_idx,
         |    regexp_split_to_array(trim(seg), '[ \\t\\n\\f\\r]+') AS ta
         |  FROM segs
         |), toks AS (
         |  SELECT doc_id, seg_idx, CAST(v.j AS BIGINT) AS tok_idx,
         |    ta[CAST(v.j AS INTEGER)] AS tok
         |  FROM toks0, LATERAL unnest(generate_series(1, len(ta))) AS v(j)
         |  WHERE length(ta[CAST(v.j AS INTEGER)]) > 0
         |), marked AS (
         |  SELECT doc_id, seg_idx, tok_idx, tok,
         |    SUM(CASE WHEN tok IN (${TextOps.stopwordsInList})
         |      THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id, seg_idx ORDER BY tok_idx
         |        ROWS UNBOUNDED PRECEDING) AS run_id
         |  FROM toks
         |), ns AS (
         |  SELECT * FROM marked
         |  WHERE tok NOT IN (${TextOps.stopwordsInList})
         |), members AS (
         |  SELECT * FROM (
         |    SELECT doc_id, seg_idx, run_id, tok_idx, tok,
         |      CAST(COUNT(*) OVER (PARTITION BY doc_id, seg_idx, run_id)
         |        AS BIGINT) AS len
         |    FROM ns)
         |  WHERE len <= 4
         |), ws AS (
         |  SELECT tok,
         |    CAST(FLOOR(CAST(CAST(SUM(len) AS BIGINT) AS DOUBLE)
         |      / CAST(CAST(COUNT(*) AS BIGINT) AS DOUBLE) * 1000000.0
         |      + 0.500001) AS BIGINT) AS ws
         |  FROM members GROUP BY tok
         |), phr AS (
         |  SELECT doc_id, seg_idx, run_id,
         |    string_agg(tok, ' ' ORDER BY tok_idx) AS phrase,
         |    CAST(COUNT(*) AS BIGINT) AS n_words
         |  FROM members GROUP BY 1, 2, 3
         |), dist AS (
         |  SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occ,
         |    MAX(n_words) AS n_words
         |  FROM phr GROUP BY 1
         |), pw AS (
         |  SELECT phrase, n_occ, n_words, t.tok
         |  FROM dist, LATERAL unnest(string_split(phrase, ' ')) AS t(tok)
         |), scored AS (
         |  SELECT pw.phrase, pw.n_occ, pw.n_words,
         |    CAST(SUM(w.ws) AS BIGINT) AS score_u
         |  FROM pw JOIN ws w ON w.tok = pw.tok
         |  GROUP BY 1, 2, 3
         |), top AS (
         |  SELECT * FROM scored
         |  ORDER BY score_u DESC, n_occ DESC, phrase LIMIT 25
         |)
         |SELECT phrase, n_words, n_occ,
         |  CAST(score_u AS DOUBLE) / 1000000.0 AS score
         |FROM top ORDER BY score DESC, n_occ DESC, phrase""".stripMargin,

    // identical micro-unit quantization and moment identity (HUGEINT
    // mirrors decimal-38); the estimator is the same 3-term sequence
    "q_embed_mmd" ->
      """WITH e AS (
        |  SELECT CAST(label AS BIGINT) AS g, t.i AS d,
        |    CAST(FLOOR(CAST(emb.embedding[t.i] AS DOUBLE) * 1000000.0)
        |      AS BIGINT) AS e
        |  FROM embeddings emb CROSS JOIN range(1, 65) t(i)
        |), gd AS (
        |  SELECT g, d, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(e) AS BIGINT) AS sd,
        |    SUM(CAST(e AS HUGEINT) * e) AS qd
        |  FROM e GROUP BY 1, 2
        |), g1 AS (
        |  SELECT g, MAX(n) AS n, SUM(qd) AS q,
        |    SUM(CAST(sd AS HUGEINT) * sd) AS s2
        |  FROM gd GROUP BY 1
        |), cr AS (
        |  SELECT a.g AS ga, b.g AS gb,
        |    SUM(CAST(a.sd AS HUGEINT) * b.sd) AS sab
        |  FROM gd a JOIN gd b ON a.d = b.d AND a.g < b.g
        |  GROUP BY 1, 2
        |)
        |SELECT cr.ga, cr.gb, ga1.n AS na, gb1.n AS nb,
        |  FLOOR((
        |    CAST(ga1.s2 - ga1.q AS DOUBLE)
        |      / CAST(ga1.n * (ga1.n - 1) AS DOUBLE)
        |    + CAST(gb1.s2 - gb1.q AS DOUBLE)
        |      / CAST(gb1.n * (gb1.n - 1) AS DOUBLE)
        |    - 2.0 * (CAST(cr.sab AS DOUBLE) / CAST(ga1.n * gb1.n AS DOUBLE))
        |  ) * 10000.0 + 0.500001) / 10000.0 AS mmd2_micro2
        |FROM cr JOIN g1 ga1 ON ga1.g = cr.ga JOIN g1 gb1 ON gb1.g = cr.gb
        |ORDER BY ga, gb""".stripMargin,

    // identical (QI × band) cell frame; entropy via the same closed form
    // with r4 absorbing the bounded accumulation before min/flags
    "q_l_diversity" ->
      """WITH cells AS (
        |  SELECT c_nationkey AS qi_nation, c_mktsegment AS qi_segment,
        |    CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS band,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM customer GROUP BY 1, 2, 3
        |), grp AS (
        |  SELECT qi_nation, qi_segment, CAST(SUM(n) AS BIGINT) AS t,
        |    CAST(COUNT(*) AS BIGINT) AS distinct_l,
        |    FLOOR((LN(CAST(SUM(n) AS DOUBLE))
        |        - SUM(CAST(n AS DOUBLE) * LN(CAST(n AS DOUBLE)))
        |          / CAST(SUM(n) AS DOUBLE)) * 10000.0 + 0.500001)
        |      / 10000.0 AS h
        |  FROM cells GROUP BY 1, 2
        |), e AS (
        |  SELECT t, distinct_l,
        |    FLOOR(EXP(h) * 10000.0 + 0.500001) / 10000.0 AS entropy_l
        |  FROM grp
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
        |  CAST(SUM(t) AS BIGINT) AS n_rows,
        |  CAST(MIN(distinct_l) AS BIGINT) AS min_distinct_l,
        |  MIN(entropy_l) AS min_entropy_l,
        |  CAST(SUM(CASE WHEN distinct_l < 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS groups_below_distinct,
        |  CAST(SUM(CASE WHEN entropy_l < 3.0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS groups_below_entropy,
        |  CAST(CASE WHEN MIN(distinct_l) >= 3 AND MIN(entropy_l) >= 3.0
        |    THEN 1 ELSE 0 END AS BIGINT) AS l_diverse
        |FROM e""".stripMargin,

    // identical dense QI×band grid, per-cell cumulative in band order,
    // micro-quantized prefix terms, the same t = 0.2 line
    "q_t_closeness" ->
      """WITH rows_ AS (
        |  SELECT c_nationkey AS qn, c_mktsegment AS qs,
        |    CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS band
        |  FROM customer
        |), cellband AS (
        |  SELECT qn, qs, band, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM rows_ GROUP BY qn, qs, band
        |), celltot AS (
        |  SELECT qn, qs, CAST(COUNT(*) AS BIGINT) AS tc
        |  FROM rows_ GROUP BY qn, qs
        |), bandtot AS (
        |  SELECT band, CAST(COUNT(*) AS BIGINT) AS nb FROM rows_ GROUP BY band
        |), gl AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS nn,
        |    CAST(COUNT(DISTINCT band) AS BIGINT) AS m,
        |    CAST(MAX(band) AS BIGINT) AS maxb
        |  FROM rows_
        |), grid AS (
        |  SELECT ct.qn, ct.qs, ct.tc, bt.band, bt.nb,
        |    COALESCE(cb.n, 0) AS n, gl.nn, gl.m, gl.maxb
        |  FROM celltot ct CROSS JOIN bandtot bt
        |  LEFT JOIN cellband cb ON cb.qn = ct.qn AND cb.qs = ct.qs
        |    AND cb.band = bt.band
        |  CROSS JOIN gl
        |), cum AS (
        |  SELECT qn, qs, tc, m, maxb, band,
        |    SUM(CAST(n AS DOUBLE) / CAST(tc AS DOUBLE)
        |      - CAST(nb AS DOUBLE) / CAST(nn AS DOUBLE))
        |      OVER (PARTITION BY qn, qs ORDER BY band
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM grid
        |), percell AS (
        |  SELECT qn, qs, tc, m,
        |    CAST(SUM(CAST(FLOOR(ABS(cum) * 1000000.0) AS BIGINT)) AS BIGINT)
        |      AS emd_micro
        |  FROM cum WHERE band < maxb GROUP BY qn, qs, tc, m
        |), e AS (
        |  SELECT qn, qs, tc,
        |    FLOOR(CAST(emd_micro AS DOUBLE) / 1000000.0
        |      / CAST(m - 1 AS DOUBLE) * 1000000.0 + 0.500001) / 1000000.0
        |      AS emd
        |  FROM percell
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
        |  CAST(SUM(tc) AS BIGINT) AS n_rows,
        |  MAX(emd) AS max_emd,
        |  CAST(SUM(CASE WHEN emd > 0.2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS groups_above_t,
        |  CAST(CASE WHEN MAX(emd) <= 0.2 THEN 1 ELSE 0 END AS BIGINT)
        |    AS t_close
        |FROM e""".stripMargin,

    // identical tokenization and 8-gram shingling (concat_ws ' ' ≡
    // array_to_string ' '), exact BIGINT doc census per gram
    "q_dup_ngram_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |  FROM documents
        |), grams AS (
        |  SELECT DISTINCT doc_id, source,
        |    array_to_string(w[i.i:i.i+7], ' ') AS g
        |  FROM toks, LATERAL unnest(generate_series(1, len(w) - 7)) AS i(i)
        |  WHERE len(w) >= 8
        |), gd AS (
        |  SELECT g, CAST(COUNT(*) AS BIGINT) AS docs FROM grams GROUP BY g
        |)
        |SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(COUNT(*) AS BIGINT) AS n_grams,
        |  CAST(SUM(CASE WHEN docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS dup_grams,
        |  FLOOR(CAST(SUM(CASE WHEN docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) * 1000000.0 + 0.500001) / 1000000.0
        |    AS dup_share
        |FROM grams JOIN gd USING (g)
        |GROUP BY source ORDER BY source""".stripMargin,

    // identical exact Σw / Σw² integer algebra, single division chains
    "q_ess_weights" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_w,
        |  FLOOR(CAST(SUM(n_chars) AS DOUBLE) * CAST(SUM(n_chars) AS DOUBLE)
        |    / CAST(SUM(CAST(n_chars AS HUGEINT) * n_chars) AS DOUBLE)
        |    * 100.0 + 0.500001) / 100.0 AS ess,
        |  FLOOR(CAST(SUM(n_chars) AS DOUBLE) * CAST(SUM(n_chars) AS DOUBLE)
        |    / CAST(SUM(CAST(n_chars AS HUGEINT) * n_chars) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) * 1000000.0 + 0.500001) / 1000000.0
        |    AS efficiency
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // identical content-addressed uniform → inverse-CDF Laplace deviate
    "q_dp_counts" ->
      """WITH g AS (
        |  SELECT c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT)
        |    AS true_count
        |  FROM customer GROUP BY 1
        |), n AS (
        |  SELECT segment, true_count,
        |    (CAST('0x' || substr(md5('dp#' || segment), 1, 8) AS BIGINT)
        |      + 0.5) / 4294967296.0 - 0.5 AS c
        |  FROM g
        |)
        |SELECT segment, true_count,
        |  FLOOR((true_count + (-sign(c) * ln(1.0 - 2.0 * abs(c)) / 1.0))
        |    * 10000.0 + 0.500001) / 10000.0 AS noisy_count,
        |  1.0 AS epsilon
        |FROM n ORDER BY segment""".stripMargin,

    // identical m×m sub-vector dot grid (index-ordered double dots over
    // contiguous slices), identical max-then-fixed-order-sum reduction
    "q_maxsim_search" ->
      """WITH probes AS (
        |  SELECT vec_id AS probe_id, embedding::DOUBLE[] AS pvec
        |  FROM embeddings WHERE vec_id < 10
        |), corpus AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS cvec FROM embeddings
        |), scored AS (
        |  SELECT p.probe_id, c.vec_id,
        |    list_reduce(list_transform(range(0, 8), i ->
        |      list_max(list_transform(range(0, 8), j ->
        |        list_dot_product(p.pvec[i * 8 + 1 : i * 8 + 8],
        |          c.cvec[j * 8 + 1 : j * 8 + 8])))),
        |      (a, b) -> a + b) AS maxsim
        |  FROM corpus c, probes p WHERE c.vec_id <> p.probe_id
        |), ranked AS (
        |  SELECT probe_id, vec_id, maxsim,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY maxsim DESC, vec_id) AS rank
        |  FROM scored
        |)
        |SELECT probe_id, vec_id,
        |  FLOOR(maxsim * 10000.0 + 0.500001) / 10000.0 AS maxsim,
        |  CAST(rank AS BIGINT) AS rank
        |FROM ranked WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin,

    // the q_ann_brute FP-bit-identical cosine ranking, then the identical
    // (count desc, label asc) vote and per-class accuracy
    "q_knn_eval" ->
      """WITH probes AS (
        |  SELECT vec_id AS probe_id, embedding::DOUBLE[] AS pvec,
        |    CAST(label AS BIGINT) AS gold_label
        |  FROM embeddings WHERE vec_id < 100
        |), corpus AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS cvec,
        |    CAST(label AS BIGINT) AS nbr_label
        |  FROM embeddings
        |), scored AS (
        |  SELECT p.probe_id, c.vec_id, c.nbr_label,
        |    list_dot_product(c.cvec, p.pvec) /
        |      (sqrt(list_dot_product(c.cvec, c.cvec))
        |        * sqrt(list_dot_product(p.pvec, p.pvec))) AS cos_exact
        |  FROM corpus c, probes p WHERE c.vec_id <> p.probe_id
        |), ranked AS (
        |  SELECT probe_id, nbr_label,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY cos_exact DESC, vec_id) AS rank
        |  FROM scored
        |), votes AS (
        |  SELECT probe_id, nbr_label, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM ranked WHERE rank <= 5 GROUP BY 1, 2
        |), pred AS (
        |  SELECT probe_id, nbr_label AS pred_label FROM (
        |    SELECT probe_id, nbr_label,
        |      row_number() OVER (PARTITION BY probe_id
        |        ORDER BY c DESC, nbr_label) AS rn
        |    FROM votes) WHERE rn = 1
        |), j AS (
        |  SELECT p.gold_label,
        |    CASE WHEN pr.pred_label = p.gold_label THEN 1 ELSE 0 END AS ok
        |  FROM probes p JOIN pred pr ON pr.probe_id = p.probe_id
        |)
        |SELECT gold_label, CAST(COUNT(*) AS BIGINT) AS n_probes,
        |  CAST(SUM(ok) AS BIGINT) AS n_correct,
        |  FLOOR(CAST(SUM(ok) AS DOUBLE) / COUNT(*) * 1000000.0 + 0.500001)
        |    / 1000000.0 AS accuracy
        |FROM j GROUP BY gold_label ORDER BY gold_label""".stripMargin,

    // both rankings replayed (the q_ann_brute and q_embed_quantize
    // pipelines verbatim), exact overlap counts, one recall division
    "q_quantization_recall" ->
      """WITH probes AS (
        |  SELECT vec_id AS probe_id, embedding::DOUBLE[] AS pvec
        |  FROM embeddings WHERE vec_id < 10
        |), corpus AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS cvec FROM embeddings
        |), exact_rk AS (
        |  SELECT probe_id, vec_id,
        |    row_number() OVER (PARTITION BY probe_id ORDER BY
        |      list_dot_product(cvec, pvec) /
        |        (sqrt(list_dot_product(cvec, cvec))
        |          * sqrt(list_dot_product(pvec, pvec))) DESC, vec_id)
        |      AS rank_exact
        |  FROM corpus c, probes p WHERE c.vec_id <> p.probe_id
        |), dims AS (
        |  SELECT t.i, MIN(CAST(e.embedding[t.i] AS DOUBLE)) AS mn,
        |    MAX(CAST(e.embedding[t.i] AS DOUBLE)) AS mx
        |  FROM embeddings e CROSS JOIN range(1, 65) t(i) GROUP BY t.i
        |), codes AS MATERIALIZED (
        |  SELECT e.vec_id, t.i,
        |    CAST(LEAST(GREATEST(FLOOR(
        |      CASE WHEN d.mx > d.mn
        |        THEN (CAST(e.embedding[t.i] AS DOUBLE) - d.mn)
        |          / (d.mx - d.mn) * 255.0
        |        ELSE 0.0 END + 0.500001), 0), 255) AS BIGINT) AS code
        |  FROM embeddings e CROSS JOIN range(1, 65) t(i)
        |  JOIN dims d ON d.i = t.i
        |), raw_rk AS (
        |  SELECT probe_id, vec_id,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY qdot DESC, vec_id) AS rank_raw
        |  FROM (
        |    SELECT p.vec_id AS probe_id, c.vec_id,
        |      CAST(SUM(p.code * c.code) AS BIGINT) AS qdot
        |    FROM codes p JOIN codes c ON p.i = c.i AND c.vec_id <> p.vec_id
        |    WHERE p.vec_id < 10 GROUP BY 1, 2)
        |), cen_rk AS (
        |  SELECT probe_id, vec_id,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY qdot DESC, vec_id) AS rank_cen
        |  FROM (
        |    SELECT p.vec_id AS probe_id, c.vec_id,
        |      CAST(SUM((p.code - 128) * (c.code - 128)) AS BIGINT) AS qdot
        |    FROM codes p JOIN codes c ON p.i = c.i AND c.vec_id <> p.vec_id
        |    WHERE p.vec_id < 10 GROUP BY 1, 2)
        |)
        |SELECT e.probe_id,
        |  CAST(SUM(CASE WHEN r.rank_raw IS NOT NULL AND r.rank_raw <= 5
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_recalled_raw,
        |  FLOOR(CAST(SUM(CASE WHEN r.rank_raw IS NOT NULL
        |      AND r.rank_raw <= 5 THEN 1 ELSE 0 END) AS DOUBLE) / 5.0
        |    * 1000000.0 + 0.500001) / 1000000.0 AS recall_raw,
        |  CAST(SUM(CASE WHEN q.rank_cen IS NOT NULL AND q.rank_cen <= 5
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_recalled_centered,
        |  FLOOR(CAST(SUM(CASE WHEN q.rank_cen IS NOT NULL
        |      AND q.rank_cen <= 5 THEN 1 ELSE 0 END) AS DOUBLE) / 5.0
        |    * 1000000.0 + 0.500001) / 1000000.0 AS recall_centered,
        |  CAST(COALESCE(MAX(CASE WHEN e.rank_exact = 1 THEN
        |    CASE WHEN q.rank_cen = 1 THEN 1 ELSE 0 END END), 0) AS BIGINT)
        |    AS top1_preserved
        |FROM exact_rk e
        |LEFT JOIN raw_rk r
        |  ON r.probe_id = e.probe_id AND r.vec_id = e.vec_id
        |LEFT JOIN cen_rk q
        |  ON q.probe_id = e.probe_id AND q.vec_id = e.vec_id
        |WHERE e.rank_exact <= 5
        |GROUP BY e.probe_id ORDER BY e.probe_id""".stripMargin,

    // identical per-dim [mn,mx] trainer, identical one-float-op code map
    // (cast to BIGINT before any product), exact integer dots and error
    // micro-units — full hash match including the ranking
    "q_embed_quantize" ->
      """WITH dims AS (
        |  SELECT t.i,
        |    MIN(CAST(e.embedding[t.i] AS DOUBLE)) AS mn,
        |    MAX(CAST(e.embedding[t.i] AS DOUBLE)) AS mx
        |  FROM embeddings e CROSS JOIN range(1, 65) t(i)
        |  GROUP BY t.i
        |), cd AS MATERIALIZED (
        |  SELECT e.vec_id, t.i,
        |    CASE WHEN d.mx > d.mn
        |      THEN (CAST(e.embedding[t.i] AS DOUBLE) - d.mn)
        |        / (d.mx - d.mn) * 255.0
        |      ELSE 0.0 END AS tval
        |  FROM embeddings e CROSS JOIN range(1, 65) t(i)
        |  JOIN dims d ON d.i = t.i
        |), codes AS MATERIALIZED (
        |  SELECT vec_id, i, tval,
        |    CAST(LEAST(GREATEST(FLOOR(tval + 0.500001), 0), 255) AS BIGINT)
        |      AS code
        |  FROM cd
        |), err AS (
        |  SELECT
        |    CAST(SUM(CAST(FLOOR(ABS(tval - code) * 1000000.0) AS BIGINT))
        |      AS BIGINT) AS err_micro_total,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n_vecs
        |  FROM codes
        |), qd AS (
        |  SELECT p.vec_id AS probe_id, c.vec_id,
        |    CAST(SUM(p.code * c.code) AS BIGINT) AS qdot
        |  FROM codes p
        |  JOIN codes c ON p.i = c.i AND c.vec_id <> p.vec_id
        |  WHERE p.vec_id < 10
        |  GROUP BY 1, 2
        |), rk AS (
        |  SELECT probe_id, vec_id, qdot,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY qdot DESC, vec_id) AS rn
        |  FROM qd
        |)
        |SELECT probe_id, vec_id, qdot, CAST(rn AS BIGINT) AS rank,
        |  err_micro_total, n_vecs
        |FROM rk, err WHERE rn <= 5
        |ORDER BY probe_id, rank""".stripMargin,

    // transitive closure by recursive CTE = ground-truth components; the
    // engine's label propagation must agree exactly
    "q_dedup_clusters" ->
      """WITH RECURSIVE e AS (
        |  SELECT doc_id AS a, doc_id + 1000000 AS b FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS a, doc_id + 2000000 AS b FROM documents
        |), sym AS (
        |  SELECT a, b FROM e UNION SELECT b, a FROM e
        |), nodes AS (
        |  SELECT DISTINCT a AS id FROM sym
        |), reach(src, dst) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a
        |)
        |SELECT src AS doc_id, MIN(dst) AS component
        |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,

    // shingling replicated in DuckDB list ops: same tokenizer split, same
    // k=3 word windows (slice clamps at the end on both engines), same
    // drop-last-2-tokens perturbation; |A∩B|/|A∪B| on integer set sizes
    // is FP-exact cross-engine
    "q_zipf" ->
      """WITH terms AS MATERIALIZED (
        |  SELECT t.x AS term, CAST(COUNT(*) AS BIGINT) AS f
        |  FROM (SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |        FROM documents) d, LATERAL unnest(toks) AS t(x)
        |  WHERE len(t.x) > 0
        |  GROUP BY t.x
        |), top AS (
        |  SELECT f FROM terms ORDER BY f DESC, term LIMIT 1000
        |), ranked AS (
        |  -- ties within equal f are interchangeable: the (f, rank) multiset
        |  -- is identical under any tie order, so no term tie-break needed
        |  SELECT f, CAST(row_number() OVER (ORDER BY f DESC) AS BIGINT) AS rank
        |  FROM top
        |), fit AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_fit,
        |    FLOOR(regr_slope(ln(f), ln(rank)) * 10000.0 + 0.500001)
        |      / 10000.0 AS zipf_slope,
        |    FLOOR(regr_intercept(ln(f), ln(rank)) * 10000.0 + 0.500001)
        |      / 10000.0 AS intercept,
        |    FLOOR(pow(corr(ln(f), ln(rank)), 2) * 1000000.0 + 0.500001)
        |      / 1000000.0 AS r2
        |  FROM ranked
        |)
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM terms) AS n_terms,
        |  fit.n_fit, fit.zipf_slope, fit.intercept, fit.r2
        |FROM fit""".stripMargin,

    // identical tokenization; all counts exact BIGINT, rates single
    // divisions
    "q_hapax_rate" ->
      s"""WITH $TermCountsCte
        |SELECT source, CAST(SUM(f) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(*) AS BIGINT) AS vocab,
        |  CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
        |  CAST(SUM(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dis,
        |  FLOOR(CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) * 1000000.0 + 0.500001) / 1000000.0
        |    AS hapax_share,
        |  FLOOR(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(f) AS DOUBLE)
        |    * 1000000.0 + 0.500001) / 1000000.0 AS type_token_ratio
        |FROM counts GROUP BY source ORDER BY source""".stripMargin,

    // identical tokenization; Σf(f−1) exact in HUGEINT, the inverse
    // division NULLs on zero on both engines (try_divide ≡ DuckDB /)
    "q_simpson_diversity" ->
      s"""WITH $TermCountsCte
        |SELECT source, CAST(SUM(f) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(*) AS BIGINT) AS vocab,
        |  CASE WHEN SUM(f) > 1 THEN
        |    FLOOR(CAST(SUM(f * (f - 1)) AS DOUBLE)
        |        / (CAST(SUM(f) AS DOUBLE) * CAST(SUM(f) - 1 AS DOUBLE))
        |      * 1000000.0 + 0.500001) / 1000000.0 END AS simpson,
        |  CASE WHEN SUM(f * (f - 1)) <> 0 THEN
        |    FLOOR((CAST(SUM(f) AS DOUBLE) * CAST(SUM(f) - 1 AS DOUBLE))
        |        / CAST(SUM(f * (f - 1)) AS DOUBLE)
        |      * 100.0 + 0.500001) / 100.0 END AS inv_simpson
        |FROM counts GROUP BY source ORDER BY source""".stripMargin,

    // identical (source, term) census, the same per-source term-ORDERED
    // cumulative ln-term sum (each argument a ratio of exact BIGINTs),
    // keep-last-row; coverage stays BIGINT until one final division
    "q_kl_divergence" ->
      s"""WITH $TermCountsCte, tm AS (
        |  SELECT term, CAST(SUM(f) AS BIGINT) AS ft FROM counts GROUP BY term
        |), tot AS (
        |  SELECT CAST(SUM(ft) AS BIGINT) AS nn FROM tm
        |), ns AS (
        |  SELECT source, CAST(SUM(f) AS BIGINT) AS ntok,
        |    CAST(COUNT(*) AS BIGINT) AS nterms
        |  FROM counts GROUP BY source
        |), j AS (
        |  SELECT c.source, c.term, c.f, tm.ft, ns.ntok, ns.nterms, tot.nn
        |  FROM counts c JOIN tm USING (term) JOIN ns USING (source)
        |  CROSS JOIN tot
        |), acc AS (
        |  SELECT source, ntok, nterms, nn,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY term) AS rn,
        |    SUM((CAST(f AS DOUBLE) / CAST(ntok AS DOUBLE))
        |      * LN((CAST(f AS DOUBLE) / CAST(ntok AS DOUBLE))
        |        / (CAST(ft AS DOUBLE) / CAST(nn AS DOUBLE))))
        |      OVER w AS kl,
        |    CAST(SUM(ft) OVER w AS BIGINT) AS cov
        |  FROM j
        |  WINDOW w AS (PARTITION BY source ORDER BY term
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)
        |SELECT source, nterms AS n_terms, ntok AS n_tokens,
        |  FLOOR(kl * 1000000.0 + 0.500001) / 1000000.0 AS kl,
        |  FLOOR(CAST(cov AS DOUBLE) / CAST(nn AS DOUBLE)
        |    * 1000000.0 + 0.500001) / 1000000.0 AS corpus_coverage
        |FROM acc WHERE rn = nterms ORDER BY source""".stripMargin,

    // identical ASCII regex censuses (nonempty whitespace tokens, [.!?]+
    // runs clamped ≥1, [aeiouy]+ vowel groups), exact BIGINT totals, and
    // the same left-associated two-score float compose
    "q_readability" ->
      """WITH perdoc AS (
        |  SELECT source,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> len(x) > 0)) AS w,
        |    GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS st,
        |    len(regexp_extract_all(lower(text), '[aeiouy]+')) AS sy
        |  FROM documents
        |), g AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(w) AS BIGINT) AS nw, CAST(SUM(st) AS BIGINT) AS ns,
        |    CAST(SUM(sy) AS BIGINT) AS nsy
        |  FROM perdoc GROUP BY source
        |)
        |SELECT source, n_docs, nw AS n_words, ns AS n_sentences,
        |  nsy AS n_syllables,
        |  CASE WHEN nw > 0 THEN
        |    FLOOR((206.835
        |      - 1.015 * (CAST(nw AS DOUBLE) / CAST(ns AS DOUBLE))
        |      - 84.6 * (CAST(nsy AS DOUBLE) / CAST(nw AS DOUBLE)))
        |      * 10000.0 + 0.500001) / 10000.0 END AS flesch_ease,
        |  CASE WHEN nw > 0 THEN
        |    FLOOR((0.39 * (CAST(nw AS DOUBLE) / CAST(ns AS DOUBLE))
        |      + 11.8 * (CAST(nsy AS DOUBLE) / CAST(nw AS DOUBLE))
        |      - 15.59)
        |      * 10000.0 + 0.500001) / 10000.0 END AS fk_grade
        |FROM g ORDER BY source""".stripMargin,

    // identical tokenization + census; Σf² exact in HUGEINT, K the same
    // left-associated float compose of the exact integers
    "q_yule_k" ->
      s"""WITH $TermCountsCte
        |SELECT source, CAST(SUM(f) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(*) AS BIGINT) AS vocab,
        |  CAST(SUM(f * f) AS BIGINT) AS sum_f2,
        |  FLOOR(10000.0
        |      * (CAST(SUM(f * f) AS DOUBLE) - CAST(SUM(f) AS DOUBLE))
        |      / (CAST(SUM(f) AS DOUBLE) * CAST(SUM(f) AS DOUBLE))
        |    * 10000.0 + 0.500001) / 10000.0 AS yule_k
        |FROM counts GROUP BY source ORDER BY source""".stripMargin,

    // the exact recount the prefix filter must reproduce. r14: the
    // all-pairs `a JOIN b ON a.doc_id < b.doc_id` recount was O(n²) —
    // 1.25e9 pairs at the 10× corpus, the one oracle that could not run
    // at sf1. This form is still EXACT and still independent of the
    // engine's candidate logic (no prefix, no positional filter — a pair
    // with Jaccard ≥ 0.5 > 0 must share a shingle, so the any-shared-
    // shingle equi-join provably loses nothing), but costs Σ df(g)²
    // (73k joined rows at sf0.01, ~linear in corpus under disjoint-copy
    // growth) instead of n²/2: |A∩B| falls out of the per-pair GROUP BY
    // row count, |A∪B| = n_a + n_b − |A∩B|. Verified row-identical to
    // the brute recount at sf0.01 before the swap.
    "q_setsim_join" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
        |), uni AS (
        |  SELECT doc_id, w FROM toks
        |  UNION ALL
        |  SELECT doc_id + 1000000, w[1 : greatest(len(w)-2, 1)] FROM toks
        |), corpus AS MATERIALIZED (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(0, greatest(len(w)-3, 0) + 1),
        |    i -> array_to_string(w[i+1 : i+3], ' '))) AS s
        |  FROM uni WHERE doc_id % 2 = 0
        |), tok AS MATERIALIZED (
        |  SELECT doc_id, len(s) AS n, unnest(s) AS g FROM corpus
        |), cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb,
        |    CAST(COUNT(*) AS BIGINT) AS inter
        |  FROM tok a JOIN tok b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4
        |)
        |SELECT doc_a, doc_b,
        |  FLOOR(CAST(inter AS DOUBLE) / (na + nb - inter) * 10000.0 + 0.500001)
        |    / 10000.0 AS jaccard
        |FROM cand WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,

    "q_jaccard_exact" ->
      s"""WITH $ShingleSetsCte
        |SELECT a.doc_id AS doc_a, a.doc_id + 1000000 AS doc_b,
        |  FLOOR((CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |    len(list_distinct(list_concat(a.sh, b.sh)))) * 10000.0 + 0.500001) / 10000.0 AS jaccard
        |FROM sh_a a JOIN sh_b b USING (doc_id)
        |ORDER BY doc_a""".stripMargin,

    // same shingle pipeline, containment formula: |A∩B| / |B| (B = the
    // perturbed copy, whose shingles are a subset of the original's)
    "q_containment_exact" ->
      s"""WITH $ShingleSetsCte
        |SELECT a.doc_id AS doc_a, a.doc_id + 1000000 AS doc_b,
        |  FLOOR((CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |    greatest(len(b.sh), 1)) * 10000.0 + 0.500001) / 10000.0 AS containment
        |FROM sh_a a JOIN sh_b b USING (doc_id)
        |ORDER BY doc_a""".stripMargin,

    // same float→double index-order accumulation as q_ann_brute; the
    // threshold filters the unrounded cosine on both engines
    "q_embed_neardup_brute" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 128
        |), scored AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_dot_product(a.v, b.v) /
        |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS c
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |)
        |SELECT id_a, id_b, FLOOR(c * 10000.0 + 0.500001) / 10000.0 AS cos
        |FROM scored WHERE c >= 0.2 ORDER BY id_a, id_b""".stripMargin,

    // envelope contracts: DuckDB recomputes the SQL-expressible scalar
    // (brute-force top-k size / planted-pair count) and returns the recall
    // flag as the constant the engine must reproduce. Brute-force cosine
    // is FP-bit-identical cross-engine (see q_ann_brute), and the planted
    // jaccard threshold 0.5 is far from any pair's value (min 0.75).
    "q_ann_lsh" ->
      s"""WITH $AnnRankedCte
        |SELECT COUNT(*) AS n_exact, CAST(1 AS BIGINT) AS recall_ge_040
        |FROM ranked WHERE rank <= 5""".stripMargin,

    "q_pca" ->
      """WITH c AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(MAX(len(embedding)) AS BIGINT) AS dim
        |  FROM embeddings
        |)
        |SELECT CAST(t.i AS BIGINT) AS component, c.n, c.dim,
        |  CAST(1 AS BIGINT) AS evr_unit_ok, CAST(1 AS BIGINT) AS monotone_ok,
        |  CAST(1 AS BIGINT) AS ortho_ok, CAST(1 AS BIGINT) AS projvar_ok,
        |  CAST(1 AS BIGINT) AS evr1_floor_ok, CAST(1 AS BIGINT) AS cum_floor_ok
        |FROM c, generate_series(1, 8) AS t(i)
        |ORDER BY component""".stripMargin,

    "q_ann_pq" ->
      s"""WITH $AnnRankedCte
        |SELECT COUNT(*) AS n_exact, CAST(1 AS BIGINT) AS recall_ge_035,
        |  CAST(16 AS BIGINT) AS bytes_per_vec
        |FROM ranked WHERE rank <= 10""".stripMargin,

    "q_bpe_tokenize" ->
      """WITH w AS (
        |  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents
        |), wf AS (
        |  SELECT t.x AS word, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM w, LATERAL unnest(toks) AS t(x) WHERE len(t.x) > 0
        |  GROUP BY t.x
        |), pairs AS (
        |  SELECT substr(word, CAST(i AS INTEGER), 1) AS a,
        |    substr(word, CAST(i AS INTEGER) + 1, 1) AS b, SUM(c) AS pc
        |  FROM wf, LATERAL unnest(generate_series(1, length(word) - 1)) AS u(i)
        |  WHERE length(word) >= 2
        |  GROUP BY 1, 2
        |), fm AS (
        |  SELECT a || ' ' || b AS first_merge FROM pairs
        |  ORDER BY pc DESC, a, b LIMIT 1
        |)
        |SELECT doc_id,
        |  CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |    x -> len(x) > 0)) AS BIGINT) AS n_words,
        |  CAST(length(regexp_replace(lower(text), '\s', '', 'g')) AS BIGINT)
        |    AS n_chars,
        |  (SELECT first_merge FROM fm) AS first_merge,
        |  CAST(1 AS BIGINT) AS bounds_ok
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_contrastive_pairs" ->
      """WITH anchors AS (
        |  SELECT vec_id AS anchor_id, embedding::DOUBLE[] AS avec
        |  FROM embeddings WHERE vec_id < 20
        |), corpus AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS cvec FROM embeddings
        |), scored AS (
        |  SELECT a.anchor_id, c.vec_id,
        |    list_dot_product(c.cvec, a.avec) /
        |      (sqrt(list_dot_product(c.cvec, c.cvec)) * sqrt(list_dot_product(a.avec, a.avec))) AS cos
        |  FROM corpus c, anchors a WHERE c.vec_id <> a.anchor_id
        |), ranked AS (
        |  SELECT anchor_id, vec_id, cos,
        |    row_number() OVER (PARTITION BY anchor_id ORDER BY cos DESC, vec_id) AS rank
        |  FROM scored
        |)
        |SELECT anchor_id, vec_id,
        |  CASE WHEN rank = 1 THEN 'pos' ELSE 'neg' END AS role,
        |  CAST(rank AS BIGINT) AS rank,
        |  FLOOR(cos * 10000.0 + 0.500001) / 10000.0 AS cos
        |FROM ranked WHERE rank IN (1, 10, 20, 30)
        |ORDER BY anchor_id, rank""".stripMargin,

    "q_ann_ivfpq" ->
      s"""WITH $AnnRankedCte
        |SELECT COUNT(*) AS n_exact, CAST(1 AS BIGINT) AS recall_ge_030,
        |  CAST(16 AS BIGINT) AS bytes_per_vec
        |FROM ranked WHERE rank <= 10""".stripMargin,

    "q_ann_ivf" ->
      s"""WITH $AnnRankedCte
        |SELECT COUNT(*) AS n_exact, CAST(1 AS BIGINT) AS recall_ge_040
        |FROM ranked WHERE rank <= 5""".stripMargin,

    // the SAME 5 Lloyd iterations unrolled relationally: seedless md5-min
    // init, argmax assignment ordered (score DESC, cid DESC) to mirror the
    // kernel's larger-cid tie-break, per-dim avg via a lateral dim index,
    // emptied cells inherit the previous centroid via LEFT JOIN + COALESCE
    "q_kmeans" -> {
      def iter(i: Int): String =
        s""", s$i AS (
           |  SELECT p.vec_id, p.v, c.cid,
           |    list_dot_product(p.v, c.cvec) - list_dot_product(c.cvec, c.cvec)/2 AS score
           |  FROM pts p CROSS JOIN cent${i - 1} c
           |), a$i AS (
           |  SELECT vec_id, v, cid FROM (
           |    SELECT vec_id, v, cid,
           |      row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid DESC) AS rn
           |    FROM s$i) WHERE rn = 1
           |), m$i AS (
           |  SELECT cid, g.i AS i, avg(v[g.i]) AS m
           |  FROM a$i, (SELECT unnest(generate_series(1, $KmeansDim)) AS i) g
           |  GROUP BY cid, g.i
           |), n$i AS (
           |  SELECT cid, list(m ORDER BY i) AS cvec FROM m$i GROUP BY cid
           |), cent$i AS (
           |  SELECT c.cid, COALESCE(n.cvec, c.cvec) AS cvec
           |  FROM cent${i - 1} c LEFT JOIN n$i n USING (cid)
           |)""".stripMargin
      s"""WITH pts AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         |), cent0 AS (
         |  SELECT cid, v AS cvec FROM (
         |    SELECT row_number() OVER (
         |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid, v
         |    FROM pts) WHERE cid < $KmeansK
         |)""".stripMargin +
        (1 to KmeansIters).map(iter).mkString +
        s""", fs AS (
           |  SELECT p.vec_id, c.cid,
           |    list_dot_product(p.v, c.cvec) - list_dot_product(c.cvec, c.cvec)/2 AS score,
           |    list_dot_product(p.v, p.v) - 2*list_dot_product(p.v, c.cvec)
           |      + list_dot_product(c.cvec, c.cvec) AS d2
           |  FROM pts p CROSS JOIN cent$KmeansIters c
           |), fa AS (
           |  SELECT vec_id, cid, d2 FROM (
           |    SELECT vec_id, cid, d2,
           |      row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid DESC) AS rn
           |    FROM fs) WHERE rn = 1
           |)
           |SELECT CAST(cid AS BIGINT) AS cell, COUNT(*) AS n_pts,
           |  FLOOR(avg(d2) * 10000.0 + 0.500001) / 10000.0 AS avg_sqdist
           |FROM fa GROUP BY cid ORDER BY cell""".stripMargin
    },

    // same shingle pipeline as q_jaccard_exact, reduced to the planted-pair
    // count above the target cutoff + the constant recall contract
    "q_dedup_minhash" ->
      s"""WITH $ShingleJaccardCte
        |SELECT COUNT(*) AS n_planted, CAST(1 AS BIGINT) AS recall_ge_095
        |FROM j WHERE jaccard >= 0.5""".stripMargin,

    // PII scrub parity: identical RE2-compatible patterns, same planting
    // arithmetic, md5 over the fully-redacted text. n_pii is counted on
    // the PROGRESSIVELY-redacted text (each pattern on the output of the
    // previous replace), mirroring TextOps.piiCount — the count equals the
    // replacements the chain actually performs, not raw-pattern hits.
    "q_pii_redact" ->
      """WITH planted AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 5 = 0
        |      THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0
        |      THEN ' call +141555500' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0 THEN ' card 4242424242424242' ELSE '' END ||
        |    CASE WHEN doc_id % 13 = 0
        |      THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' ELSE '' END AS t
        |  FROM documents
        |), staged AS (
        |  SELECT doc_id, t,
        |    regexp_replace(t,  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
        |  FROM planted
        |), staged2 AS (
        |  SELECT *, regexp_replace(t1, '\+[0-9]{9,15}', '<PHONE>', 'g') AS t2 FROM staged
        |), staged3 AS (
        |  SELECT *, regexp_replace(t2, '[0-9]{16}', '<CARD>', 'g') AS t3 FROM staged2
        |)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t,  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |    + len(regexp_extract_all(t1, '\+[0-9]{9,15}'))
        |    + len(regexp_extract_all(t2, '[0-9]{16}'))
        |    + len(regexp_extract_all(t3, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS BIGINT) AS n_pii,
        |  md5(regexp_replace(t3, '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g')) AS redacted_md5
        |FROM staged3 ORDER BY doc_id""".stripMargin,

    // decontamination parity: same 8-gram windows, same planted probe,
    // benchmark grams from the ORIGINAL texts
    "q_decontaminate" ->
      """WITH probe AS (
        |  SELECT array_to_string((regexp_split_to_array(TRIM(text), '\s+'))[1:8], ' ') AS p
        |  FROM documents WHERE doc_id = 0
        |), corpus AS (
        |  SELECT doc_id, CASE WHEN doc_id % 13 = 5
        |    THEN text || ' ' || (SELECT p FROM probe) ELSE text END AS t
        |  FROM documents
        |), cg AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(0, greatest(len(w)-8, 0) + 1),
        |    i -> array_to_string(w[i+1 : i+8], ' '))) AS grams
        |  FROM (SELECT doc_id, regexp_split_to_array(TRIM(t), '\s+') AS w FROM corpus)
        |), bg AS (
        |  SELECT list_distinct(flatten(list(grams))) AS all_grams
        |  FROM (
        |    SELECT list_distinct(list_transform(
        |      range(0, greatest(len(w)-8, 0) + 1),
        |      i -> array_to_string(w[i+1 : i+8], ' '))) AS grams
        |    FROM (SELECT regexp_split_to_array(TRIM(text), '\s+') AS w
        |          FROM documents WHERE doc_id % 97 = 0)
        |  )
        |)
        |SELECT cg.doc_id,
        |  CAST(CASE WHEN len(list_intersect(cg.grams, bg.all_grams)) > 0
        |    THEN 1 ELSE 0 END AS BIGINT) AS contaminated
        |FROM cg, bg ORDER BY cg.doc_id""".stripMargin,

    // packing parity: same per-source cumulative window, same ⌊cum/512⌋
    "q_seq_pack" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(array_length(regexp_split_to_array(TRIM(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, source, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) - n_tokens AS cum_before
        |  FROM d
        |)
        |SELECT source, CAST(FLOOR(cum_before / 512.0) AS BIGINT) AS pack_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
        |FROM c GROUP BY source, pack_id ORDER BY source, pack_id""".stripMargin,

    // same planted-pair pipeline; recall + estimator-band contracts
    // identical tokenization + planted truncation; bigram MULTISET
    // histograms via unnest; denominators from token counts; identical
    // float sequence and NULL abstention for <2-token docs
    "q_rouge_overlap" ->
      s"""WITH $PlantedTokensCte, rg AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(0, CASE WHEN len(w) >= 2 THEN len(w) - 1 ELSE 0 END),
        |    i -> array_to_string(w[i+1 : i+2], ' '))) AS g
        |  FROM toks
        |), cg AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(0, CASE WHEN len(w2) >= 2 THEN len(w2) - 1 ELSE 0 END),
        |    i -> array_to_string(w2[i+1 : i+2], ' '))) AS g
        |  FROM pert
        |), rc AS (
        |  SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c FROM rg GROUP BY 1, 2
        |), cc AS (
        |  SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c FROM cg GROUP BY 1, 2
        |), ov AS (
        |  SELECT rc.doc_id, CAST(SUM(LEAST(rc.c, cc.c)) AS BIGINT) AS overlap
        |  FROM rc JOIN cc ON rc.doc_id = cc.doc_id AND rc.g = cc.g
        |  GROUP BY rc.doc_id
        |), sized AS (
        |  SELECT t.doc_id,
        |    CAST(greatest(len(t.w) - 1, 0) AS BIGINT) AS n_ref,
        |    CAST(greatest(len(p.w2) - 1, 0) AS BIGINT) AS n_cand,
        |    COALESCE(ov.overlap, 0) AS overlap
        |  FROM toks t
        |  JOIN pert p ON p.doc_id = t.doc_id
        |  LEFT JOIN ov ON ov.doc_id = t.doc_id
        |), m AS (
        |  SELECT doc_id, n_ref, n_cand, overlap,
        |    CASE WHEN n_cand > 0 THEN CAST(overlap AS DOUBLE) / n_cand END AS p,
        |    CASE WHEN n_ref > 0 THEN CAST(overlap AS DOUBLE) / n_ref END AS r
        |  FROM sized
        |)
        |SELECT doc_id, n_ref, n_cand, overlap,
        |  FLOOR(p * 1000000.0 + 0.500001) / 1000000.0 AS rouge2_precision,
        |  FLOOR(r * 1000000.0 + 0.500001) / 1000000.0 AS rouge2_recall,
        |  CASE WHEN p IS NOT NULL AND r IS NOT NULL AND p + r > 0
        |    THEN FLOOR(2.0 * p * r / (p + r) * 1000000.0 + 0.500001)
        |      / 1000000.0 END AS rouge2_f1
        |FROM m
        |ORDER BY doc_id""".stripMargin,

    "q_ngram_jaccard" ->
      s"""WITH $ShingleJaccardCte
        |SELECT COUNT(*) AS n_planted, CAST(1 AS BIGINT) AS recall_ge_095,
        |  CAST(1 AS BIGINT) AS est_band_ok
        |FROM j WHERE jaccard >= 0.5""".stripMargin,

    // same planted-pair pipeline, simhash contract (floor 0.6: measured
    // 0.744–0.784 across SFs at maxHamming=3;
    // RecallProbe, deleted, last held at cdb9a9a)
    "q_dedup_simhash" ->
      s"""WITH $ShingleJaccardCte
        |SELECT COUNT(*) AS n_planted, CAST(1 AS BIGINT) AS recall_ge_060
        |FROM j WHERE jaccard >= 0.5""".stripMargin,

    // exact pair count at the same threshold over the full corpus (the
    // same float→double cosine as q_embed_neardup_brute, unbounded slice);
    // recall and soundness flags come back as the contract constants
    "q_embed_neardup" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |), scored AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_dot_product(a.v, b.v) /
        |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS c
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id AND a.vec_id < 256
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
        |  CAST(1 AS BIGINT) AS recall_ge_050, CAST(1 AS BIGINT) AS sound_lsh
        |FROM scored WHERE c >= 0.4""".stripMargin,

    // winnowing density bounds: DuckDB recomputes the k-gram count per doc
    // (identical token/gram formula to q_text_repetition) and returns the
    // SWA-guarantee flag as a constant
    "q_fingerprint" ->
      """SELECT doc_id,
        |  CAST(greatest(array_length(regexp_split_to_array(TRIM(text), '\s+')) - 2, 1)
        |    AS BIGINT) AS n_grams,
        |  CAST(1 AS BIGINT) AS bounds_ok
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the decoder's mean luminance quantizes through float32 once (Spark:
    // Array[Float] feature; DuckDB: CAST AS REAL) so the 4-dp values agree
    // bit-for-bit; dims/pixels are closed-form in doc_id by construction
    "q_multimodal" ->
      """WITH dims AS (
        |  SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h FROM documents
        |), px AS (
        |  SELECT d.doc_id, d.w, d.h,
        |    CAST((x.x * 31 + y.y * 17 + d.doc_id) % 256 AS DOUBLE) AS v
        |  FROM dims d,
        |    LATERAL unnest(generate_series(0, d.w - 1)) AS x(x),
        |    LATERAL unnest(generate_series(0, d.h - 1)) AS y(y)
        |)
        |SELECT doc_id AS media_id, 'image/png' AS mime,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  FLOOR(CAST(CAST(AVG(v) AS REAL) AS DOUBLE) * 10000.0 + 0.500001) / 10000.0 AS mean_lum
        |FROM px GROUP BY doc_id, w, h ORDER BY media_id""".stripMargin,

    // the TIFF sibling: its own dims/pixel formula, min/max luminance
    // exact integers, mean through the same single float32 quantization
    "q_multimodal_tiff" ->
      """WITH dims AS (
        |  SELECT doc_id, 5 + doc_id % 11 AS w, 4 + doc_id % 9 AS h
        |  FROM documents
        |), px AS (
        |  SELECT d.doc_id, d.w, d.h,
        |    CAST((x.x * 29 + y.y * 19 + d.doc_id * 3) % 256 AS DOUBLE) AS v
        |  FROM dims d,
        |    LATERAL unnest(generate_series(0, d.w - 1)) AS x(x),
        |    LATERAL unnest(generate_series(0, d.h - 1)) AS y(y)
        |)
        |SELECT doc_id AS media_id, 'image/tiff' AS mime,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  FLOOR(CAST(CAST(AVG(v) AS REAL) AS DOUBLE) * 10000.0 + 0.500001)
        |    / 10000.0 AS mean_lum,
        |  CAST(MIN(v) AS BIGINT) AS min_lum,
        |  CAST(MAX(v) AS BIGINT) AS max_lum
        |FROM px GROUP BY doc_id, w, h ORDER BY media_id""".stripMargin,

    "q_multimodal_audio" ->
      audioOracle("400 + doc_id % 800", "(i.i * 37 + f.doc_id * 11) % 2001 - 1000",
        "audio/wav", 8000),

    // the AIFF sibling: its own frame-count/sample formula and rate
    "q_multimodal_aiff" ->
      audioOracle("300 + doc_id % 700", "(i.i * 53 + f.doc_id * 17) % 1777 - 888",
        "audio/aiff", 11025),

    // the float32 sibling: the f32 fixture's own sample formula
    "q_multimodal_f32" ->
      audioOracle("256 + doc_id % 512", "(i.i * 29 + f.doc_id * 13) % 1601 - 800",
        "audio/wav-f32", 16000),

    // resample parity: the kernel is pure integer arithmetic, so the
    // oracle rebuilds every output sample from the closed-form source
    // formula v(i) = (i·37 + id·11) mod 2001 − 1000 — n_out = ⌊(n−1)·3/4⌋+1,
    // out(j) = floorDiv(v(p₀)(3−frac) + v(p₀+1)·frac, 3) with t = 4j —
    // and aggregates the identical BIGINT summary
    "q_audio_resample" ->
      """WITH f AS (
        |  SELECT doc_id, 400 + doc_id % 800 AS n FROM documents
        |), dims AS (
        |  SELECT doc_id, n, ((n - 1) * 3) // 4 + 1 AS n_out FROM f
        |), smp AS (
        |  SELECT d.doc_id, d.n, d.n_out,
        |    (j.j * 4) // 3 AS p0, (j.j * 4) % 3 AS frac
        |  FROM dims d, LATERAL unnest(generate_series(0, d.n_out - 1)) AS j(j)
        |), o AS (
        |  SELECT doc_id, n, n_out,
        |    CASE WHEN frac = 0
        |      THEN (p0 * 37 + doc_id * 11) % 2001 - 1000
        |      ELSE CAST(FLOOR((
        |        ((p0 * 37 + doc_id * 11) % 2001 - 1000) * (3 - frac)
        |        + (((p0 + 1) * 37 + doc_id * 11) % 2001 - 1000) * frac
        |      ) / 3.0) AS BIGINT) END AS v
        |  FROM smp
        |)
        |SELECT doc_id AS media_id, CAST(6000 AS BIGINT) AS sample_rate_out,
        |  CAST(MAX(n) AS BIGINT) AS n_in, CAST(MAX(n_out) AS BIGINT) AS n_out,
        |  CAST(SUM(v) AS BIGINT) AS sum_out,
        |  CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs_out,
        |  CAST(MAX(ABS(v)) AS BIGINT) AS peak_out
        |FROM o GROUP BY doc_id ORDER BY media_id""".stripMargin,

    // container-parse parity: every output is integer-exact arithmetic on
    // doc_id (duration_ms = ticks·1000/timescale with timescale 600 and
    // ticks 600·seconds; byte_len = 24 ftyp + 216 moov + 8 mdat header +
    // payload) — the oracle recomputes what the byte-level box walk reports
    "q_multimodal_video" ->
      """SELECT doc_id AS media_id, 'isom' AS brand,
        |  CAST(1000 * (5 + doc_id % 120) AS BIGINT) AS duration_ms,
        |  CAST(16 * (4 + doc_id % 60) AS BIGINT) AS width,
        |  CAST(16 * (3 + doc_id % 40) AS BIGINT) AS height,
        |  CAST(100 + doc_id % 900 AS BIGINT) AS mdat_bytes,
        |  CAST(348 + doc_id % 900 AS BIGINT) AS byte_len
        |FROM documents ORDER BY media_id""".stripMargin,

    "q_multimodal_frames" -> framesOracle("3 + doc_id % 7"),

    // same closed form and sampling as q_multimodal_frames (height floor
    // shifted to 5 — the JDK GIF codec constraint on encodeGif), but the
    // ENGINE side goes through the animated-GIF reader instead of the AVI
    // demux: two independent container paths hash-matched against one
    // ground truth.
    "q_multimodal_gif" -> framesOracle("5 + doc_id % 7"),

    // resize parity: the fixed-point bilinear kernel is pure integer
    // arithmetic (corner-aligned sx = ox·(w−1)/qx as exact rationals,
    // per-channel floor division), so the oracle rebuilds every resized
    // pixel from the source formula g(x,y) = (31x+17y+id) mod 256 and
    // hash-matches dims + Σ(r+g+b) per media. Gray source ⇒ r=g=b ⇒ the
    // channel sum is 3·v. Pass-through images (maxDim ≤ 4) fall out of the
    // same formula: ow=w ⇒ fx=0 ⇒ v = g(ox,oy).
    "q_multimodal_resize" ->
      """WITH p0 AS (
        |  SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h
        |  FROM documents
        |), d AS (
        |  SELECT doc_id, w, h,
        |    CASE WHEN GREATEST(w, h) <= 4 THEN w
        |         ELSE GREATEST(1, w * 4 // GREATEST(w, h)) END AS ow,
        |    CASE WHEN GREATEST(w, h) <= 4 THEN h
        |         ELSE GREATEST(1, h * 4 // GREATEST(w, h)) END AS oh
        |  FROM p0
        |), q AS (
        |  SELECT *, CASE WHEN ow = 1 THEN 1 ELSE ow - 1 END AS qx,
        |    CASE WHEN oh = 1 THEN 1 ELSE oh - 1 END AS qy
        |  FROM d
        |), px AS (
        |  SELECT q.doc_id, q.ow, q.oh, q.qx, q.qy, q.w, q.h,
        |    CASE WHEN q.ow = 1 THEN 0 ELSE ox.ox * (q.w - 1) END AS sxn,
        |    CASE WHEN q.oh = 1 THEN 0 ELSE oy.oy * (q.h - 1) END AS syn
        |  FROM q,
        |    LATERAL unnest(generate_series(0, q.ow - 1)) AS ox(ox),
        |    LATERAL unnest(generate_series(0, q.oh - 1)) AS oy(oy)
        |), v AS (
        |  SELECT doc_id, ow, oh, qx, qy,
        |    sxn // qx AS x0, sxn % qx AS fx, LEAST(sxn // qx + 1, w - 1) AS x1,
        |    syn // qy AS y0, syn % qy AS fy, LEAST(syn // qy + 1, h - 1) AS y1
        |  FROM px
        |), blend AS (
        |  SELECT doc_id, ow, oh,
        |    ((qx - fx) * (qy - fy) * ((31 * x0 + 17 * y0 + doc_id) % 256)
        |     + fx * (qy - fy) * ((31 * x1 + 17 * y0 + doc_id) % 256)
        |     + (qx - fx) * fy * ((31 * x0 + 17 * y1 + doc_id) % 256)
        |     + fx * fy * ((31 * x1 + 17 * y1 + doc_id) % 256)) // (qx * qy) AS v
        |  FROM v
        |)
        |SELECT doc_id AS media_id, CAST(ow AS BIGINT) AS width,
        |  CAST(oh AS BIGINT) AS height, CAST(SUM(3 * v) AS BIGINT) AS rgb_sum
        |FROM blend GROUP BY doc_id, ow, oh
        |ORDER BY media_id""".stripMargin,

    // full pixel-for-pixel replay: closed-form source → the same rational
    // bilinear 8×8 → integer DCT over the INLINED fixed-point cosine
    // table (generated from Multimodal.PhashCos — both engines multiply
    // identical integers) → the same 8th-of-15 median threshold
    "q_image_phash" -> phashOracle,

    // the n-gram language-ID algorithm is deterministic end-to-end (argmax
    // gaps ≳ 3e-3 at sf0.01, far above cross-engine FP summation noise)
    // LM-perplexity parity: same normalization (lower, whitespace collapse),
    // same code-point trigram windows, add-one smoothing decomposed as
    // SUM(ln(c+1)) − L·ln(N+V); FLOOR-form r4 absorbs summation-order ulps
    "q_lm_perplexity" ->
      raw"""WITH norm AS (
        |  SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS t FROM documents
        |), $TrigramScoresCte
        |SELECT doc_id, n_grams,
        |  FLOOR(((s - n_grams * ln(nn + vv)) / n_grams) * 10000.0 + 0.500001)
        |    / 10000.0 AS avg_logprob
        |FROM sc, tot ORDER BY doc_id""".stripMargin,

    // the q_lm_perplexity score chain r4-pinned, then DuckDB's NATIVE
    // NTILE(3) — independently cross-checking the ntileOf derivation —
    // and per-bucket means over exact 1e-4-grid integer sums
    "q_ppl_buckets" ->
      raw"""WITH norm AS (
        |  SELECT doc_id, source, regexp_replace(lower(text), '\s+', ' ', 'g') AS t
        |  FROM documents
        |), $TrigramScoresCte, pinned AS (
        |  SELECT sc.doc_id, norm.source,
        |    FLOOR(((s - n_grams * ln(nn + vv)) / n_grams) * 10000.0
        |      + 0.500001) / 10000.0 AS lp
        |  FROM sc, tot JOIN norm ON sc.doc_id = norm.doc_id
        |), tiled AS (
        |  SELECT source, lp,
        |    NTILE(3) OVER (PARTITION BY source ORDER BY lp DESC, doc_id)
        |      AS tile
        |  FROM pinned
        |), agg AS (
        |  SELECT source,
        |    CASE WHEN tile = 1 THEN 'head' WHEN tile = 2 THEN 'middle'
        |      ELSE 'tail' END AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(CAST(FLOOR(lp * 10000.0 + 0.500001) AS BIGINT))
        |      AS BIGINT) AS sk,
        |    MIN(lp) AS min_lp, MAX(lp) AS max_lp
        |  FROM tiled GROUP BY 1, 2
        |)
        |SELECT source, bucket, n_docs,
        |  FLOOR(CAST(sk AS DOUBLE) / CAST(n_docs AS DOUBLE) / 10000.0
        |    * 1000000.0 + 0.500001) / 1000000.0 AS avg_logprob,
        |  min_lp, max_lp
        |FROM agg ORDER BY source, bucket""".stripMargin,

    "q_dsir_select" ->
      """WITH norm AS (
        |  SELECT doc_id, lang, text, regexp_replace(lower(text), '\s+', ' ', 'g') AS t
        |  FROM documents
        |), tg AS (
        |  SELECT doc_id, lang, substr(t, CAST(i AS INTEGER), 3) AS g
        |  FROM norm, LATERAL unnest(generate_series(1, greatest(length(t) - 2, 1))) AS u(i)
        |), pt AS (
        |  SELECT g, COUNT(*) AS c FROM tg WHERE lang = 'en' GROUP BY g
        |), ps AS (
        |  SELECT g, COUNT(*) AS c FROM tg GROUP BY g
        |), tt AS (
        |  SELECT ln(CAST(SUM(c) AS DOUBLE) + CAST(COUNT(*) AS DOUBLE)) AS lnnv FROM pt
        |), ts AS (
        |  SELECT ln(CAST(SUM(c) AS DOUBLE) + CAST(COUNT(*) AS DOUBLE)) AS lnnv FROM ps
        |), sc AS (
        |  SELECT tg.doc_id,
        |    SUM(ln(COALESCE(pt.c, 0) + 1.0)) AS st,
        |    SUM(ln(COALESCE(ps.c, 0) + 1.0)) AS ss,
        |    CAST(COUNT(*) AS DOUBLE) AS ng
        |  FROM tg LEFT JOIN pt USING (g) LEFT JOIN ps USING (g)
        |  GROUP BY tg.doc_id
        |), keyed AS (
        |  SELECT sc.doc_id,
        |    (st - ng * (SELECT lnnv FROM tt)) / ng
        |      - (ss - ng * (SELECT lnnv FROM ts)) / ng AS llr,
        |    (CAST('0x' || substr(md5(norm.text), 1, 8) AS BIGINT) + 0.5)
        |      / 4294967296.0 AS u
        |  FROM sc JOIN norm ON sc.doc_id = norm.doc_id
        |), sel AS (
        |  SELECT doc_id, llr FROM keyed
        |  ORDER BY llr - ln(-ln(u)) DESC, doc_id LIMIT 100
        |)
        |SELECT doc_id, FLOOR(llr * 10000.0 + 0.500001) / 10000.0 AS llr
        |FROM sel ORDER BY doc_id""".stripMargin,

    "q_lang_id" ->
      """WITH norm AS (
        |  SELECT doc_id, lang, regexp_replace(lower(text), '\s+', ' ', 'g') AS t FROM documents
        |), grams AS (
        |  SELECT doc_id, lang, substr(t, CAST(i AS INTEGER), 3) AS tg
        |  FROM norm, LATERAL unnest(generate_series(1, greatest(length(t) - 2, 1))) AS u(i)
        |), lang_totals AS (
        |  SELECT lang, COUNT(*) AS lang_total FROM grams GROUP BY lang
        |), profile AS (
        |  SELECT g.lang AS p_lang, g.tg,
        |    ln((COUNT(*) + 1.0) / (ANY_VALUE(lt.lang_total) + 1000.0)) AS logp
        |  FROM grams g JOIN lang_totals lt ON g.lang = lt.lang
        |  GROUP BY g.lang, g.tg
        |), scored AS (
        |  SELECT dg.doc_id, dg.lang AS lang_true, p.p_lang, SUM(p.logp) AS score
        |  FROM grams dg JOIN profile p ON dg.tg = p.tg
        |  GROUP BY dg.doc_id, dg.lang, p.p_lang
        |)
        |SELECT doc_id, lang_true, p_lang AS lang_pred
        |FROM scored
        |QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, p_lang DESC) = 1
        |ORDER BY doc_id""".stripMargin,

    // identical content-hash clusters, size histogram, and scalar ratios
    "q_dup_cluster_stats" ->
      """WITH clusters AS (
        |  SELECT md5(text) AS h, CAST(COUNT(*) AS BIGINT) AS sz
        |  FROM documents GROUP BY 1
        |), hist AS (
        |  SELECT sz, CAST(COUNT(*) AS BIGINT) AS n_clusters
        |  FROM clusters GROUP BY sz
        |), tot AS (
        |  SELECT CAST(SUM(sz) AS BIGINT) AS n_docs,
        |    CAST(COUNT(*) AS BIGINT) AS n_distinct
        |  FROM clusters
        |)
        |SELECT sz AS cluster_size, n_clusters,
        |  CAST(sz * n_clusters AS BIGINT) AS docs_at_size,
        |  FLOOR(CAST(n_docs AS DOUBLE) / n_distinct * 1000000.0 + 0.500001)
        |    / 1000000.0 AS dup_factor,
        |  FLOOR(CAST(n_docs - n_distinct AS DOUBLE) / n_docs
        |    * 1000000.0 + 0.500001) / 1000000.0 AS excess_share
        |FROM hist, tot ORDER BY cluster_size""".stripMargin,

    // the q_text_stats tokenizers verbatim; exact BIGINT sums, r4 ratios
    "q_token_fertility" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) AS n_chars_total,
        |  CAST(SUM(array_length(regexp_split_to_array(TRIM(text), '\s+')))
        |    AS BIGINT) AS n_words,
        |  CAST(SUM(array_length(regexp_extract_all(text,
        |    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS n_subwords,
        |  FLOOR(CAST(SUM(array_length(regexp_extract_all(text,
        |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS DOUBLE)
        |    / SUM(array_length(regexp_split_to_array(TRIM(text), '\s+')))
        |    * 10000.0 + 0.500001) / 10000.0 AS fertility,
        |  FLOOR(CAST(SUM(LENGTH(text)) AS DOUBLE)
        |    / SUM(array_length(regexp_extract_all(text,
        |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')))
        |    * 10000.0 + 0.500001) / 10000.0 AS chars_per_token
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // identical whitespace 8-grams (the q_decontaminate gram idiom),
    // per-source distincts, carrier counts
    "q_ngram_novelty" ->
      """WITH toks AS (
        |  SELECT source, regexp_split_to_array(TRIM(text), '\s+') AS w
        |  FROM documents
        |), grams AS (
        |  SELECT DISTINCT source, g.gram
        |  FROM toks, LATERAL unnest(list_transform(
        |    range(0, greatest(len(w) - 8, 0) + 1),
        |    i -> array_to_string(w[i+1 : i+8], ' '))) AS g(gram)
        |), spread AS (
        |  SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_sources
        |  FROM grams GROUP BY gram
        |)
        |SELECT g.source, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |  CAST(SUM(CASE WHEN s.n_sources = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_unique,
        |  FLOOR(CAST(SUM(CASE WHEN s.n_sources = 1 THEN 1 ELSE 0 END)
        |      AS DOUBLE) / COUNT(*) * 1000000.0 + 0.500001) / 1000000.0
        |    AS novelty_share
        |FROM grams g JOIN spread s ON g.gram = s.gram
        |GROUP BY g.source ORDER BY g.source""".stripMargin,

    // length-of-regexp-strip class counts — ASCII classes, identical in
    // Java regex and RE2
    "q_charclass_profile" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) AS n_chars_total,
        |  FLOOR(CAST(SUM(LENGTH(text)
        |      - LENGTH(regexp_replace(text, '[A-Za-z]', '', 'g'))) AS DOUBLE)
        |    * 1000.0 / SUM(LENGTH(text)) * 10000.0 + 0.500001) / 10000.0
        |    AS letters_per_kc,
        |  FLOOR(CAST(SUM(LENGTH(text)
        |      - LENGTH(regexp_replace(text, '[0-9]', '', 'g'))) AS DOUBLE)
        |    * 1000.0 / SUM(LENGTH(text)) * 10000.0 + 0.500001) / 10000.0
        |    AS digits_per_kc,
        |  FLOOR(CAST(SUM(LENGTH(text)
        |      - LENGTH(regexp_replace(text, '[ \t\n\f\r\x0B]', '', 'g'))) AS DOUBLE)
        |    * 1000.0 / SUM(LENGTH(text)) * 10000.0 + 0.500001) / 10000.0
        |    AS space_per_kc,
        |  FLOOR(CAST(SUM(LENGTH(text)
        |      - LENGTH(regexp_replace(text, '[.,;:!?]', '', 'g'))) AS DOUBLE)
        |    * 1000.0 / SUM(LENGTH(text)) * 10000.0 + 0.500001) / 10000.0
        |    AS punct_per_kc
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // the same fixed probes, the q_dbscan distance identity, (d, pid)
    // ordering, and 1e-6 micro-unit means
    "q_silhouette" ->
      """WITH p AS (
        |  SELECT vec_id AS pid, embedding::DOUBLE[] AS pv
        |  FROM embeddings WHERE vec_id < 5
        |), v AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings
        |), d AS (
        |  SELECT v.vec_id, p.pid,
        |    sqrt(GREATEST(list_dot_product(x, x) + list_dot_product(pv, pv)
        |      - 2.0 * list_dot_product(x, pv), 0.0)) AS d
        |  FROM v, p
        |), r AS (
        |  SELECT vec_id, pid, d,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, pid) AS rk
        |  FROM d
        |), ab AS (
        |  SELECT a.vec_id, a.pid AS cluster, a.d AS da, b.d AS db
        |  FROM r a JOIN r b ON a.vec_id = b.vec_id
        |  WHERE a.rk = 1 AND b.rk = 2
        |), s AS (
        |  SELECT cluster,
        |    CAST(FLOOR((CASE WHEN GREATEST(da, db) > 0
        |      THEN (db - da) / GREATEST(da, db) ELSE 0.0 END) * 1000000.0)
        |      AS BIGINT) AS s_micro,
        |    CAST(FLOOR(da * 1000000.0) AS BIGINT) AS a_micro
        |  FROM ab
        |)
        |SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |  FLOOR(CAST(SUM(s_micro) AS DOUBLE) / COUNT(*) / 1000000.0
        |    * 1000000.0 + 0.500001) / 1000000.0 AS mean_silhouette,
        |  FLOOR(CAST(SUM(a_micro) AS DOUBLE) / COUNT(*) / 1000000.0
        |    * 1000000.0 + 0.500001) / 1000000.0 AS mean_dist_to_centroid
        |FROM s GROUP BY cluster ORDER BY cluster""".stripMargin,

    // identical bounded slice, list_dot_product cosine, r6-rounded
    // binning, and micro-unit bin means
    "q_cosine_hist" ->
      """WITH s AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
        |      AS nrm
        |  FROM embeddings WHERE vec_id < 200
        |), sn AS (SELECT * FROM s WHERE nrm > 0
        |), pairs AS (
        |  SELECT FLOOR(list_dot_product(a.v, b.v) / (a.nrm * b.nrm)
        |    * 1000000.0 + 0.500001) / 1000000.0 AS c
        |  FROM sn a JOIN sn b ON a.vec_id < b.vec_id
        |), binned AS (
        |  SELECT LEAST(CAST(FLOOR((c + 1.0) / 0.2) AS BIGINT), 9) AS bin, c
        |  FROM pairs
        |)
        |SELECT bin,
        |  FLOOR((CAST(bin AS DOUBLE) * 0.2 - 1.0) * 100.0 + 0.500001)
        |    / 100.0 AS bin_lo,
        |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  FLOOR(CAST(SUM(CAST(FLOOR(c * 1000000.0) AS BIGINT)) AS DOUBLE)
        |    / COUNT(*) / 1000000.0 * 1000000.0 + 0.500001) / 1000000.0
        |    AS mean_cos_in_bin
        |FROM binned GROUP BY bin ORDER BY bin""".stripMargin,

    // identical normalization, 1e-6 component quantization, and the
    // sum-vector identity over exact HUGEINT sums
    "q_embed_anisotropy" ->
      """WITH v AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS x,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
        |      AS nrm
        |  FROM embeddings
        |), vn AS (SELECT * FROM v WHERE nrm > 0
        |), comps AS (
        |  SELECT CAST(u.i AS BIGINT) - 1 AS d,
        |    CAST(FLOOR(x[CAST(u.i AS INTEGER)] / nrm * 1000000.0) AS BIGINT)
        |      AS e
        |  FROM vn, LATERAL unnest(generate_series(1, len(x))) AS u(i)
        |), dims AS (
        |  SELECT d, CAST(SUM(e) AS BIGINT) AS sd FROM comps GROUP BY d
        |), tot AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS dim,
        |    SUM(CAST(sd AS HUGEINT) * sd) AS s2
        |  FROM dims
        |), q AS (
        |  SELECT SUM(CAST(e AS HUGEINT) * e) AS qq FROM comps
        |), nv AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |    CAST(SUM(CAST(FLOOR(nrm * 1000000.0) AS BIGINT)) AS BIGINT)
        |      AS nrm_micro
        |  FROM vn
        |)
        |SELECT n_vecs, dim,
        |  FLOOR(CAST(nrm_micro AS DOUBLE) / n_vecs / 1000000.0
        |    * 1000000.0 + 0.500001) / 1000000.0 AS mean_norm,
        |  FLOOR(CAST(s2 - qq AS DOUBLE) / CAST(n_vecs * (n_vecs - 1)
        |      AS DOUBLE) / 1000000000000.0 * 1000000.0 + 0.500001)
        |    / 1000000.0 AS mean_pairwise_cos,
        |  CAST(CASE WHEN FLOOR(CAST(s2 - qq AS DOUBLE)
        |      / CAST(n_vecs * (n_vecs - 1) AS DOUBLE) / 1000000000000.0
        |      * 1000000.0 + 0.500001) / 1000000.0 > 0.1
        |    THEN 1 ELSE 0 END AS BIGINT) AS anisotropic
        |FROM nv, tot, q""".stripMargin
  )
}
