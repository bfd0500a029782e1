package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.Sources.{table => t}
import graft.text.TextOps
import graft.functions.ColumnOps.{d, r4, r6}

/** Evaluation + data-contract operator family: the measurement layer a
  * training-data pipeline runs over its OWN outputs — retrieval-quality
  * metrics for a ranking stage (recall@k / MRR / nDCG), a Deequ-style
  * expectation suite for tabular contracts (completeness, uniqueness,
  * accepted values, referential integrity), Unicode canonicalization
  * parity (the normalize-before-hash rule dedup correctness depends on),
  * and per-source token entropy (the diversity signal next to
  * q_vocab_growth's type–token ratio).
  *
  * Every entry is fully SQL-expressible and carries a complete DuckDB
  * hash oracle. Scale shapes per query in the scaladocs below;
  * EvaluationSpec pins the algebra (metric identities on planted
  * rankings/violations) and the plan gates.
  */
object Evaluation {

  /** Binned (score, label) frame shared by the ROC / PR / calibration
    * evaluators: the stop-ratio "english-ness" score rounded to 4 decimals
    * IS the bin key, label = (lang = 'en'). Per-bin pos/neg counts reduce
    * map-side in one aggregate pass, so every downstream metric runs over
    * a frame bounded by |distinct 4-decimal scores| ≤ 10001 — never raw
    * docs. The binning also makes the metrics EXACT cross-engine: every
    * term downstream is an integer count (or an integer + .5 — all exactly
    * representable doubles), so sums are order-independent.
    */
  private[operators] def scoreBins(docs: DataFrame): DataFrame =
    docs.select(r4(TextOps.stopRatio(col("text"))).as("sb"),
        (col("lang") === "en").cast("long").as("y"))
      .groupBy("sb")
      .agg(sum(col("y")).as("pos"), sum(lit(1L) - col("y")).as("neg"))

  /** Mann–Whitney mid-rank AUC over a (sb, pos, neg) bin frame. */
  private[operators] def rocAuc(bins: DataFrame): DataFrame = {
    val cnb = coalesce(sum(col("neg")).over(
      BoundedWindow.ordered(col("sb"), col("sb"))
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0.0))
    bins.select(col("pos"), col("neg"), cnb.cast("double").as("cnb"))
      .agg(
        r6(sum(col("pos") * (col("cnb") + col("neg") / lit(2.0)))
          / (sum(col("pos")) * sum(col("neg")))).as("auc"),
        sum(col("pos")).cast("long").as("n_pos"),
        sum(col("neg")).cast("long").as("n_neg"))
  }

  /** P/R/F1 at 10 fixed score cutoffs over a (sb, pos, neg) bin frame. */
  private[operators] def prCurve(s: SparkSession, bins: DataFrame): DataFrame = {
    val thr = s.range(10).select((col("id") / lit(100.0)).as("thr"))
    val g = bins.crossJoin(broadcast(thr))
      .groupBy("thr")
      .agg(
        sum(when(col("sb") >= col("thr"), col("pos") + col("neg"))
          .otherwise(0.0)).as("flagged"),
        sum(when(col("sb") >= col("thr"), col("pos")).otherwise(0.0)).as("tp"),
        sum(col("pos")).as("p"))
    val pre = when(col("flagged") > 0, col("tp") / col("flagged")).otherwise(0.0)
    val rec = col("tp") / col("p")
    g.select(col("thr"), col("flagged").cast("long").as("n_flagged"),
        pre.as("__pre"), rec.as("__rec"))
      .select(col("thr"), col("n_flagged"),
        r6(col("__pre")).as("prec"),
        r6(col("__rec")).as("rec"),
        r6(when(col("__pre") + col("__rec") > 0,
          lit(2.0) * col("__pre") * col("__rec")
            / (col("__pre") + col("__rec"))).otherwise(0.0)).as("f1"))
      .orderBy("thr")
  }

  /** Reliability bins over a (sb, y) scored frame. */
  private[operators] def calibration(scored: DataFrame): DataFrame = {
    val ph = least(col("sb") * lit(5.0), lit(1.0))
    val bin = least(floor(ph * lit(10.0)), lit(9L))
    val perBin = scored.select(bin.as("bin"), ph.as("ph"), col("y"))
      .groupBy("bin")
      .agg(count(lit(1)).cast("double").as("n"), sum(col("ph")).as("sph"),
        sum(col("y")).cast("double").as("sy"))
    val total = sum(col("n")).over(BoundedWindow.whole(col("bin")))
    val avgPred = col("sph") / col("n")
    val posRate = col("sy") / col("n")
    perBin.select(col("bin"), col("n").cast("long").as("n_docs"),
        r6(avgPred).as("avg_pred"), r6(posRate).as("pos_rate"),
        r6((col("n") / total) * abs(avgPred - posRate)).as("ece_part"))
      .orderBy("bin")
  }

  /** The d/f/b CTE chain mirroring [[scoreBins]] in DuckDB. */
  private def binsCte: String =
    s"""WITH d AS (
       |  SELECT lang, regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM documents
       |), f AS (
       |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
       |    FLOOR((CAST(len(list_filter(toks,
       |        x -> x IN (${TextOps.stopwordsInList}))) AS DOUBLE)
       |      / len(toks)) * 10000.0 + 0.500001) / 10000.0 AS sb
       |  FROM d
       |), b AS (
       |  SELECT sb, CAST(SUM(y) AS DOUBLE) AS pos,
       |    CAST(SUM(1 - y) AS DOUBLE) AS neg
       |  FROM f GROUP BY sb
       |)""".stripMargin

  /** Cutoff for q_ranking_metrics (recall@K, nDCG@K). */
  val MetricsK = 10

  /** Retrieval metrics of a candidate ranking against a truth set, both
    * bounded (≤ k rows — the output of top-k heaps, never raw corpus).
    * `cand` carries (doc_id, rank 1..k); `truth` carries doc_id. Binary
    * relevance; nDCG's log base cancels in the DCG/IDCG ratio, so natural
    * log is used on both engines (DuckDB's `log2` and `ln(x)/ln(2)`
    * disagree in the last ulp — measured — and the ratio form sidesteps
    * the whole question). MRR is over the single query, i.e. 1/rank of
    * the first relevant candidate (0 when none).
    */
  def rankingMetrics(cand: DataFrame, truth: DataFrame, k: Int): DataFrame = {
    val idcg = (1 to k).map(i => 1.0 / math.log(i + 1.0)).sum
    // recall's denominator is the TRUTH-SET cardinality (r7 divided by k,
    // which is precision@k — the two coincide only when |truth| = k, as in
    // q_ranking_metrics); the count rides the usual broadcast 1-row attach
    cand.join(broadcast(truth.select(col("doc_id"), lit(1).as("rel"))), Seq("doc_id"), "left")
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("__n_truth"))))
      .agg(
        (sum(coalesce(col("rel"), lit(0))) / max(col("__n_truth")).cast("double"))
          .as("recall_at_k"),
        coalesce(lit(1.0) / min(when(col("rel") === 1, col("rank"))), lit(0.0))
          .as("mrr"),
        (sum(when(col("rel") === 1, lit(1.0) / log(col("rank") + lit(1.0)))
          .otherwise(0.0)) / lit(idcg)).as("ndcg_at_k"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- retrieval-quality metrics ----------------------------------------
    // How well does the LEXICAL ranking (BM25) agree with the SEMANTIC
    // truth (embedding-cosine top-k)? The eval a hybrid-search stage runs
    // before tuning its fusion weights. Scale shape: both rankings are
    // distributed TakeOrdered top-k heaps over one scan each (the
    // q_hybrid_search shape); the metric arithmetic then runs on ≤ 2k
    // rows — a broadcast join of two bounded frames into ONE output row.
    "q_ranking_metrics" -> ((s, dir) => {
      import graft.similarity.Ann
      val emb = t(s, dir, "embeddings")
      val joined = Curation.bm25Scores(t(s, dir, "documents"))
        .join(emb, col("doc_id") === col("vec_id"))
      val q = emb.where(col("vec_id") === 0).select(col("embedding").as("qv"))
      val scored = joined.where(col("doc_id") > 0).crossJoin(broadcast(q))
        .select(col("doc_id"), col("bm25"),
          (Ann.dot(col("embedding"), col("qv"))
            / (Ann.norm(col("embedding")) * Ann.norm(col("qv")))).as("cos"))
      val cand = scored.orderBy(col("bm25").desc, col("doc_id")).limit(MetricsK)
        .select(col("doc_id"),
          row_number().over(BoundedWindow.ordered(col("doc_id"),
            col("bm25").desc, col("doc_id"))).as("rank"))
      val truth = scored.orderBy(col("cos").desc, col("doc_id")).limit(MetricsK)
        .select(col("doc_id"))
      rankingMetrics(cand, truth, MetricsK)
        .select(r4(col("recall_at_k")).as("recall_at_k"),
          r4(col("mrr")).as("mrr"), r4(col("ndcg_at_k")).as("ndcg_at_k"))
    }),

    // ---- data-quality expectation suite -----------------------------------
    // The reference's validation firewall generalized to a declarative
    // check suite (Deequ shape): five expectations over the orders table,
    // each reported as (check, metric, passed). Scale shape: four checks
    // reduce in ONE full-width aggregate pass (map-side combined); the
    // referential-integrity check is the one join — orders NEVER shuffle
    // (left-anti against the customer key set, dim side broadcast at this
    // geometry; a bucketed-table join at 100 TB). The check
    // rows then explode from a single 1×1 crossed row.
    "q_dq_expectations" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer").select(col("c_custkey"))
      val agg = o.agg(
        count(lit(1)).as("n_rows"),
        sum(col("o_custkey").isNull.cast("long")).as("n_null_cust"),
        count_distinct(col("o_orderkey")).as("n_distinct_key"),
        sum((!col("o_orderstatus").isin("O", "F", "P")).cast("long"))
          .as("n_bad_status"),
        sum((col("o_totalprice") <= 0.0).cast("long")).as("n_nonpos_price"))
      // nulls are excluded here — an anti-join keeps them (null never
      // equals a key) but they are the COMPLETENESS check's finding, not
      // a referential violation; matches the oracle's NOT IN semantics
      val orphans = o.where(col("o_custkey").isNotNull)
        .join(broadcast(c), o("o_custkey") === c("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
      val n = col("n_rows").cast("double")
      def check(name: String, bad: Column): Column =
        struct(lit(name).as("check"),
          (lit(1.0) - bad.cast("double") / n).as("metric"),
          (bad === 0L).cast("long").as("passed"))
      agg.crossJoin(broadcast(orphans))
        .select(explode(array(
          check("accepted_values_orderstatus", col("n_bad_status")),
          check("completeness_custkey", col("n_null_cust")),
          check("positive_totalprice", col("n_nonpos_price")),
          check("referential_integrity_custkey", col("n_orphans")),
          check("uniqueness_orderkey", col("n_rows") - col("n_distinct_key"))))
          .as("c"))
        .select(col("c.check").as("check"), r4(col("c.metric")).as("metric"),
          col("c.passed").as("passed"))
        .orderBy("check")
    }),

    // ---- Unicode canonicalization parity ----------------------------------
    // NFC-normalize → casefold → whitespace-collapse, then content-hash:
    // the canonical form exact dedup keys on (composed é and decomposed
    // e+◌́ MUST collapse before md5, or near-identical docs survive exact
    // dedup). Scale shape: pure projection over one scan — zero shuffles;
    // the NFC kernel is a native codegen expression (graft_nfc) with an
    // allocation-free fast path for already-normalized text, so the md5
    // stays inside one whole-stage-codegen span.
    "q_text_normalize" -> ((s, dir) => {
      val norm = regexp_replace(
        trim(lower(call_function("graft_nfc", col("text")))), "\\s+", " ")
      t(s, dir, "documents")
        .select(col("doc_id"), md5(col("text")).as("raw_md5"),
          md5(norm).as("norm_md5"), length(norm).cast("long").as("norm_len"))
        .orderBy("doc_id")
    }),

    // ---- ROC AUC of a score vs a label ------------------------------------
    // How well does the cheap stop-ratio heuristic separate en from non-en?
    // The threshold-free half of classifier evaluation (the PR curve below
    // is the thresholded half). Computed on the BINNED score frame via the
    // Mann–Whitney mid-rank identity: AUC = Σ_b pos_b·(cumneg_<b + neg_b/2)
    // / (P·N) — ties (whole bins) contribute half, exactly. Scale shape:
    // one map-side-combined aggregate builds the bins; the rank arithmetic
    // is a running window + final fold over the BOUNDED bin frame. Every
    // term is a count or count+.5 → exact doubles → bit-identical cross-
    // engine, no rounding slack consumed by summation order.
    "q_roc_auc" -> ((s, dir) =>
      rocAuc(scoreBins(t(s, dir, "documents")))),

    // ---- precision/recall curve over a threshold sweep --------------------
    // The thresholded half: P/R/F1 at 10 fixed cutoffs of the same score.
    // Scale shape: bins × thresholds is a broadcast cross of a bounded
    // frame with a 10-row literal range — conditional sums per threshold,
    // never a re-scan of the corpus per cutoff. All-integer arithmetic →
    // exact cross-engine equality of every ratio.
    "q_pr_curve" -> ((s, dir) =>
      prCurve(s, scoreBins(t(s, dir, "documents")))),

    // ---- calibration / reliability bins -----------------------------------
    // Treating the (rescaled) score as a probability: per decile-of-p̂ bin,
    // mean prediction vs observed positive rate, plus each bin's weighted
    // ECE contribution. Scale shape: one map-side-combined aggregate to 10
    // bins; the total for ECE weights is a whole-frame window over those
    // 10 rows. avg(p̂) sums genuine doubles → the 1e-6 rounding absorbs
    // summation-order drift (the q_histogram convention).
    "q_calibration" -> ((s, dir) =>
      calibration(t(s, dir, "documents").select(
        r4(TextOps.stopRatio(col("text"))).as("sb"),
        (col("lang") === "en").cast("long").as("y")))),

    // ---- Brier score with Murphy decomposition (r11) ----------------------
    // q_calibration reports per-bin gaps and q_ece their weighted sum;
    // this is the PROPER-SCORE view (Murphy 1973): brier = reliability −
    // resolution + uncertainty, separating "are the probabilities right"
    // (reliability, want 0) from "does the model separate at all"
    // (resolution, want big) against the irreducible base-rate term. The
    // identity holds EXACTLY for bin-constant forecasts, so rel/res use
    // the binned forecast means; the raw per-row brier rides alongside.
    // All sums quantize per row/bin to integer micro-units before
    // aggregation (phm 1e-6, squared error 1e-12, bin terms 1e-6 — no
    // float-sum order anywhere), then one division chain at the end.
    "q_brier_decomposition" -> ((s, dir) => {
      val scored = t(s, dir, "documents").select(
        r4(TextOps.stopRatio(col("text"))).as("sb"),
        (col("lang") === "en").cast("long").as("y"))
      val ph = least(col("sb") * lit(5.0), lit(1.0))
      val bin = least(floor(ph * lit(10.0)), lit(9L))
      val rows = scored.select(bin.as("bin"),
        floor(ph * lit(1000000.0)).cast("long").as("phm"), col("y"),
        floor((ph - col("y").cast("double")) * (ph - col("y").cast("double"))
          * lit(1000000000000.0)).cast("decimal(38,0)").as("sqm"))
      val perBin = rows.groupBy("bin")
        .agg(count(lit(1)).as("n"), sum(col("phm")).as("sph"),
          sum(col("y")).as("sy"))
      val wAll = BoundedWindow.whole(col("bin"))
      val tot = perBin
        .withColumn("ntot", sum(col("n")).over(wAll))
        .withColumn("sytot", sum(col("sy")).over(wAll))
      val pbar = d(col("sph")) / 1000000.0 / d(col("n"))
      val obar = d(col("sy")) / d(col("n"))
      val og = d(col("sytot")) / d(col("ntot"))
      val binAgg = tot.select(col("bin"), col("ntot"), col("sytot"),
          floor(d(col("n")) * (pbar - obar) * (pbar - obar) * 1000000.0)
            .cast("long").as("relm"),
          floor(d(col("n")) * (obar - og) * (obar - og) * 1000000.0)
            .cast("long").as("resm"))
        .groupBy("ntot", "sytot")
        .agg(count(lit(1)).as("n_bins"), sum(col("relm")).as("rel_micro"),
          sum(col("resm")).as("res_micro"))
      val brier = rows.agg(sum(col("sqm")).as("sq"))
      val ogF = d(col("sytot")) / d(col("ntot"))
      binAgg.crossJoin(broadcast(brier))
        .select(col("ntot").as("n_docs"), col("n_bins"),
          r6(ogF).as("base_rate"),
          r6(d(col("sq")) / 1000000000000.0 / d(col("ntot"))).as("brier"),
          r6(d(col("rel_micro")) / 1000000.0 / d(col("ntot")))
            .as("reliability"),
          r6(d(col("res_micro")) / 1000000.0 / d(col("ntot")))
            .as("resolution"),
          r6(ogF * (lit(1.0) - ogF)).as("uncertainty"))
    }),

    // ---- cumulative gains / lift curve ------------------------------------
    // The campaign-targeting read beside ROC/PR: rank the population by
    // score descending, then per population decile report positives
    // captured (gain) and lift over random targeting — "call the top 20%
    // and reach X% of the converters". Scale shape: the SAME bounded
    // scoreBins frame; cumulative pop/pos ride one descending window over
    // it, the 10 decile thresholds broadcast-cross the bin frame and each
    // resolves to the smallest bin prefix covering d·N/10 via an integer
    // comparison (cumpop·10 ≥ d·N — no float decile boundary), and the
    // threshold rows join back on the strictly-increasing cumpop key.
    // Gain/lift are single divisions over exact integer products (integer
    // overflow needs N ≳ 3e9 at once — swap the product to decimal there).
    "q_gains_curve" -> ((s, dir) => {
      val bins = scoreBins(t(s, dir, "documents"))
      val wCum = BoundedWindow.ordered(col("sb"), col("sb").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = BoundedWindow.whole(col("sb"))
      val cum = bins.select(
        sum(col("pos") + col("neg")).over(wCum).as("cumpop"),
        sum(col("pos")).over(wCum).as("cumpos"),
        sum(col("pos") + col("neg")).over(wAll).as("ntot"),
        sum(col("pos")).over(wAll).as("ptot"))
      val dec = s.range(1, 11).select(col("id").as("decile"))
      val thr = cum.crossJoin(broadcast(dec))
        .where(col("cumpop") * 10 >= col("decile") * col("ntot"))
        .groupBy("decile").agg(min(col("cumpop")).as("cumpop"))
      thr.join(cum, Seq("cumpop"))
        .select(col("decile"), col("cumpop").as("n_docs"),
          col("cumpos").as("n_pos"),
          r6(col("cumpop").cast("double") / col("ntot")).as("pop_frac"),
          when(col("ptot") > 0,
            r6(col("cumpos").cast("double") / col("ptot"))).as("gain"),
          when(col("ptot") > 0,
            r6((col("cumpos") * col("ntot")).cast("double")
              / (col("cumpop") * col("ptot")))).as("lift"))
        .orderBy("decile")
    }),

    // ---- per-source token entropy -----------------------------------------
    // Shannon entropy of the unigram distribution per source — the
    // diversity signal a mixture designer reads next to size: a source of
    // repeated boilerplate scores near 0, uniform vocabulary near
    // ln(n_types). Scale shape: the identity H = ln N − (Σ n·ln n)/N
    // makes entropy a plain algebraic aggregate over the (source, term)
    // count table — explode → two-level map-side-combined aggregate,
    // NO broadcast-back join of totals (the naive p·ln p form needs one).
    "q_token_entropy" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("source"),
          explode(TextOps.tokens(lower(col("text")))).as("term"))
        .groupBy("source", "term").agg(count(lit(1)).as("n"))
        .groupBy("source")
        .agg(sum(col("n")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          r4(log(sum(col("n")))
            - sum(col("n").cast("double") * log(col("n")))
              / sum(col("n"))).as("entropy_nats"))
        .orderBy("source")
    }),

    // ---- corpus similarity: Jensen–Shannon divergence ---------------------
    // JSD between the unigram distributions of the even- and odd-numbered
    // sources — the symmetric, always-finite corpus-distance a mixture
    // designer uses to answer "how different are these two data pools"
    // before weighting them (KL is infinite on any unshared type; JSD is
    // bounded by ln 2). Scale shape: ONE explode → term-keyed aggregate
    // with conditional counts (map-side combined — the q_token_entropy
    // shuffle), the vocab-bounded term frame cached once, totals attach as
    // a broadcast 1-row aggregate, and the divergence partial-reduces over
    // the term frame. Floats: each term is the same closed form of exact
    // integer counts on both engines; the vocab-sized sum is the one
    // order-dependent accumulation, absorbed by r4 (the q_token_entropy
    // discipline). The within-ln2 flag is computed FROM the r4-rounded
    // value so the boolean can't flip across engines.
    "q_js_divergence" -> ((s, dir) => {
      val sid = substring(col("source"), 4, 10).cast("long")
      val terms = t(s, dir, "documents")
        .select((sid % 2).as("g"),
          explode(TextOps.tokens(lower(col("text")))).as("term"))
        .groupBy("term")
        .agg(sum(when(col("g") === 0L, 1L).otherwise(0L)).as("a"),
          sum(when(col("g") === 1L, 1L).otherwise(0L)).as("b"))
        .cache()
      val tot = terms.agg(sum(col("a")).as("na"), sum(col("b")).as("nb"))
      val pa = col("a").cast("double") / col("na")
      val pb = col("b").cast("double") / col("nb")
      val m = (pa + pb) / 2
      val contrib =
        when(col("a") > 0, pa * log(pa / m) / 2).otherwise(0.0) +
          when(col("b") > 0, pb * log(pb / m) / 2).otherwise(0.0)
      val g = terms.crossJoin(broadcast(tot)).agg(
        max(col("na")).as("n_tokens_a"), max(col("nb")).as("n_tokens_b"),
        count(lit(1)).as("n_types"),
        sum(when(col("a") > 0 && col("b") > 0, 1L).otherwise(0L))
          .as("n_types_shared"),
        sum(contrib).as("jsd0"))
      g.select(col("n_tokens_a"), col("n_tokens_b"), col("n_types"),
        col("n_types_shared"), r4(col("jsd0")).as("jsd_nats"),
        (r4(col("jsd0")) >= 0.0 && r4(col("jsd0")) <= 0.6932)
          .cast("long").as("within_ln2"))
    }),

    // ---- Poisson bootstrap confidence interval ----------------------------
    // The scalable bootstrap: resampling-with-replacement is a shuffle of
    // the whole dataset per replicate, but each row's multiplicity in a
    // replicate is ≈ Poisson(1), independent per (row, replicate) — so 32
    // replicates ride ONE scan as a 32-way explode with per-row weights
    // drawn from a content-addressed md5 uniform through the Poisson(1)
    // inverse CDF (literal thresholds, identical both engines; zero RNG
    // state). Two-level aggregate: ≤32 partial rows per task regardless of
    // input size. The CI is the 2nd/31st order statistic of the r4-rounded
    // replicate means (≈5th/95th percentile of 32), selected by
    // row_number — no interpolating percentile to diverge cross-engine.
    "q_bootstrap_ci" -> ((s, dir) => {
      // the 32× replicate explode multiplies WORK, not input bytes: a
      // compact orders scan arrives as one partition, which would serialize
      // 32·N md5 draws onto one core — spread the pre-explode rows first
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
        .repartition(s.sparkContext.defaultParallelism)
      val u = (conv(substring(md5(concat(col("o_orderkey").cast("string"),
          lit("#"), col("r").cast("string")).cast("binary")), 1, 8), 16, 10)
        .cast("double") + lit(0.5)) / lit(4294967296.0)
      val w = when(u < 0.36787944117144233, 0L)
        .when(u < 0.7357588823428847, 1L)
        .when(u < 0.9196986029286058, 2L)
        .when(u < 0.9810118431238463, 3L)
        .when(u < 0.9963401531726563, 4L)
        .when(u < 0.9994058151824183, 5L)
        .otherwise(6L)
      val means = o
        .select(col("o_orderkey"), col("o_totalprice"),
          explode(sequence(lit(0), lit(31))).as("r"))
        .select(col("r"), w.as("w"), col("o_totalprice"))
        .groupBy("r")
        .agg((sum(col("w") * col("o_totalprice")) / sum(col("w"))).as("m0"))
        .select(col("r"), r4(col("m0")).as("m"))
      val ranked = means.select(col("m"), row_number().over(
        BoundedWindow.ordered(col("m"), col("m"), col("r"))).as("rn"))
      val ci = ranked.agg(
        min(when(col("rn") === 2, col("m"))).as("ci_lo"),
        min(when(col("rn") === 31, col("m"))).as("ci_hi"))
      o.agg(count(lit(1)).as("n_rows"), r4(avg(col("o_totalprice"))).as("point_mean"))
        .select(col("n_rows"), lit(32L).as("n_replicates"), col("point_mean"))
        .crossJoin(broadcast(ci))
    }),

    // ---- thresholded classifier scorecard ---------------------------------
    // The full confusion-matrix metric set for the stop-ratio "is English"
    // classifier at the pinned 0.15 cutoff — the companion to q_roc_auc
    // (which sweeps thresholds) for the deployment question "at THIS
    // operating point, what do I get": accuracy, precision, recall,
    // specificity, F1, F2 (recall-weighted Fβ), balanced accuracy, and
    // Matthews correlation — the single-number summary that, unlike F1,
    // cannot be gamed by class imbalance (Chicco–Jurman 2020).
    //
    // Scale shape: rides the SAME bounded scoreBins frame as the ROC/PR
    // family — one corpus scan partial-aggregating to ≤10⁴ bins, then the
    // 2×2 table is two conditional sums over that frame. Every metric
    // input is an exact BIGINT; MCC's four factors are cast to double
    // individually BEFORE multiplying (the product exceeds 2⁶³ at corpus
    // scale but each factor does not), and every zero-denominator case
    // abstains with NULL on both engines.
    "q_confusion_metrics" -> ((s, dir) => {
      val thr = lit(0.15)
      val g = scoreBins(t(s, dir, "documents")).agg(
        sum(when(col("sb") >= thr, col("pos")).otherwise(0.0))
          .cast("long").as("tp"),
        sum(when(col("sb") >= thr, col("neg")).otherwise(0.0))
          .cast("long").as("fp"),
        sum(when(col("sb") < thr, col("pos")).otherwise(0.0))
          .cast("long").as("fn"),
        sum(when(col("sb") < thr, col("neg")).otherwise(0.0))
          .cast("long").as("tn"))
      val (tp, fp, fn, tn) = (col("tp").cast("double"),
        col("fp").cast("double"), col("fn").cast("double"),
        col("tn").cast("double"))
      val n = tp + fp + fn + tn
      def ratio(num: Column, den: Column): Column =
        when(den > 0, num / den)
      val prec = ratio(tp, tp + fp)
      val rec = ratio(tp, tp + fn)
      val spec = ratio(tn, tn + fp)
      def fBeta(b2: Double): Column =
        when(prec.isNotNull && rec.isNotNull && prec + rec > 0,
          (lit(1.0) + b2) * prec * rec / (lit(b2) * prec + rec))
      val mccDen = sqrt((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn))
      val mcc = when(mccDen > 0, (tp * tn - fp * fn) / mccDen)
      g.select(col("tp"), col("fp"), col("fn"), col("tn"),
        r6(ratio(tp + tn, n)).as("accuracy"),
        r6(prec).as("precision_"), r6(rec).as("recall_"),
        r6(spec).as("specificity"),
        r6(fBeta(1.0)).as("f1"), r6(fBeta(4.0)).as("f2"),
        r6((coalesce(rec, lit(0.0)) + coalesce(spec, lit(0.0))) / 2.0)
          .as("balanced_accuracy"),
        r6(mcc).as("mcc"))
    }),

    // ---- multinomial Naive Bayes: train + deploy as a projection ----------
    // The generative rung beside the discriminative quality classifier
    // (quality/QualityClassifier.scala): Laplace-smoothed categorical NB
    // predicting event_type from two bounded features (hour-of-day quarter,
    // props.k band), trained on the content-addressed 80% md5 split and
    // scored on the rest. Scale shape: training is ONE partial-aggregated
    // shuffle to the (class × f1 × f2) cell frame — ≤ |classes|·4·5 rows,
    // collected under a loud 512-row cap (the kmeans bounded-fit
    // discipline) — and the fitted model deploys as a when-chain of DOUBLE
    // literals over the test scan: scoring is a shuffle-free codegen
    // projection (the LogisticModel/ClvModel idiom — no join, no UDF, the
    // corpus never moves). The only post-scan state is the ≤|classes|²
    // confusion frame. Floats: every literal is an IEEE division of exact
    // integers replayed identically by the oracle's join-based recount;
    // argmax folds classes in ascending order with strict >, matching the
    // oracle's (score DESC, class ASC) row_number — ties resolve to the
    // smaller class name on both engines.
    "q_naive_bayes" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(
        col("event_type").as("y"),
        floor(hour(col("ts")).cast("double") / lit(6.0)).cast("long").as("f1"),
        coalesce(floor(get_json_object(col("props"), "$.k").cast("long")
          .cast("double") / lit(25.0)).cast("long"), lit(-1L)).as("f2"),
        (md5(col("event_id").cast("string").cast("binary")) < lit("cccccccc"))
          .as("is_train"))
      val cells = ev.where(col("is_train"))
        .groupBy("y", "f1", "f2").agg(count(lit(1)).as("n"))
        .collect()
      require(cells.nonEmpty, "naive bayes: empty training split")
      require(cells.length <= 512,
        s"naive bayes: cell frame ${cells.length} exceeds the bounded-fit cap 512")
      val byClass = cells.groupBy(_.getString(0))
      val classes = byClass.keys.toSeq.sorted
      val nTotal = cells.map(_.getLong(3)).sum
      val v1 = cells.map(_.getLong(1)).distinct.length
      val v2 = cells.map(_.getLong(2)).distinct.length
      // P(f = v | c) as a when-chain over the values SEEN with class c;
      // any other value falls through to the unseen-value Laplace floor
      def pCond(nc: Long, seen: Seq[(Long, Long)], vf: Int, f: Column): Column =
        seen.foldLeft(lit(1.0 / (nc + vf).toDouble)) { case (acc, (v, n)) =>
          when(f === v, lit((n + 1).toDouble / (nc + vf))).otherwise(acc)
        }
      val scores = classes.map { c =>
        val rows = byClass(c)
        val nc = rows.map(_.getLong(3)).sum
        val seen1 = rows.groupBy(_.getLong(1)).toSeq
          .map { case (v, rs) => (v, rs.map(_.getLong(3)).sum) }.sortBy(_._1)
        val seen2 = rows.groupBy(_.getLong(2)).toSeq
          .map { case (v, rs) => (v, rs.map(_.getLong(3)).sum) }.sortBy(_._1)
        lit(nc.toDouble / nTotal) * pCond(nc, seen1, v1, col("f1")) *
          pCond(nc, seen2, v2, col("f2"))
      }
      val (_, bc) = scores.zip(classes).tail
        .foldLeft((scores.head, lit(classes.head))) {
          case ((s0, c0), (si, ci)) =>
            (when(si > s0, si).otherwise(s0),
              when(si > s0, lit(ci)).otherwise(c0))
        }
      val conf = ev.where(!col("is_train"))
        .select(col("y").as("actual"), bc.as("predicted"))
        .groupBy("actual", "predicted").agg(count(lit(1)).as("n"))
      val wAll = BoundedWindow.whole(col("actual"))
      conf.select(col("actual"), col("predicted"), col("n"),
          r6(sum(when(col("actual") === col("predicted"), col("n"))
            .otherwise(0L)).over(wAll).cast("double") /
            sum(col("n")).over(wAll)).as("accuracy"))
        .orderBy("actual", "predicted")
    }),

    // ---- expected calibration error (beyond reference, r9) ----------------
    // The headline scalar on top of q_calibration's per-bin diagnostic
    // (Guo et al., ICML 2017): ECE = Σ_b (n_b/N)·|acc_b − conf_b| over 10
    // equal-width confidence bins of the stop-ratio score, plus the
    // maximum calibration error (MCE) and the Brier score. Scale shape:
    // the corpus reduces through ONE partial-aggregated scan to the
    // ≤10-bin frame — per-bin counts, label sums and the integer-exact
    // micro-unit Brier accumulation (each row's (score−y)² quantized
    // once, the q_entropy_rate discipline); every output is a closed-form
    // float over exact integers; the ≤10-term ECE sum is r6-absorbed.
    "q_ece" -> ((s, dir) => {
      val score = TextOps.stopRatio(col("text"))
      val bin = least(floor(score * lit(10.0)), lit(9.0)).cast("long")
      val y = (col("lang") === "en").cast("long")
      val brierMicro = floor((score - y.cast("double")) *
        (score - y.cast("double")) * lit(1000000.0)).cast("long")
      val bins = t(s, dir, "documents")
        .select(bin.as("bin"), y.as("y"),
          floor(score * lit(1000000.0)).cast("long").as("score_micro"),
          brierMicro.as("bm"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"),
          sum(col("score_micro")).as("sconf"), sum(col("bm")).as("sbrier"))
      val w = BoundedWindow.whole(col("bin"))
      val acc = col("pos").cast("double") / col("n").cast("double")
      val conf = col("sconf").cast("double") / col("n").cast("double") /
        lit(1000000.0)
      val gap = abs(acc - conf)
      val nTot = sum(col("n")).over(w)
      bins.select(col("bin"), col("n"), col("pos"),
          r6(acc).as("bin_accuracy"), r6(conf).as("bin_confidence"),
          r6(sum(gap * col("n").cast("double")).over(w) /
            nTot.cast("double")).as("ece"),
          r6(max(gap).over(w)).as("mce"),
          r6(sum(col("sbrier")).over(w).cast("double") /
            nTot.cast("double") / lit(1000000.0)).as("brier"))
        .orderBy("bin")
    }),

    // ---- k-fold cross-validation stability (beyond reference, r9) ---------
    // The evaluation discipline every single-split metric (q_confusion_
    // metrics) silently skips: score the stop-ratio≥0.15 english
    // classifier on 5 content-addressed md5 folds and report per-fold
    // accuracy plus the across-fold mean ± sd — "is the metric stable or
    // did the split get lucky". One scan partial-aggregates to the 5-fold
    // frame (fold from md5(doc_id) % 5 — deterministic, partition-
    // invariant); per-fold accuracy is one division of exact BIGINTs and
    // the 5-term mean/sd accumulations are r6-absorbed windows over the
    // bounded frame.
    "q_cv_folds" -> ((s, dir) => {
      val fold = pmod(conv(substring(md5(concat(lit("cv#"),
        col("doc_id").cast("string")).cast("binary")), 1, 4), 16, 10)
        .cast("long"), lit(5L))
      val pred = (TextOps.stopRatio(col("text")) >= lit(0.15)).cast("long")
      val y = (col("lang") === "en").cast("long")
      val folds = t(s, dir, "documents")
        .select(fold.as("fold"),
          (pred === y).cast("long").as("correct"))
        .groupBy("fold")
        .agg(count(lit(1)).as("n"), sum(col("correct")).as("n_correct"))
      val w = BoundedWindow.whole(col("fold"))
      val acc = col("n_correct").cast("double") / col("n").cast("double")
      val withAcc = folds.select(col("fold"), col("n"), col("n_correct"),
        acc.as("acc"))
      val k = count(lit(1)).over(w).cast("double")
      val sa = sum(col("acc")).over(w)
      val saa = sum(col("acc") * col("acc")).over(w)
      withAcc.select(col("fold"), col("n"), col("n_correct"),
          r6(col("acc")).as("accuracy"),
          r6(sa / k).as("mean_acc"),
          // greatest(…, 0): identical fold accuracies round the moment
          // difference a hair negative — DuckDB SQRT would error where
          // Spark yields NaN (r10 sweep; mirrored in the oracle)
          r6(sqrt(greatest(saa - sa * sa / k, lit(0.0)) / (k - lit(1.0))))
            .as("sd_acc"))
        .orderBy("fold")
    }),

    // ---- isotonic calibration (PAV by the max-min identity) ---------------
    // The monotone score-calibrator (Zadrozny–Elkan 2002) beside the
    // binned q_calibration diagnostic: fit the best NON-DECREASING map
    // from stop-ratio score to P(lang = en). Instead of the sequential
    // pool-adjacent-violators loop (driver-bound, order-dependent), use
    // the closed-form identity fitted(i) = max_{j≤i} min_{k≥i}
    // mean(y[j..k]) — pure relational algebra over the BOUNDED 2-dp bin
    // frame (≤101 bins ⇒ ≤5151 interval pairs ⇒ ≤10⁵·2 triple rows,
    // schema-bounded at any corpus size; the corpus itself reduces in ONE
    // partial-aggregated scan). Every interval mean is one division of
    // exact integer cumulative sums, min/max are exact comparisons —
    // there is NO float accumulation anywhere, so the fit is hash-exact
    // without any rounding discipline. Monotonicity is guaranteed by
    // construction (the identity is the isotonic regression).
    "q_isotonic_calibration" -> ((s, dir) => {
      val b2 = scoreBins(t(s, dir, "documents"))
        .groupBy((floor(col("sb") * lit(100.0) + lit(0.500001)) / lit(100.0))
          .as("sb2"))
        .agg(sum(col("pos")).as("pos"), sum(col("pos") + col("neg")).as("n"))
      val wOrd = BoundedWindow.ordered(col("sb2"), col("sb2"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ix = b2.select(col("sb2"), col("pos"), col("n"),
        row_number().over(BoundedWindow.ordered(col("sb2"), col("sb2")))
          .cast("long").as("i"),
        sum(col("pos")).over(wOrd).as("cp"),
        sum(col("n")).over(wOrd).as("cn"))
      val j = ix.select(col("i").as("ji"), col("pos").as("jpos"),
        col("n").as("jn"), col("cp").as("jcp"), col("cn").as("jcn"))
      val kk = ix.select(col("i").as("ki"), col("cp").as("kcp"),
        col("cn").as("kcn"))
      val pr = j.join(broadcast(kk), col("ji") <= col("ki"))
        .select(col("ji"), col("ki"),
          ((col("kcp") - col("jcp") + col("jpos")).cast("double") /
            (col("kcn") - col("jcn") + col("jn")).cast("double")).as("mean"))
      val tri = pr.select(col("ji"),
        explode(sequence(col("ji"), col("ki"))).as("i"), col("mean"))
      val fit = tri.groupBy("i", "ji").agg(min(col("mean")).as("mn"))
        .groupBy("i").agg(max(col("mn")).as("fitted"))
      ix.join(broadcast(fit), Seq("i"))
        .select(col("sb2").as("score_bin"), col("n"), col("pos"),
          r6(col("pos").cast("double") / col("n")).as("raw_rate"),
          r6(col("fitted")).as("calibrated"))
        .orderBy("score_bin")
    }),

    // ---- logistic regression by quantized-gradient descent ----------------
    // Full-batch GD training made CROSS-ENGINE EXACT: the classic
    // objection to hash-gating iterative float training is that each
    // gradient is an order-dependent corpus sum whose ulps compound
    // through the iterations. Here each row's gradient contribution
    // (σ(w·x) − y)·x_j is quantized to integer micro-units ONCE (one
    // deterministic float sequence per row — the q_entropy_rate
    // discipline applied to SGD), so every gradient is an exact BIGINT,
    // every weight update is the same closed-form double arithmetic on
    // both engines, and THREE unrolled iterations replay bit-for-bit in
    // chained SQL CTEs. Scale shape per iteration: one corpus scan
    // partial-aggregating to 4 integers (map-side combine; the weights
    // ride in as literals — the two-tier BetaGeo stance: a driver loop
    // over bounded aggregates, state O(features)). Final metrics: exact
    // micro-unit logloss and exact decision counts.
    "q_logistic_gd" -> ((s, dir) => {
      val frame = t(s, dir, "orders").select(
        (col("o_totalprice") > 240000.0).cast("long").as("y"),
        col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("double")
          .as("x1"),
        (dayofweek(to_date(col("o_orderdate"))).cast("double") / lit(7.0))
          .as("x2"))
      val n = frame.count()
      val nd = n.toDouble * 1000000.0
      var w = Array(0.0, 0.0, 0.0)
      for (_ <- 1 to 3) {
        val z = lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2")
        val sig = lit(1.0) / (lit(1.0) + exp(-z))
        val err = sig - col("y").cast("double")
        val g = frame.agg(
          sum(floor(err * lit(1000000.0)).cast("long")).as("g0"),
          sum(floor(err * col("x1") * lit(1000000.0)).cast("long")).as("g1"),
          sum(floor(err * col("x2") * lit(1000000.0)).cast("long")).as("g2"))
          .head()
        w = Array(
          w(0) - 4.0 * (g.getLong(0).toDouble / nd),
          w(1) - 4.0 * (g.getLong(1).toDouble / nd),
          w(2) - 4.0 * (g.getLong(2).toDouble / nd))
      }
      val z = lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2")
      val sig = lit(1.0) / (lit(1.0) + exp(-z))
      // the sigmoid saturates to EXACTLY 0.0/1.0 in double for |z| ≳ 37
      // (separable data / large weights), where log would hit 0 — a hard
      // DuckDB error vs Spark NULL (r10 sweep). Clamp to [1e-15, 1−1e-15]
      // with the IDENTICAL least/greatest sequence in the oracle so the
      // micro-floored logloss stays bit-equal.
      val sigC = least(greatest(sig, lit(1e-15)), lit(1.0) - lit(1e-15))
      val ll = when(col("y") === 1L, log(sigC))
        .otherwise(log(lit(1.0) - sigC))
      frame.agg(
        count(lit(1)).as("n"),
        sum(when((z > 0) === (col("y") === 1L), 1L).otherwise(0L))
          .as("n_correct"),
        sum(floor(-ll * lit(1000000.0)).cast("long")).as("logloss_micro"))
        .select(col("n"), lit(w(0)).as("w0"), lit(w(1)).as("w1"),
          lit(w(2)).as("w2"), col("n_correct"),
          r6(col("n_correct").cast("double") / col("n")).as("accuracy"),
          col("logloss_micro"))
    })
  )

  /** The q_logistic_gd oracle — the three GD iterations unrolled as
    * chained CTEs; every gradient is the same exact micro-unit BIGINT, so
    * the weight chain replays the Spark driver loop bit-for-bit.
    */
  private def logisticGdOracle: String = {
    def zExpr(i: Int) = s"i$i.w0 + i$i.w1 * x1 + i$i.w2 * x2"
    def sigExpr(i: Int) = s"1.0 / (1.0 + EXP(-(${zExpr(i)})))"
    val iters = (1 to 3).map { k =>
      val p = k - 1
      s""", g$k AS (
         |  SELECT
         |    CAST(SUM(CAST(FLOOR((${sigExpr(p)} - CAST(y AS DOUBLE))
         |      * 1000000.0) AS BIGINT)) AS BIGINT) AS g0,
         |    CAST(SUM(CAST(FLOOR((${sigExpr(p)} - CAST(y AS DOUBLE)) * x1
         |      * 1000000.0) AS BIGINT)) AS BIGINT) AS g1,
         |    CAST(SUM(CAST(FLOOR((${sigExpr(p)} - CAST(y AS DOUBLE)) * x2
         |      * 1000000.0) AS BIGINT)) AS BIGINT) AS g2
         |  FROM base, i$p
         |), i$k AS (
         |  SELECT i$p.w0 - 4.0 * (CAST(g$k.g0 AS DOUBLE) / nn.nd) AS w0,
         |    i$p.w1 - 4.0 * (CAST(g$k.g1 AS DOUBLE) / nn.nd) AS w1,
         |    i$p.w2 - 4.0 * (CAST(g$k.g2 AS DOUBLE) / nn.nd) AS w2
         |  FROM i$p, g$k, nn
         |)""".stripMargin
    }.mkString
    s"""WITH base AS (
       |  SELECT
       |    CAST(CASE WHEN o_totalprice > 240000.0 THEN 1 ELSE 0 END
       |      AS BIGINT) AS y,
       |    CAST(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
       |      THEN 1 ELSE 0 END AS DOUBLE) AS x1,
       |    CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS DOUBLE) / 7.0
       |      AS x2
       |  FROM orders
       |), nn AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(COUNT(*) AS DOUBLE) * 1000000.0 AS nd
       |  FROM base
       |), i0 AS (
       |  SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1,
       |    CAST(0.0 AS DOUBLE) AS w2
       |)$iters
       |SELECT nn.n, i3.w0, i3.w1, i3.w2,
       |  CAST(SUM(CASE WHEN ((${zExpr(3)}) > 0) = (y = 1) THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_correct,
       |  FLOOR(CAST(SUM(CASE WHEN ((${zExpr(3)}) > 0) = (y = 1)
       |      THEN 1 ELSE 0 END) AS DOUBLE) / nn.n
       |    * 1000000.0 + 0.500001) / 1000000.0 AS accuracy,
       |  CAST(SUM(CAST(FLOOR(-(CASE WHEN y = 1
       |    THEN LN(LEAST(GREATEST(${sigExpr(3)}, 1e-15), 1.0 - 1e-15))
       |    ELSE LN(1.0 - LEAST(GREATEST(${sigExpr(3)}, 1e-15), 1.0 - 1e-15))
       |    END) * 1000000.0) AS BIGINT))
       |    AS BIGINT) AS logloss_micro
       |FROM base, nn, i3
       |GROUP BY nn.n, i3.w0, i3.w1, i3.w2""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(

    // chained-CTE replay of the quantized-gradient training loop —
    // bit-identical weights, decisions and micro-unit logloss
    "q_logistic_gd" -> logisticGdOracle,

    // identical raw-ratio bins, integer-exact confidence/Brier micro
    // sums, r6-absorbed ≤10-term ECE accumulation
    "q_ece" ->
      (s"""WITH d AS (
        |  SELECT lang, regexp_split_to_array(trim(text), '\\s+') AS toks
        |  FROM documents
        |), f AS (
        |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
        |    CAST(len(list_filter(toks,
        |      x -> x IN (${TextOps.stopwordsInList}))) AS DOUBLE)
        |      / len(toks) AS sc
        |  FROM d
        |), r AS (
        |  SELECT CAST(LEAST(FLOOR(sc * 10.0), 9.0) AS BIGINT) AS bin, y,
        |    CAST(FLOOR(sc * 1000000.0) AS BIGINT) AS score_micro,
        |    CAST(FLOOR((sc - CAST(y AS DOUBLE)) * (sc - CAST(y AS DOUBLE))
        |      * 1000000.0) AS BIGINT) AS bm
        |  FROM f
        |), bins AS (
        |  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(y) AS BIGINT) AS pos,
        |    CAST(SUM(score_micro) AS BIGINT) AS sconf,
        |    CAST(SUM(bm) AS BIGINT) AS sbrier
        |  FROM r GROUP BY 1
        |), e AS (
        |  SELECT *,
        |    CAST(pos AS DOUBLE) / CAST(n AS DOUBLE) AS acc,
        |    CAST(sconf AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 AS conf
        |  FROM bins
        |)
        |SELECT bin, n, pos,
        |  FLOOR(acc * 1000000.0 + 0.500001) / 1000000.0 AS bin_accuracy,
        |  FLOOR(conf * 1000000.0 + 0.500001) / 1000000.0 AS bin_confidence,
        |  FLOOR(SUM(ABS(acc - conf) * CAST(n AS DOUBLE)) OVER ()
        |      / CAST(SUM(n) OVER () AS DOUBLE)
        |    * 1000000.0 + 0.500001) / 1000000.0 AS ece,
        |  FLOOR(MAX(ABS(acc - conf)) OVER () * 1000000.0 + 0.500001)
        |    / 1000000.0 AS mce,
        |  FLOOR(CAST(SUM(sbrier) OVER () AS DOUBLE)
        |      / CAST(SUM(n) OVER () AS DOUBLE) / 1000000.0
        |    * 1000000.0 + 0.500001) / 1000000.0 AS brier
        |FROM e ORDER BY bin""").stripMargin,

    // identical md5 folds, raw-ratio threshold (an exact rational ≥
    // compare), exact per-fold counts, r6-absorbed 5-term mean/sd
    "q_cv_folds" ->
      (s"""WITH d AS (
        |  SELECT doc_id, lang,
        |    regexp_split_to_array(trim(text), '\\s+') AS toks
        |  FROM documents
        |), f AS (
        |  SELECT CAST('0x' || substr(md5('cv#' || CAST(doc_id AS VARCHAR)),
        |      1, 4) AS BIGINT) % 5 AS fold,
        |    CASE WHEN (CAST(len(list_filter(toks,
        |        x -> x IN (${TextOps.stopwordsInList}))) AS DOUBLE)
        |      / len(toks) >= 0.15) = (lang = 'en')
        |      THEN 1 ELSE 0 END AS correct
        |  FROM d
        |), g AS (
        |  SELECT fold, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(correct) AS BIGINT) AS n_correct
        |  FROM f GROUP BY 1
        |), a AS (
        |  SELECT *, CAST(n_correct AS DOUBLE) / CAST(n AS DOUBLE) AS acc
        |  FROM g
        |)
        |SELECT fold, n, n_correct,
        |  FLOOR(acc * 1000000.0 + 0.500001) / 1000000.0 AS accuracy,
        |  FLOOR(SUM(acc) OVER () / CAST(COUNT(*) OVER () AS DOUBLE)
        |    * 1000000.0 + 0.500001) / 1000000.0 AS mean_acc,
        |  FLOOR(sqrt(GREATEST(SUM(acc * acc) OVER ()
        |      - SUM(acc) OVER () * SUM(acc) OVER ()
        |        / CAST(COUNT(*) OVER () AS DOUBLE), 0.0)
        |    / (CAST(COUNT(*) OVER () AS DOUBLE) - 1.0))
        |    * 1000000.0 + 0.500001) / 1000000.0 AS sd_acc
        |FROM a ORDER BY fold""").stripMargin,

    // the same max-min identity over the same 2-dp bin frame — interval
    // means are single divisions of exact cumulative integers
    "q_isotonic_calibration" -> (binsCte +
      """, b2 AS (
        |  SELECT FLOOR(sb * 100.0 + 0.500001) / 100.0 AS sb2,
        |    CAST(SUM(pos) AS BIGINT) AS pos,
        |    CAST(SUM(pos + neg) AS BIGINT) AS n
        |  FROM b GROUP BY 1
        |), ix AS (
        |  SELECT sb2, pos, n,
        |    ROW_NUMBER() OVER (ORDER BY sb2) AS i,
        |    SUM(pos) OVER (ORDER BY sb2 ROWS UNBOUNDED PRECEDING) AS cp,
        |    SUM(n) OVER (ORDER BY sb2 ROWS UNBOUNDED PRECEDING) AS cn
        |  FROM b2
        |), pr AS (
        |  SELECT j.i AS ji, k.i AS ki,
        |    CAST(k.cp - j.cp + j.pos AS DOUBLE)
        |      / CAST(k.cn - j.cn + j.n AS DOUBLE) AS mean
        |  FROM ix j JOIN ix k ON j.i <= k.i
        |), tri AS (
        |  SELECT ji, CAST(u.i AS BIGINT) AS i, mean
        |  FROM pr, LATERAL unnest(generate_series(pr.ji, pr.ki)) AS u(i)
        |), fit AS (
        |  SELECT i, MAX(mn) AS fitted FROM (
        |    SELECT i, ji, MIN(mean) AS mn FROM tri GROUP BY 1, 2)
        |  GROUP BY 1
        |)
        |SELECT ix.sb2 AS score_bin, ix.n, ix.pos,
        |  FLOOR(CAST(ix.pos AS DOUBLE) / CAST(ix.n AS DOUBLE)
        |    * 1000000.0 + 0.500001) / 1000000.0 AS raw_rate,
        |  FLOOR(fit.fitted * 1000000.0 + 0.500001) / 1000000.0 AS calibrated
        |FROM ix JOIN fit ON fit.i = ix.i ORDER BY score_bin""".stripMargin),

    // the q_hybrid_search bm25/cos structure; metrics from the two ranked
    // CTEs — natural-log DCG (base cancels in the DCG/IDCG ratio)
    "q_ranking_metrics" ->
      s"""WITH ${Curation.HybridScoresCte}, cand AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
        |  FROM s ORDER BY bm25 DESC, doc_id LIMIT 10
        |), truth AS (
        |  SELECT doc_id FROM s ORDER BY cos DESC, doc_id LIMIT 10
        |), j AS (
        |  SELECT cand.rank, CASE WHEN truth.doc_id IS NULL THEN 0 ELSE 1 END AS rel
        |  FROM cand LEFT JOIN truth ON cand.doc_id = truth.doc_id
        |), idcg AS (
        |  SELECT SUM(1.0 / ln(i + 1.0)) AS v FROM range(1, 11) t(i)
        |)
        |SELECT
        |  FLOOR((SUM(rel) / 10.0) * 10000.0 + 0.500001) / 10000.0 AS recall_at_k,
        |  FLOOR((COALESCE(1.0 / MIN(CASE WHEN rel = 1 THEN rank END), 0.0))
        |    * 10000.0 + 0.500001) / 10000.0 AS mrr,
        |  FLOOR((SUM(CASE WHEN rel = 1 THEN 1.0 / ln(rank + 1.0) ELSE 0.0 END)
        |    / (SELECT v FROM idcg)) * 10000.0 + 0.500001) / 10000.0 AS ndcg_at_k
        |FROM j""".stripMargin,

    "q_dq_expectations" ->
      """WITH a AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_rows,
        |    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |      AS n_null_cust,
        |    CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE) AS n_distinct_key,
        |    CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
        |      THEN 1 ELSE 0 END) AS DOUBLE) AS n_bad_status,
        |    CAST(SUM(CASE WHEN o_totalprice <= 0.0 THEN 1 ELSE 0 END) AS DOUBLE)
        |      AS n_nonpos_price
        |  FROM orders
        |), orph AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_orphans FROM orders
        |  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
        |), checks AS (
        |  SELECT 'accepted_values_orderstatus' AS check, n_bad_status AS bad FROM a
        |  UNION ALL SELECT 'completeness_custkey', n_null_cust FROM a
        |  UNION ALL SELECT 'positive_totalprice', n_nonpos_price FROM a
        |  UNION ALL SELECT 'referential_integrity_custkey', n_orphans FROM orph
        |  UNION ALL SELECT 'uniqueness_orderkey', n_rows - n_distinct_key FROM a
        |)
        |SELECT checks.check,
        |  FLOOR((1.0 - bad / (SELECT n_rows FROM a)) * 10000.0 + 0.500001)
        |    / 10000.0 AS metric,
        |  CAST(CASE WHEN bad = 0 THEN 1 ELSE 0 END AS BIGINT) AS passed
        |FROM checks ORDER BY checks.check""".stripMargin,

    "q_text_normalize" ->
      """SELECT doc_id, md5(text) AS raw_md5,
        |  md5(regexp_replace(trim(lower(nfc_normalize(text))), '\s+', ' ', 'g'))
        |    AS norm_md5,
        |  CAST(length(regexp_replace(trim(lower(nfc_normalize(text))),
        |    '\s+', ' ', 'g')) AS BIGINT) AS norm_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_roc_auc" -> (binsCte +
      """, c AS (
        |  SELECT pos, neg, COALESCE(SUM(neg) OVER (ORDER BY sb
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS cnb
        |  FROM b
        |)
        |SELECT FLOOR((SUM(pos * (cnb + neg / 2.0)) / (SUM(pos) * SUM(neg)))
        |    * 1000000.0 + 0.500001) / 1000000.0 AS auc,
        |  CAST(SUM(pos) AS BIGINT) AS n_pos, CAST(SUM(neg) AS BIGINT) AS n_neg
        |FROM c""".stripMargin),

    "q_pr_curve" -> (binsCte +
      """, thr AS (
        |  SELECT i / 100.0 AS thr FROM range(0, 10) t(i)
        |), g AS (
        |  SELECT thr,
        |    SUM(CASE WHEN sb >= thr THEN pos + neg ELSE 0.0 END) AS flagged,
        |    SUM(CASE WHEN sb >= thr THEN pos ELSE 0.0 END) AS tp,
        |    SUM(pos) AS p
        |  FROM b, thr GROUP BY thr
        |), m AS (
        |  SELECT thr, flagged,
        |    CASE WHEN flagged > 0 THEN tp / flagged ELSE 0.0 END AS pre,
        |    tp / p AS rec
        |  FROM g
        |)
        |SELECT thr, CAST(flagged AS BIGINT) AS n_flagged,
        |  FLOOR(pre * 1000000.0 + 0.500001) / 1000000.0 AS prec,
        |  FLOOR(rec * 1000000.0 + 0.500001) / 1000000.0 AS rec,
        |  FLOOR((CASE WHEN pre + rec > 0 THEN 2.0 * pre * rec / (pre + rec)
        |    ELSE 0.0 END) * 1000000.0 + 0.500001) / 1000000.0 AS f1
        |FROM m ORDER BY thr""".stripMargin),

    "q_gains_curve" -> (binsCte +
      """, c AS (
        |  SELECT
        |    SUM(pos + neg) OVER (ORDER BY sb DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumpop,
        |    SUM(pos) OVER (ORDER BY sb DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumpos,
        |    SUM(pos + neg) OVER () AS ntot,
        |    SUM(pos) OVER () AS ptot
        |  FROM b
        |), q AS (
        |  SELECT i AS decile, MIN(cumpop) AS cumpop
        |  FROM c, range(1, 11) t(i)
        |  WHERE cumpop * 10 >= i * ntot
        |  GROUP BY i
        |)
        |SELECT q.decile, CAST(q.cumpop AS BIGINT) AS n_docs,
        |  CAST(c.cumpos AS BIGINT) AS n_pos,
        |  FLOOR(CAST(q.cumpop AS DOUBLE) / c.ntot * 1000000.0 + 0.500001)
        |    / 1000000.0 AS pop_frac,
        |  CASE WHEN c.ptot > 0 THEN
        |    FLOOR(CAST(c.cumpos AS DOUBLE) / c.ptot * 1000000.0 + 0.500001)
        |      / 1000000.0 END AS gain,
        |  CASE WHEN c.ptot > 0 THEN
        |    FLOOR(CAST(c.cumpos * c.ntot AS DOUBLE) / (q.cumpop * c.ptot)
        |      * 1000000.0 + 0.500001) / 1000000.0 END AS lift
        |FROM q JOIN c ON c.cumpop = q.cumpop
        |ORDER BY q.decile""".stripMargin),

    // (the b CTE is unreferenced here — calibration bins on p̂ deciles,
    // not raw scores; DuckDB never evaluates unreferenced CTEs)
    "q_calibration" -> (binsCte +
      """, g AS (
        |  SELECT CAST(LEAST(FLOOR(LEAST(sb * 5.0, 1.0) * 10.0), 9.0) AS BIGINT)
        |      AS bin,
        |    LEAST(sb * 5.0, 1.0) AS ph, y
        |  FROM f
        |), p AS (
        |  SELECT bin, CAST(COUNT(*) AS DOUBLE) AS n, SUM(ph) AS sph,
        |    CAST(SUM(y) AS DOUBLE) AS sy
        |  FROM g GROUP BY bin
        |)
        |SELECT bin, CAST(n AS BIGINT) AS n_docs,
        |  FLOOR((sph / n) * 1000000.0 + 0.500001) / 1000000.0 AS avg_pred,
        |  FLOOR((sy / n) * 1000000.0 + 0.500001) / 1000000.0 AS pos_rate,
        |  FLOOR(((n / SUM(n) OVER ()) * ABS(sph / n - sy / n))
        |    * 1000000.0 + 0.500001) / 1000000.0 AS ece_part
        |FROM p ORDER BY bin""".stripMargin),

    // identical binned-forecast decomposition, every sum micro-quantized
    // before aggregation
    "q_brier_decomposition" -> (binsCte +
      """, g AS (
        |  SELECT CAST(LEAST(FLOOR(LEAST(sb * 5.0, 1.0) * 10.0), 9.0) AS BIGINT)
        |      AS bin,
        |    CAST(FLOOR(LEAST(sb * 5.0, 1.0) * 1000000.0) AS BIGINT) AS phm,
        |    y,
        |    CAST(FLOOR((LEAST(sb * 5.0, 1.0) - CAST(y AS DOUBLE))
        |      * (LEAST(sb * 5.0, 1.0) - CAST(y AS DOUBLE))
        |      * 1000000000000.0) AS BIGINT) AS sqm
        |  FROM f
        |), p AS (
        |  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(phm) AS BIGINT) AS sph, CAST(SUM(y) AS BIGINT) AS sy
        |  FROM g GROUP BY bin
        |), tt AS (
        |  SELECT bin, n, sph, sy,
        |    CAST(SUM(n) OVER () AS BIGINT) AS ntot,
        |    CAST(SUM(sy) OVER () AS BIGINT) AS sytot
        |  FROM p
        |), ba AS (
        |  SELECT ntot, sytot, CAST(COUNT(*) AS BIGINT) AS n_bins,
        |    CAST(SUM(CAST(FLOOR(CAST(n AS DOUBLE)
        |      * (CAST(sph AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE)
        |        - CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (CAST(sph AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE)
        |        - CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
        |      * 1000000.0) AS BIGINT)) AS BIGINT) AS rel_micro,
        |    CAST(SUM(CAST(FLOOR(CAST(n AS DOUBLE)
        |      * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
        |        - CAST(sytot AS DOUBLE) / CAST(ntot AS DOUBLE))
        |      * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
        |        - CAST(sytot AS DOUBLE) / CAST(ntot AS DOUBLE))
        |      * 1000000.0) AS BIGINT)) AS BIGINT) AS res_micro
        |  FROM tt GROUP BY ntot, sytot
        |), bb AS (SELECT CAST(SUM(sqm) AS BIGINT) AS sq FROM g)
        |SELECT ntot AS n_docs, n_bins,
        |  FLOOR(CAST(sytot AS DOUBLE) / CAST(ntot AS DOUBLE) * 1000000.0
        |    + 0.500001) / 1000000.0 AS base_rate,
        |  FLOOR(CAST(sq AS DOUBLE) / 1000000000000.0 / CAST(ntot AS DOUBLE)
        |    * 1000000.0 + 0.500001) / 1000000.0 AS brier,
        |  FLOOR(CAST(rel_micro AS DOUBLE) / 1000000.0 / CAST(ntot AS DOUBLE)
        |    * 1000000.0 + 0.500001) / 1000000.0 AS reliability,
        |  FLOOR(CAST(res_micro AS DOUBLE) / 1000000.0 / CAST(ntot AS DOUBLE)
        |    * 1000000.0 + 0.500001) / 1000000.0 AS resolution,
        |  FLOOR(CAST(sytot AS DOUBLE) / CAST(ntot AS DOUBLE)
        |    * (1.0 - CAST(sytot AS DOUBLE) / CAST(ntot AS DOUBLE))
        |    * 1000000.0 + 0.500001) / 1000000.0 AS uncertainty
        |FROM ba, bb""".stripMargin),

    "q_token_entropy" ->
      """WITH toks AS (
        |  SELECT source,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents
        |), tc AS (
        |  SELECT source, term, CAST(COUNT(*) AS DOUBLE) AS n
        |  FROM toks GROUP BY source, term
        |)
        |SELECT source, CAST(SUM(n) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(*) AS BIGINT) AS n_types,
        |  FLOOR((ln(SUM(n)) - SUM(n * ln(n)) / SUM(n)) * 10000.0 + 0.500001)
        |    / 10000.0 AS entropy_nats
        |FROM tc GROUP BY source ORDER BY source""".stripMargin,

    // identical tokenization and per-term closed form; the flag derives
    // from the r4-rounded divergence so it cannot flip across engines
    "q_js_divergence" ->
      """WITH toks AS (
        |  SELECT CAST(substr(source, 4) AS BIGINT) % 2 AS g,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents
        |), tc AS (
        |  SELECT term,
        |    CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b
        |  FROM toks GROUP BY term
        |), tot AS (
        |  SELECT CAST(SUM(a) AS BIGINT) AS na, CAST(SUM(b) AS BIGINT) AS nb
        |  FROM tc
        |), f AS (
        |  SELECT a, b, na, nb,
        |    CAST(a AS DOUBLE) / na AS pa, CAST(b AS DOUBLE) / nb AS pb
        |  FROM tc, tot
        |), s AS (
        |  SELECT MAX(na) AS n_tokens_a, MAX(nb) AS n_tokens_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_types,
        |    CAST(SUM(CASE WHEN a > 0 AND b > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_types_shared,
        |    SUM(CASE WHEN a > 0 THEN pa * ln(pa / ((pa + pb) / 2)) / 2
        |          ELSE 0 END
        |      + CASE WHEN b > 0 THEN pb * ln(pb / ((pa + pb) / 2)) / 2
        |          ELSE 0 END) AS jsd0
        |  FROM f
        |)
        |SELECT n_tokens_a, n_tokens_b, n_types, n_types_shared,
        |  FLOOR(jsd0 * 10000.0 + 0.500001) / 10000.0 AS jsd_nats,
        |  CAST(CASE WHEN FLOOR(jsd0 * 10000.0 + 0.500001) / 10000.0 >= 0.0
        |    AND FLOOR(jsd0 * 10000.0 + 0.500001) / 10000.0 <= 0.6932
        |    THEN 1 ELSE 0 END AS BIGINT) AS within_ln2
        |FROM s""".stripMargin,

    // same md5 uniform (the q_dsir_select idiom), same literal Poisson(1)
    // CDF thresholds, same order-statistic CI selection
    "q_bootstrap_ci" ->
      """WITH reps AS (
        |  SELECT o_orderkey, o_totalprice, g.r
        |  FROM orders, (SELECT unnest(generate_series(0, 31)) AS r) g
        |), wtd AS (
        |  SELECT r, o_totalprice,
        |    CASE
        |      WHEN u < 0.36787944117144233 THEN 0
        |      WHEN u < 0.7357588823428847 THEN 1
        |      WHEN u < 0.9196986029286058 THEN 2
        |      WHEN u < 0.9810118431238463 THEN 3
        |      WHEN u < 0.9963401531726563 THEN 4
        |      WHEN u < 0.9994058151824183 THEN 5
        |      ELSE 6 END AS w
        |  FROM (
        |    SELECT r, o_totalprice,
        |      (CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '#' ||
        |        CAST(r AS VARCHAR)), 1, 8) AS BIGINT) + 0.5) / 4294967296.0 AS u
        |    FROM reps)
        |), m AS (
        |  SELECT r, FLOOR(SUM(w * o_totalprice) / SUM(w) * 10000.0 + 0.500001)
        |    / 10000.0 AS m
        |  FROM wtd GROUP BY r
        |), rk AS (
        |  SELECT m, row_number() OVER (ORDER BY m, r) AS rn FROM m
        |)
        |SELECT (SELECT COUNT(*) FROM orders) AS n_rows,
        |  CAST(32 AS BIGINT) AS n_replicates,
        |  (SELECT FLOOR(avg(o_totalprice) * 10000.0 + 0.500001) / 10000.0
        |   FROM orders) AS point_mean,
        |  (SELECT m FROM rk WHERE rn = 2) AS ci_lo,
        |  (SELECT m FROM rk WHERE rn = 31) AS ci_hi""".stripMargin,

    // the same scoreBins CTE; exact BIGINT 2x2 counts; every metric's
    // zero-denominator case abstains NULL identically; MCC factors cast
    // to double individually before multiplying
    "q_confusion_metrics" -> (binsCte +
      """, c AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN sb >= 0.15 THEN pos ELSE 0 END) AS BIGINT)
        |      AS tp,
        |    CAST(SUM(CASE WHEN sb >= 0.15 THEN neg ELSE 0 END) AS BIGINT)
        |      AS fp,
        |    CAST(SUM(CASE WHEN sb < 0.15 THEN pos ELSE 0 END) AS BIGINT)
        |      AS fn,
        |    CAST(SUM(CASE WHEN sb < 0.15 THEN neg ELSE 0 END) AS BIGINT)
        |      AS tn
        |  FROM b
        |), m AS (
        |  SELECT tp, fp, fn, tn,
        |    CAST(tp AS DOUBLE) AS tpd, CAST(fp AS DOUBLE) AS fpd,
        |    CAST(fn AS DOUBLE) AS fnd, CAST(tn AS DOUBLE) AS tnd
        |  FROM c
        |), r AS (
        |  SELECT tp, fp, fn, tn,
        |    CASE WHEN tpd + fpd + fnd + tnd > 0
        |      THEN (tpd + tnd) / (tpd + fpd + fnd + tnd) END AS acc,
        |    CASE WHEN tpd + fpd > 0 THEN tpd / (tpd + fpd) END AS prec,
        |    CASE WHEN tpd + fnd > 0 THEN tpd / (tpd + fnd) END AS rec,
        |    CASE WHEN tnd + fpd > 0 THEN tnd / (tnd + fpd) END AS spec,
        |    CASE WHEN sqrt((tpd + fpd) * (tpd + fnd) * (tnd + fpd)
        |        * (tnd + fnd)) > 0
        |      THEN (tpd * tnd - fpd * fnd)
        |        / sqrt((tpd + fpd) * (tpd + fnd) * (tnd + fpd) * (tnd + fnd))
        |    END AS mcc
        |  FROM m
        |)
        |SELECT tp, fp, fn, tn,
        |  FLOOR(acc * 1000000.0 + 0.500001) / 1000000.0 AS accuracy,
        |  FLOOR(prec * 1000000.0 + 0.500001) / 1000000.0 AS precision_,
        |  FLOOR(rec * 1000000.0 + 0.500001) / 1000000.0 AS recall_,
        |  FLOOR(spec * 1000000.0 + 0.500001) / 1000000.0 AS specificity,
        |  CASE WHEN prec IS NOT NULL AND rec IS NOT NULL AND prec + rec > 0
        |    THEN FLOOR(2.0 * prec * rec / (1.0 * prec + rec)
        |      * 1000000.0 + 0.500001) / 1000000.0 END AS f1,
        |  CASE WHEN prec IS NOT NULL AND rec IS NOT NULL AND prec + rec > 0
        |    THEN FLOOR(5.0 * prec * rec / (4.0 * prec + rec)
        |      * 1000000.0 + 0.500001) / 1000000.0 END AS f2,
        |  FLOOR((COALESCE(rec, 0.0) + COALESCE(spec, 0.0)) / 2.0
        |    * 1000000.0 + 0.500001) / 1000000.0 AS balanced_accuracy,
        |  FLOOR(mcc * 1000000.0 + 0.500001) / 1000000.0 AS mcc
        |FROM r""".stripMargin),

    // join-based recount of the fitted model: the same Laplace divisions
    // over the same exact counts; argmax via (score DESC, class ASC)
    // row_number = the Spark fold's ascending-class strict-> tie rule
    "q_naive_bayes" ->
      """WITH base AS (
        |  SELECT event_id, event_type AS y,
        |    hour(ts) // 6 AS f1,
        |    COALESCE(CAST(json_extract_string(props, '$.k') AS BIGINT) // 25,
        |      -1) AS f2,
        |    md5(CAST(event_id AS VARCHAR)) < 'cccccccc' AS is_train
        |  FROM events
        |), cells AS (
        |  SELECT y, f1, f2, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM base WHERE is_train GROUP BY 1, 2, 3
        |), cls AS (
        |  SELECT y, CAST(SUM(n) AS BIGINT) AS nc FROM cells GROUP BY 1
        |), tot AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS nt,
        |    CAST(COUNT(DISTINCT f1) AS BIGINT) AS v1,
        |    CAST(COUNT(DISTINCT f2) AS BIGINT) AS v2
        |  FROM cells
        |), c1 AS (
        |  SELECT y, f1, CAST(SUM(n) AS BIGINT) AS n1 FROM cells GROUP BY 1, 2
        |), c2 AS (
        |  SELECT y, f2, CAST(SUM(n) AS BIGINT) AS n2 FROM cells GROUP BY 1, 2
        |), scored AS (
        |  SELECT b.event_id, b.y AS actual, c.y AS cls,
        |    CAST(c.nc AS DOUBLE) / t.nt
        |      * (CAST(COALESCE(x1.n1, 0) + 1 AS DOUBLE) / (c.nc + t.v1))
        |      * (CAST(COALESCE(x2.n2, 0) + 1 AS DOUBLE) / (c.nc + t.v2))
        |      AS score
        |  FROM base b
        |  CROSS JOIN cls c
        |  CROSS JOIN tot t
        |  LEFT JOIN c1 x1 ON x1.y = c.y AND x1.f1 = b.f1
        |  LEFT JOIN c2 x2 ON x2.y = c.y AND x2.f2 = b.f2
        |  WHERE NOT b.is_train
        |), pred AS (
        |  SELECT actual, cls AS predicted,
        |    ROW_NUMBER() OVER (PARTITION BY event_id
        |      ORDER BY score DESC, cls ASC) AS rn
        |  FROM scored
        |), conf AS (
        |  SELECT actual, predicted, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM pred WHERE rn = 1 GROUP BY 1, 2
        |)
        |SELECT actual, predicted, n,
        |  FLOOR(CAST(SUM(CASE WHEN actual = predicted THEN n ELSE 0 END)
        |      OVER () AS DOUBLE) / SUM(n) OVER ()
        |    * 1000000.0 + 0.500001) / 1000000.0 AS accuracy
        |FROM conf ORDER BY actual, predicted""".stripMargin
  )
}
