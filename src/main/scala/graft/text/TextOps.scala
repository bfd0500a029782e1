package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table (doc_id, text, lang, source, n_chars): token counting
  * (whitespace + BPE-ish regex), quality scoring, document fingerprinting
  * (rolling hash + winnowing), and n-gram language ID.
  *
  * Scale design: every per-document computation is a higher-order-function
  * expression over the text column — no UDF, no explode unless a join needs
  * the exploded shape, no shuffle for the per-doc stats (pure projection,
  * pushdown-friendly). The language-ID profile is a tiny model broadcast
  * into an equi-join.
  */
object TextOps {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** BPE-ish subword-ish tokens: letter runs, digit runs, single punct —
    * the standard pre-tokenizer split (public convention, e.g. GPT-2's
    * regex family), minus the unicode categories this corpus lacks.
    */
  def bpeishTokens(text: Column): Column =
    regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))

  private val stopwords = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** Stopword fraction of whitespace tokens — the scalar shared by the
    * quality score and the ROC/PR/calibration evaluators (Evaluation).
    * Pure projection; the oracle spells the same list via `x IN (...)`.
    */
  def stopRatio(text: Column): Column = {
    val toks = tokens(text)
    val stopList = array(stopwords.map(lit): _*)
    size(filter(toks, t => array_contains(stopList, t))).cast("double") /
      size(toks)
  }

  /** The stopword list as a DuckDB IN-list literal, so oracle SQL strings
    * stay in lockstep with [[stopRatio]] by construction. */
  def stopwordsInList: String = stopwords.map(w => s"'$w'").mkString(", ")

  /** The stopword list as data — for operators that build literal arrays
    * (q_gopher_rules' distinct-stopword presence check). */
  def stopwordSeq: Seq[String] = stopwords

  /** Per-document stats (projection only; SQL-expressible → oracle-backed). */
  def textStats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      length(col("text")).cast(LongType).as("char_len"),
      size(tokens(col("text"))).cast(LongType).as("n_tokens"),
      size(bpeishTokens(col("text"))).cast(LongType).as("n_bpe_tokens"),
      length(regexp_replace(col("text"), "[^.,;:!?]", "")).cast(LongType).as("n_punct"))

  /** Quality score: stopword ratio + mean token length + length gates —
    * the standard cheap quality heuristics (length/punct/stopword ratios).
    */
  def qualityScore(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks)
    val stopList = array(stopwords.map(lit): _*)
    val nStop = size(filter(toks, t => array_contains(stopList, t)))
    docs.select(
      col("doc_id"),
      nTok.cast(LongType).as("n_tokens"),
      nStop.cast(LongType).as("n_stopwords"),
      (nStop.cast("double") / nTok).as("stop_ratio"),
      (length(col("text")).cast("double") / nTok).as("avg_token_len"),
      when(nTok >= lit(5) && length(col("text")) >= 20, 1L).otherwise(0L).as("quality_ok"))
  }

  /** PII patterns a training-corpus scrub redacts (the C4/CCNet-style
    * cleanup stage). Deliberately RE2-compatible (no backrefs, no
    * lookaround) so the same pattern strings run in Spark (java.util.regex)
    * and any RE2-based engine — cross-engine semantics are part of the
    * operator contract, not an accident.
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\+[0-9]{9,15}" -> "<PHONE>",
    "[0-9]{16}" -> "<CARD>",
    "([0-9]{1,3}\\.){3}[0-9]{1,3}" -> "<IP>")

  /** Redact PII in-place: one chained regexp_replace projection —
    * shuffle-free, codegen, linear scan at any scale. Pattern order
    * matters only if matches overlap; these four are disjoint by
    * construction (anchored by @ / + / digit-run length / dots).
    */
  def redactPii(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn(textCol,
      piiPatterns.foldLeft(col(textCol)) { case (c, (pat, tok)) =>
        regexp_replace(c, pat, tok)
      })

  /** Count PII matches per row (the audit face of [[redactPii]]): the
    * number of replacements the redaction chain actually performs. Each
    * pattern is counted on the text as redacted by the patterns BEFORE it
    * (the same fold order as [[redactPii]]) — counting every pattern on
    * the raw text instead would double-count overlaps (a 16-digit run
    * inside an email local-part, an IP-shaped string inside a longer
    * token) that the sequential replace only redacts once.
    */
  def piiCount(text: Column): Column =
    piiPatterns.foldLeft((lit(0L), text)) { case ((cnt, t), (pat, tok)) =>
      (cnt + size(regexp_extract_all(t, lit(pat), lit(0))).cast(LongType),
        regexp_replace(t, pat, tok))
    }._1

  /** Benchmark decontamination: flag corpus docs sharing any word n-gram
    * with a benchmark/eval set (the train-test-overlap scrub every LLM
    * corpus build runs; n=8+ is the published convention, e.g. GPT-3
    * appendix C uses 13-gram overlap). Plan shape: the benchmark side is
    * tiny by definition — its distinct n-grams broadcast into a left-semi
    * join against the exploded corpus grams, then a doc-level distinct.
    * One corpus scan, no corpus-side shuffle except the bounded flagged-id
    * aggregation; grams join as strings here (exact, oracle-matchable) —
    * at petabyte scale you'd hash them first (shingle kernel), trading
    * oracle exactness for shuffle width.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, n: Int = 8): DataFrame = {
    def grams(df: DataFrame) = df.select(col("doc_id"),
      explode(graft.functions.ColumnOps.bind(tokens(col("text"))) { toks =>
        transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
          i => concat_ws(" ", slice(toks, i + 1, lit(n))))
      }).as("gram"))
    val benchGrams = grams(benchmark).select("gram").distinct()
    val hits = grams(corpus)
      .join(broadcast(benchGrams), Seq("gram"), "left_semi")
      .select("doc_id").distinct()
      .withColumn("contaminated", lit(1L))
    corpus.select("doc_id").join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("contaminated"), lit(0L)).as("contaminated"))
  }

  /** Sequence packing, concat-and-chunk style: assign each document to the
    * training pack its starting token offset falls in (pack = ⌊cum_before /
    * budget⌋), packing greedily in (partitionCol, doc_id) order. The
    * partition column bounds the window — cumulative sums run per source,
    * never as one global single-partition window (the 100 TB constraint;
    * a global pack order would serialize the whole corpus through one
    * task). Returns per-doc pack assignment.
    */
  def packSequences(docs: DataFrame, budget: Int = 512,
      partitionCol: String = "source"): DataFrame = {
    val w = Window.partitionBy(col(partitionCol)).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col("doc_id"), col(partitionCol),
        size(tokens(col("text"))).cast(LongType).as("n_tokens"))
      .withColumn("cum_before", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("pack_id", floor(col("cum_before") / budget))
  }

  /** Rolling-hash fingerprint with winnowing (public algorithm: Schleimer,
    * Wilkerson & Aiken 2003 "Winnowing: Local Algorithms for Document
    * Fingerprinting"): hash word k-grams, slide a window of `w`, keep each
    * window's min hash, dedupe. Output: doc_id + sorted fingerprint array.
    * Runs as the native codegen kernel (DedupKernels.winnowFingerprint,
    * O(tokens) monotonic-deque sliding min) — per-row, shuffle-free.
    */
  def fingerprint(docs: DataFrame, k: Int = 3, w: Int = 4): DataFrame = {
    docs.select(col("doc_id"),
      call_function("winnow_fp", col("text"), lit(k), lit(w)).as("fingerprint"))
  }

  /** HOF-composition form of [[fingerprint]] — semantically identical
    * (same xxhash64 seed-42 k-gram hashes, same window mins); kept as the
    * built-ins-only cross-check for the native kernel in TextOpsSpec.
    */
  private[graft] def fingerprintHof(docs: DataFrame, k: Int = 3, w: Int = 4): DataFrame = {
    import graft.functions.ColumnOps.bind
    // let-bind both arrays: the text is tokenized once and the k-gram hash
    // array is built once, instead of once per sliding-window position
    val mins = bind(tokens(col("text"))) { toks =>
      bind(transform(
          sequence(lit(0), greatest(size(toks) - k, lit(0))),
          i => xxhash64(concat_ws(" ", slice(toks, i + 1, lit(k)))))) { hashes =>
        transform(
          sequence(lit(0), greatest(size(hashes) - w, lit(0))),
          i => array_min(slice(hashes, i + 1, lit(w))))
      }
    }
    docs.select(col("doc_id"),
      array_sort(array_distinct(mins)).as("fingerprint"))
  }

  /** Character n-grams of the (lowercased, squashed-whitespace) text. The
    * normalized string is let-bound: one regexp pass per document, not one
    * per character position.
    */
  def charNgrams(text: Column, n: Int = 3): Column =
    graft.functions.ColumnOps.bind(regexp_replace(lower(text), "\\s+", " ")) { norm =>
      transform(sequence(lit(1), greatest(length(norm) - (n - 1), lit(1))),
        i => norm.substr(i, lit(n)))
    }

  /** TF-IDF top-k terms per document (smoothed idf = ln((N+1)/(df+1)) + 1,
    * the sklearn-style variant). Plan: one explode + (doc, term) count
    * shuffle; document frequency re-aggregates THOSE counts (vocab-sized,
    * never a second corpus pass); N rides as a broadcast 1-row crossJoin;
    * final top-k is a window per doc. Integer tf/df and a shared ln make
    * the scores bit-reproducible cross-engine.
    */
  def tfidf(docs: DataFrame, k: Int = 3): DataFrame = {
    val terms = docs.select(col("doc_id"),
      explode(tokens(lower(col("text")))).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        col("tf") * (log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("tfidf"), col("rank"))
  }

  /** The (lang, trigram) → logp profile frame: train = one explode + one
    * aggregation (bounded output: ≤ langs × |trigram space|); per-language
    * totals re-aggregate that TINY result via a window instead of
    * exploding the training corpus a second time.
    */
  private def trigramProfile(train: DataFrame, n: Int): DataFrame = {
    val tgCounts = train
      .select(col("lang"), explode(charNgrams(col("text"), n)).as("tg"))
      .groupBy("lang", "tg").agg(count(lit(1)).as("tg_n"))
    val totalW = Window.partitionBy(col("lang"))
    tgCounts
      .withColumn("lang_total", sum(col("tg_n")).over(totalW))
      .select(col("lang").as("p_lang"), col("tg"),
        log((col("tg_n") + 1.0) / (col("lang_total") + 1000.0)).as("logp"))
  }

  /** Collect the bounded profile into a packed scoring model. */
  def trainLangModel(train: DataFrame, n: Int = 3): LangModel = {
    val rows = trigramProfile(train, n).collect()
    // UTF-8 BYTE order, not Java String (UTF-16 code unit) order: the
    // model's index-order tie-break must match max_by(struct(score,
    // p_lang)) / the oracle's ORDER BY p_lang, which compare UTF8String
    // binary — the two orders diverge for supplementary-plane code points
    val langs = rows.map(_.getString(0)).distinct.sortWith { (x, y) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(x)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y)) < 0
    }
    val idx = langs.zipWithIndex.toMap
    val table = new java.util.HashMap[String, Array[Double]]()
    rows.foreach { r =>
      val arr = table.computeIfAbsent(r.getString(1),
        _ => Array.fill(langs.length)(Double.NaN))
      arr(idx(r.getString(0))) = r.getDouble(2)
    }
    new LangModel(langs, table, n)
  }

  /** Language ID by character-trigram profiles (the classic n-gram method,
    * Cavnar & Trenkle 1994): learn per-language trigram log-frequencies
    * from a labeled sample, then score each document by summed
    * log-probability and take the argmax language.
    *
    * The profile is a MODEL, not a table — so scoring ships it inside a
    * codegen kernel call ([[LangModel.column]]) and runs as a
    * shuffle-free projection over the corpus: one scan, no explode, no
    * join, no aggregation. (The previous join-based formulation shuffled
    * every exploded trigram through a broadcast join + two groupBys —
    * [[langIdJoin]] keeps it as the built-ins-only cross-check.)
    */
  def langId(docs: DataFrame, train: DataFrame, n: Int = 3): DataFrame =
    docs.select(col("doc_id"), col("lang").as("lang_true"),
        trainLangModel(train, n).column(col("text")).as("lang_pred"))
      .where(col("lang_pred").isNotNull)

  /** Train the add-one-smoothed character-n-gram LM of [[lmScore]] and
    * [[dsirSelect]] on `train`: collect its gram profile (vocab-bounded —
    * at most the distinct-gram count of the training set), and return the
    * [[LmModel]] with ln(N+V) for N training grams over V distinct ones.
    */
  private def lmProfile(train: DataFrame, n: Int): (LmModel, Double) = {
    val counts = train.select(explode(charNgrams(col("text"), n)).as("g"))
      .groupBy("g").agg(count(lit(1)).as("c")).collect()
    val table = new java.util.HashMap[String, java.lang.Long](counts.length * 2)
    var total = 0L
    counts.foreach { r =>
      table.put(r.getString(0), java.lang.Long.valueOf(r.getLong(1)))
      total += r.getLong(1)
    }
    val model = new LmModel(table, n)
    (model, math.log((total + model.vocab).toDouble))
  }

  /** Per-document average log-likelihood under a character-n-gram LM with
    * add-one smoothing — the perplexity quality filter (CCNet-style: score
    * docs against a reference corpus LM, gate or bucket on the result;
    * Wenzek et al. 2020 describe the published pipeline). p(g) =
    * (c_g+1)/(N+V), so avg_logprob = (Σ ln(c_g+1) − L·ln(N+V)) / L;
    * perplexity would be exp(−avg_logprob).
    *
    * Plan shape: the training profile aggregates once (vocab-bounded
    * collect), ships inside a codegen expression, and scoring is a
    * shuffle-free projection — the corpus never explodes into grams.
    */
  def lmScore(docs: DataFrame, train: DataFrame, n: Int = 3,
              keep: Seq[String] = Nil): DataFrame = {
    val (model, lnNV) = lmProfile(train, n)
    // L stays declarative with the SAME normalization/windowing as the
    // kernel, so the decomposition's terms match the oracle verbatim
    val norm = regexp_replace(lower(col("text")), "\\s+", " ")
    val nGrams = greatest(length(norm) - (n - 1), lit(1)).cast("long")
    // `keep` passes caller columns through the scoring projection so
    // downstream consumers need no join-back on doc_id (recovering a
    // column already on the input row, such as q_ppl_buckets' `source`,
    // by re-joining the document table costs two exchanges and a join)
    docs.select(col("doc_id") +: nGrams.as("n_grams") +:
      ((model.column(col("text"))
        - nGrams.cast("double") * lit(lnNV)) / nGrams.cast("double")).as("avg_logprob") +:
      keep.map(col): _*)
  }

  /** BPE training (Sennrich 2016): learn `numMerges` merges from the
    * corpus word-frequency table. The table is the only thing collected,
    * and the collect is CAPPED at `maxVocabWords` types — the top-K by
    * (frequency desc, word) via a distributed TakeOrdered (sort+limit —
    * no single-partition stage), so the driver footprint is bounded at
    * ANY corpus scale. Heaps' law puts the distinct-word count of a
    * 100 TB corpus in the billions; an uncapped collect there is a
    * driver OOM (every sibling fit — BetaGeo, GammaGamma,
    * QualityClassifier, naive Bayes — already caps).
    *
    * The K contract: merges are computed from the frequency HEAD of the
    * Zipf-distributed word table. When the corpus vocabulary fits in K
    * (every test SF — sf0.1 has ~10⁴ types vs the 2¹⁸ default) the prune
    * is a provable no-op and the merge list equals the full-table one.
    * Beyond K, each dropped tail type has count ≤ the K-th head count and
    * pair-mass bounded by (len−1)·count, so under Zipf weighting the tail
    * perturbs only pairs whose head counts are already within tail-mass
    * of a tie — the published mitigation (subword-nmt trains on pruned
    * frequency dictionaries for exactly this reason). The merge loop
    * itself is O(numMerges · K) driver work on the bounded table; the
    * corpus is never re-scanned per merge. Deterministic: ties on pair
    * count break to the lexicographically smallest pair, and the top-K
    * cut ties on (c desc, w) — the merge list is a pure function of the
    * word-frequency table at every K.
    */
  def trainBpe(corpus: DataFrame, numMerges: Int,
               maxVocabWords: Int = 1 << 18): BpeModel = {
    require(maxVocabWords > 0, s"maxVocabWords must be positive: $maxVocabWords")
    val wordFreq = corpus
      .select(explode(tokens(lower(col("text")))).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w"))
      .limit(maxVocabWords)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    var vocab: Array[(Array[String], Long)] = wordFreq.map { case (w, c) =>
      (w.codePoints().toArray.map(cp => new String(Character.toChars(cp))), c)
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var exhausted = false
    while (merges.length < numMerges && !exhausted) {
      val pairCounts = new java.util.HashMap[(String, String), Long]()
      vocab.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          pairCounts.merge(p, c, (a, b) => a + b)
          i += 1
        }
      }
      if (pairCounts.isEmpty) exhausted = true
      else {
        import scala.jdk.CollectionConverters._
        val best = pairCounts.asScala.minBy { case ((a, b), c) => (-c, a, b) }._1
        merges += best
        vocab = vocab.map { case (syms, c) =>
          if (syms.length < 2) (syms, c)
          else {
            val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
            var j = 0
            while (j < syms.length) {
              if (j < syms.length - 1 && syms(j) == best._1 && syms(j + 1) == best._2) {
                out += (best._1 + best._2); j += 2
              } else { out += syms(j); j += 1 }
            }
            (out.toArray, c)
          }
        }
      }
    }
    new BpeModel(merges.toArray)
  }

  /** Subword-count column under a trained [[BpeModel]] via the codegen
    * kernel.
    */
  def bpeTokenCounts(docs: DataFrame, model: BpeModel): DataFrame =
    docs.withColumn("n_subwords", model.column(col("text")))

  /** DSIR-style importance selection (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every document
    * by the per-gram log-likelihood RATIO of a target-domain LM to the
    * source-corpus LM (both the add-one-smoothed char-n-gram model of
    * [[lmScore]]), then draw k docs without replacement ∝ softmax weight
    * via the Gumbel top-k trick — with the Gumbel noise derived from
    * md5(text), so selection is content-addressed and fully deterministic
    * (no RNG state; the [[graft.operators.Sampling]] convention).
    *
    * Plan shape: TWO vocab-bounded profile collects ship as broadcast
    * codegen kernels; llr + noise is ONE shuffle-free projection over ONE
    * corpus scan; selection is a distributed TakeOrdered k-heap. Raw docs
    * never globally sort or shuffle. Returns (doc_id, llr) for the
    * selected docs, llr unrounded, ordered by the selection key.
    */
  def dsirSelect(docs: DataFrame, target: DataFrame, k: Int, n: Int = 3): DataFrame = {
    val (tModel, tLnNV) = lmProfile(target, n)
    val (sModel, sLnNV) = lmProfile(docs, n)
    val norm = regexp_replace(lower(col("text")), "\\s+", " ")
    val nGrams = greatest(length(norm) - (n - 1), lit(1)).cast("long").cast("double")
    def avgLl(model: LmModel, lnNV: Double): Column =
      (model.column(col("text")) - nGrams * lit(lnNV)) / nGrams
    // uniform in (0,1) from the first 8 md5 hex digits; the +0.5 keeps it
    // strictly inside the interval — u=0 would hit Spark ln(0)=NULL vs
    // DuckDB -inf (the Divide-parity class of trap, dodged structurally)
    val u = (conv(substring(md5(col("text").cast("binary")), 1, 8), 16, 10)
      .cast("double") + lit(0.5)) / lit(4294967296.0)
    val llr = avgLl(tModel, tLnNV) - avgLl(sModel, sLnNV)
    docs.select(col("doc_id"), llr.as("llr"), (llr - log(-log(u))).as("__key"))
      .orderBy(col("__key").desc, col("doc_id")).limit(k)
      .select(col("doc_id"), col("llr"))
  }

  /** Join-based formulation of [[langId]] — semantically identical; kept
    * as the cross-check for the model-scoring expression (TextOpsSpec).
    */
  private[graft] def langIdJoin(docs: DataFrame, train: DataFrame, n: Int = 3): DataFrame = {
    val profile = trigramProfile(train, n)
    val docGrams = docs
      .select(col("doc_id"), col("lang").as("lang_true"),
        explode(charNgrams(col("text"), n)).as("tg"))
    val scored = docGrams
      .join(broadcast(profile), "tg")
      .groupBy(col("doc_id"), col("lang_true"), col("p_lang"))
      .agg(sum(col("logp")).as("score"))
    // struct ordering tie-break: equal scores resolve to the larger lang
    // code deterministically (matches the oracle's ORDER BY score DESC,
    // p_lang DESC) instead of max_by's arbitrary pick
    scored.groupBy(col("doc_id"), col("lang_true"))
      .agg(max_by(col("p_lang"), struct(col("score"), col("p_lang"))).as("lang_pred"))
  }
}
