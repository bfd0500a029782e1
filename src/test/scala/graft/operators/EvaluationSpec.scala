package graft.operators

import graft.{SparkSpec, SparkEntry}
import org.apache.spark.sql.functions._

/** Semantic invariants + plan gates for the evaluation family
  * (Evaluation.scala). The DuckDB hash gates pin exact values on the
  * fixtures; these pin the metric ALGEBRA (identity/disjoint rankings,
  * hand-computed partial overlap, planted contract violations, entropy
  * closed forms, NFC collapse) and the plan shapes (shuffle-free
  * normalize, two-level entropy aggregate, broadcast-only RI join).
  */
class EvaluationSpec extends SparkSpec {

  private val sf = graft.TestData.Sf0001

  private def plan(name: String): String = {
    spark.catalog.clearCache()
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
  }

  // ---- rankingMetrics algebra ----------------------------------------------

  private def cand(rows: (Long, Int)*) = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "rank")
  }
  private def truth(ids: Long*) = {
    import spark.implicits._
    ids.toSeq.toDF("doc_id")
  }

  test("ranking metrics: candidate ≡ truth scores 1.0 across the board") {
    val m = Evaluation.rankingMetrics(
      cand((1L, 1), (2L, 2), (3L, 3)), truth(1L, 2L, 3L), k = 3).head()
    assert(math.abs(m.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(m.getDouble(1) - 1.0) < 1e-12)
    assert(math.abs(m.getDouble(2) - 1.0) < 1e-12)
  }

  test("ranking metrics: disjoint rankings score 0.0 across the board") {
    val m = Evaluation.rankingMetrics(
      cand((1L, 1), (2L, 2), (3L, 3)), truth(7L, 8L, 9L), k = 3).head()
    assert(m.getDouble(0) === 0.0 && m.getDouble(1) === 0.0 && m.getDouble(2) === 0.0)
  }

  test("ranking metrics: hand-computed partial overlap") {
    // truth = {b, d, e}; cand = a@1, b@2, c@3 → only b relevant, at rank 2
    val m = Evaluation.rankingMetrics(
      cand((10L, 1), (20L, 2), (30L, 3)), truth(20L, 40L, 50L), k = 3).head()
    assert(math.abs(m.getDouble(0) - 1.0 / 3.0) < 1e-12, "recall@3 = 1/3")
    assert(math.abs(m.getDouble(1) - 0.5) < 1e-12, "mrr = 1/rank(b) = 1/2")
    val idcg = (1 to 3).map(i => 1.0 / math.log(i + 1.0)).sum
    assert(math.abs(m.getDouble(2) - (1.0 / math.log(3.0)) / idcg) < 1e-12,
      "ndcg = (1/ln 3) / idcg")
  }

  test("q_ranking_metrics: every metric in [0, 1]") {
    val r = SparkEntry.queries("q_ranking_metrics")(spark, sf).head()
    (0 to 2).foreach { i =>
      assert(r.getDouble(i) >= 0.0 && r.getDouble(i) <= 1.0, s"metric $i out of range")
    }
  }

  // ---- q_dq_expectations ----------------------------------------------------

  test("dq expectations: planted violations flip exactly the right checks") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dq").toString
    // 10 orders: one null custkey, one duplicated orderkey, one bad
    // status, one non-positive price, one orphan custkey (99 not in dim)
    Seq[(java.lang.Long, java.lang.Long, String, Double)](
      (1L, 1L, "O", 10.0), (2L, 1L, "F", 20.0), (3L, 2L, "P", 30.0),
      (4L, null, "O", 40.0), (5L, 2L, "X", 50.0), (6L, 1L, "O", -1.0),
      (6L, 2L, "F", 60.0), (7L, 99L, "O", 70.0), (8L, 1L, "F", 80.0),
      (9L, 2L, "O", 90.0))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    Seq(1L, 2L).toDF("c_custkey").write.parquet(s"$dir/customer.parquet")
    val out = SparkEntry.queries("q_dq_expectations")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(out.size === 5)
    out.values.foreach { case (_, passed) => assert(passed === 0L) }
    assert(out("completeness_custkey")._1 === 0.9)            // 1 null / 10
    assert(out("uniqueness_orderkey")._1 === 0.9)             // 1 dup / 10
    assert(out("accepted_values_orderstatus")._1 === 0.9)     // 1 'X' / 10
    assert(out("positive_totalprice")._1 === 0.9)             // 1 ≤ 0 / 10
    // orphans: custkey 99 (null custkey rows do NOT anti-join as orphans)
    assert(out("referential_integrity_custkey")._1 === 0.9)
  }

  test("dq expectations on the fixture: all five checks pass at metric 1.0") {
    val out = SparkEntry.queries("q_dq_expectations")(spark, sf).collect()
    assert(out.length === 5)
    out.foreach { r =>
      assert(r.getDouble(1) === 1.0 && r.getLong(2) === 1L,
        s"check ${r.getString(0)} unexpectedly failing on clean fixture")
    }
  }

  test("dq plan: orders never shuffle for the RI check (broadcast anti-join)") {
    val p = plan("q_dq_expectations")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"RI check not a broadcast anti-join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"orders shuffled for the dim join:\n$p")
  }

  // ---- q_text_normalize -------------------------------------------------------

  test("NFC collapse: composed and decomposed é hash identically after normalize") {
    import spark.implicits._
    val composed = "Café  du  Monde"          // é as one code point
    val decomposed = "Café  du  Monde"       // e + combining acute
    val dir = java.nio.file.Files.createTempDirectory("graft_nfc").toString
    Seq((1L, composed), (2L, decomposed))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q_text_normalize")(spark, dir)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getString(1) !== out(2L).getString(1),
      "raw md5 must differ (different byte sequences)")
    assert(out(1L).getString(2) === out(2L).getString(2),
      "normalized md5 must collapse composed/decomposed forms")
    assert(out(1L).getLong(3) === "café du monde".length.toLong,
      "whitespace must collapse to single spaces")
  }

  test("NFC kernel: already-normalized text returns the input buffer (no alloc)") {
    val s = org.apache.spark.unsafe.types.UTF8String.fromString("plain ascii")
    assert(graft.text.TextNorm.nfc(s) eq s)
    val deco = org.apache.spark.unsafe.types.UTF8String.fromString("Café")
    assert(graft.text.TextNorm.nfc(deco).toString === "Café")
  }

  test("normalize plan: pure projection — zero exchanges before the dump sort") {
    val p = plan("q_text_normalize")
    // only the final orderBy's range exchange may appear
    assert(p.linesIterator.count(_.contains("Exchange")) <= 1,
      s"normalize projection shuffles:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("SortMergeJoin"))
  }

  // ---- q_token_entropy ---------------------------------------------------------

  test("token entropy: closed forms — constant source 0, uniform source ln k") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_entropy").toString
    Seq(("flat", "a a a a a a"), ("unif", "a b c d e f"))
      .toDF("source", "text").write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q_token_entropy")(spark, dir)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("flat").getDouble(3) === 0.0)
    assert(math.abs(out("unif").getDouble(3) - math.log(6.0)) < 1e-4)
    assert(out("unif").getLong(1) === 6L && out("unif").getLong(2) === 6L)
  }

  test("entropy plan: two aggregate levels, no broadcast-back join of totals") {
    val p = plan("q_token_entropy")
    assert(!p.contains("Join"), s"entropy should be join-free (H = ln N − Σ n ln n / N):\n$p")
    // (source,term) agg + (source) agg + final sort = ≤ 3 exchanges
    assert(p.linesIterator.count(_.contains("Exchange")) <= 3,
      s"entropy plans extra shuffles:\n$p")
  }

  // ---- ROC AUC / PR curve / calibration algebra ----------------------------

  private def bins(rows: (Double, Long, Long)*) = {
    import spark.implicits._
    rows.toSeq.toDF("sb", "pos", "neg")
  }

  test("AUC identities: perfect separation 1.0, reversed 0.0, one tied bin 0.5") {
    val perfect = bins((0.1, 0L, 50L), (0.9, 50L, 0L))
    assert(Evaluation.rocAuc(perfect).head().getDouble(0) === 1.0)
    val reversed = bins((0.1, 50L, 0L), (0.9, 0L, 50L))
    assert(Evaluation.rocAuc(reversed).head().getDouble(0) === 0.0)
    // every score tied in one bin → mid-rank gives exactly 1/2
    val tied = bins((0.5, 30L, 70L))
    assert(Evaluation.rocAuc(tied).head().getDouble(0) === 0.5)
  }

  test("AUC hand-computed mid-rank value, and counts are the margins") {
    // P=4, N=4: 1·(0+1.5) + 2·(3+0.5) + 1·(4+0) = 12.5; 12.5/16 = 0.78125
    val m = Evaluation.rocAuc(
      bins((0.1, 1L, 3L), (0.2, 2L, 1L), (0.3, 1L, 0L))).head()
    assert(m.getDouble(0) === 0.78125)
    assert(m.getLong(1) === 4L && m.getLong(2) === 4L)
  }

  test("PR curve: thresholds fixed, recall non-increasing, t=0 is the base rate") {
    val out = Evaluation.prCurve(spark,
      bins((0.0, 5L, 15L), (0.03, 10L, 10L), (0.07, 5L, 5L))).collect()
    assert(out.length === 10)
    assert(out.map(_.getDouble(0)).toSeq === (0 until 10).map(_ / 100.0))
    // threshold 0 flags everything: precision = P/(P+N), recall = 1
    assert(out.head.getLong(1) === 50L)
    assert(out.head.getDouble(2) === 0.4 && out.head.getDouble(3) === 1.0)
    val recalls = out.map(_.getDouble(3)).toSeq
    assert(recalls === recalls.sorted.reverse, s"recall must fall as t rises: $recalls")
    // past the max score nothing is flagged → all-zero row, not NULL/NaN
    assert(out.last.getLong(1) === 0L && out.last.getDouble(2) === 0.0
      && out.last.getDouble(4) === 0.0)
  }

  test("calibration: bins partition the corpus and a perfectly calibrated bin has ece_part 0") {
    import spark.implicits._
    // bin 1 (p̂=0.1): 10 docs, 1 positive → perfectly calibrated;
    // bin 9 (p̂ clamps to 1.0): 4 docs, 2 positives → gap 0.5
    val scored = (Seq.fill(9)((0.02, 0L)) ++ Seq((0.02, 1L)) ++
      Seq((0.3, 1L), (0.3, 1L), (0.3, 0L), (0.3, 0L))).toDF("sb", "y")
    val out = Evaluation.calibration(scored).collect()
    assert(out.map(_.getLong(1)).sum === 14L)
    val byBin = out.map(r => r.getLong(0) -> r).toMap
    assert(byBin(1L).getDouble(3) === 0.1)   // pos_rate = avg_pred = 0.1
    assert(byBin(1L).getDouble(4) === 0.0)   // → zero ECE contribution
    assert(byBin(9L).getDouble(2) === 1.0)   // p̂ clamped to 1.0
    assert(byBin(9L).getDouble(3) === 0.5)
    // ece_part = (4/14)·|1.0 − 0.5| rounded at 1e-6
    assert(math.abs(byBin(9L).getDouble(4) - 4.0 / 14.0 * 0.5) < 1e-6)
  }

  test("Brier decomposition: identity, bounds, and base-rate algebra on real data") {
    val r = SparkEntry.queries("q_brier_decomposition")(spark, sf).head
    val (n, nb) = (r.getLong(0), r.getLong(1))
    val (base, brier, rel, res, unc) = (r.getDouble(2), r.getDouble(3),
      r.getDouble(4), r.getDouble(5), r.getDouble(6))
    assert(n > 0 && nb >= 1 && nb <= 10)
    assert(base > 0.0 && base < 1.0)
    // uncertainty is p(1−p) of the base rate (both r6-rounded)
    assert(math.abs(unc - base * (1 - base)) < 2e-6, s"unc algebra: $r")
    assert(rel >= 0.0 && res >= 0.0, s"nonneg components: $r")
    // resolution can never exceed the base-rate variance
    assert(res <= unc + 1e-6, s"res ≤ unc: $r")
    // Murphy identity on binned forecasts: raw brier = (rel − res + unc)
    // + mean within-bin forecast variance ≥ the binned identity (up to
    // micro-quantization), and the binning error is small at 10 bins
    val ident = rel - res + unc
    assert(brier >= ident - 1e-4, s"identity lower bound: $r")
    assert(brier <= ident + 0.05, s"binning error bounded: $r")
  }

  test("score-eval plans: binning is a partial aggregate, cross is broadcast-only") {
    val auc = plan("q_roc_auc")
    assert(!auc.contains("Join"), s"AUC must not join:\n$auc")
    val pr = plan("q_pr_curve")
    assert(pr.contains("BroadcastNestedLoopJoin"),
      s"threshold cross must broadcast the 10-row range:\n$pr")
    assert(!pr.contains("SortMergeJoin") && !pr.contains("CartesianProduct"),
      s"threshold cross must not shuffle the bins:\n$pr")
  }

  // ---- q_bootstrap_ci -----------------------------------------------------

  test("bootstrap CI brackets the point estimate with sane width") {
    val r = graft.SparkEntry.queries("q_bootstrap_ci")(spark, sf).head
    val (point, lo, hi) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
    assert(r.getLong(1) === 32L)
    assert(lo < hi, s"degenerate interval [$lo, $hi]")
    assert(lo <= point && point <= hi,
      s"point $point outside its own 90% CI [$lo, $hi]")
    // Poisson-bootstrap se of a mean ≈ sd/√n; the 5th–95th band must be
    // the same order of magnitude — not collapsed, not exploded
    val o = graft.io.Sources.table(spark, sf, "orders")
    val (sd, n) = {
      val s = o.agg(stddev(col("o_totalprice")), count(lit(1))).head
      (s.getDouble(0), s.getLong(1))
    }
    val se = sd / math.sqrt(n.toDouble)
    val width = hi - lo
    assert(width > se && width < 10 * se,
      s"CI width $width vs analytic se $se — resampling machinery is off")
  }

  test("poisson weights: empirical mean 1, w=0 mass at 1/e") {
    import spark.implicits._
    val o = graft.io.Sources.table(spark, sf, "orders")
      .select(col("o_orderkey"),
        explode(sequence(lit(0), lit(31))).as("r"))
    val u = (conv(substring(md5(concat(col("o_orderkey").cast("string"),
        lit("#"), col("r").cast("string")).cast("binary")), 1, 8), 16, 10)
      .cast("double") + lit(0.5)) / lit(4294967296.0)
    val w = when(u < 0.36787944117144233, 0L).when(u < 0.7357588823428847, 1L)
      .when(u < 0.9196986029286058, 2L).when(u < 0.9810118431238463, 3L)
      .when(u < 0.9963401531726563, 4L).when(u < 0.9994058151824183, 5L)
      .otherwise(6L)
    val s = o.select(w.as("w"))
      .agg(avg(col("w")), avg((col("w") === 0L).cast("double")), count(lit(1))).head
    val draws = s.getLong(2).toDouble
    // mean(w)=1, sd(w)=1 → se = 1/√draws; 5σ bands
    assert(math.abs(s.getDouble(0) - 1.0) < 5.0 / math.sqrt(draws),
      s"mean weight ${s.getDouble(0)} drifted from 1")
    assert(math.abs(s.getDouble(1) - math.exp(-1)) < 5.0 * 0.5 / math.sqrt(draws),
      s"P(w=0) ${s.getDouble(1)} drifted from 1/e")
  }

  test("bootstrap plan: one exploded scan, partial aggregation, broadcast CI") {
    val p = plan("q_bootstrap_ci")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"CI attach must broadcast:\n$p")
    // replicate means: map-side partial agg caps shuffle at 32 rows/task
    assert(p.contains("HashAggregate"), s"expected hash aggregation:\n$p")
  }

  // ---- q_gains_curve --------------------------------------------------------

  test("gains curve: a perfect ranker captures every positive in the top bin") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_gains").toString
    // 5 en docs made entirely of stopwords (stop-ratio 1.0 — the top score
    // bin) vs 15 non-en docs with none (ratio 0): a perfect ranking, so
    // every decile's threshold prefix already holds all 5 positives
    val docs = (1 to 5).map(i => (i.toLong, "the and of to in a", "en")) ++
      (6 to 20).map(i => (i.toLong, "qqq zzz rrr vvv kkk mmm", "xx"))
    docs.toDF("doc_id", "text", "lang").write.parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q_gains_curve")(spark, dir).collect()
    assert(rows.map(_.getLong(0)).toSeq === (1L to 10L))
    rows.foreach { r =>
      assert(r.getDouble(4) === 1.0, s"decile ${r.getLong(0)} gain != 1.0")
      assert(r.getLong(2) === 5L)
    }
    // top decile threshold = the 5-doc en bin → lift = (5/5)/(5/20) = 4
    assert(rows.head.getLong(1) === 5L && rows.head.getDouble(5) === 4.0)
    // the bottom decile covers everyone → lift exactly 1
    assert(rows.last.getLong(1) === 20L && rows.last.getDouble(5) === 1.0)
  }

  test("gains curve on real data: monotone gains, deciles cover their share") {
    val rows = SparkEntry.queries("q_gains_curve")(spark, sf).collect()
    assert(rows.length === 10)
    rows.foreach { r =>
      // threshold prefix must cover at least its decile's population share
      assert(r.getLong(1) * 10 >= r.getLong(0) * rows.last.getLong(1),
        s"decile ${r.getLong(0)} prefix too small")
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
    }
    rows.zip(rows.drop(1)).foreach { case (a, b) =>
      assert(b.getDouble(4) >= a.getDouble(4) - 1e-9, "gain must be monotone")
    }
    // the full-population decile is exact: gain 1, lift 1
    assert(rows.last.getDouble(4) === 1.0 && rows.last.getDouble(5) === 1.0)
  }

  test("gains plan: bounded bin frame, broadcast decile cross, no row sort") {
    val p = plan("q_gains_curve")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"decile resolution must stay broadcast-bounded:\n$p")
    assert(p.contains("HashAggregate"), s"expected the bin aggregate:\n$p")
  }

  // ---- q_js_divergence ------------------------------------------------------

  private def docsFixture(rows: Seq[(Long, String, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_eval_fixture").toString
    rows.toDF("doc_id", "source", "text")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("JSD: identical corpora diverge by exactly 0") {
    // src0 (even) and src1 (odd) carry the SAME text → pa = pb for every
    // term → every log term is ln(1) = 0 and the sum is exactly 0.0
    val rows = (1L to 5L).flatMap(i => Seq(
      (i, "src0", s"alpha beta gamma tok$i"),
      (i + 100, "src1", s"alpha beta gamma tok$i")))
    val r = SparkEntry.queries("q_js_divergence")(spark, docsFixture(rows))
      .collect().head
    assert(r.getLong(0) === r.getLong(1))
    assert(r.getLong(2) === r.getLong(3), "every type is shared")
    assert(r.getDouble(4) === 0.0 && r.getLong(5) === 1L, s"$r")
  }

  test("JSD: disjoint vocabularies saturate at ln 2") {
    val rows = (1L to 4L).flatMap(i => Seq(
      (i, "src2", s"even$i evencommon"),
      (i + 100, "src3", s"odd$i oddcommon")))
    val r = SparkEntry.queries("q_js_divergence")(spark, docsFixture(rows))
      .collect().head
    assert(r.getLong(3) === 0L, "no shared types")
    val ln2r4 = math.floor(math.log(2.0) * 1e4 + 0.500001) / 1e4
    assert(r.getDouble(4) === ln2r4, s"want ln2=$ln2r4: $r")
    assert(r.getLong(5) === 1L)
  }

  test("JSD on real data: strictly between 0 and ln 2, vocabulary overlaps") {
    val r = SparkEntry.queries("q_js_divergence")(spark, sf).collect().head
    assert(r.getDouble(4) > 0.0 && r.getDouble(4) < math.log(2.0), s"$r")
    assert(r.getLong(3) > 0L && r.getLong(3) <= r.getLong(2))
    assert(r.getLong(5) === 1L)
  }

  private def langFixture(rows: Seq[(Long, String, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_eval_lang_fixture").toString
    rows.toDF("doc_id", "lang", "text")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  // stop-ratio 1.0 (all stopwords) vs 0.0 — puts a doc decisively on
  // either side of the 0.15 operating point
  private val hi = "the a of and"
  private val lo = "xyz qqq zzz www"

  test("confusion metrics: hand-computed 2x2 with every metric checked") {
    // tp=3 (en, flagged), fn=1 (en, missed), tn=2, fp=1
    val rows = Seq(
      (1L, "en", hi), (2L, "en", hi), (3L, "en", hi), (4L, "en", lo),
      (5L, "de", lo), (6L, "fr", lo), (7L, "de", hi))
    val r = SparkEntry.queries("q_confusion_metrics")(spark, langFixture(rows))
      .head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      === ((3L, 1L, 1L, 2L)))
    def r6(x: Double) = math.floor(x * 1e6 + 0.500001) / 1e6
    assert(r.getDouble(4) === r6(5.0 / 7))
    assert(r.getDouble(5) === r6(3.0 / 4) && r.getDouble(6) === r6(3.0 / 4))
    assert(r.getDouble(7) === r6(2.0 / 3))
    assert(r.getDouble(8) === r6(3.0 / 4), "F1 = precision = recall here")
    val mcc = (3.0 * 2 - 1.0 * 1) / math.sqrt(4.0 * 4 * 3 * 3)
    assert(r.getDouble(11) === r6(mcc), s"$r")
  }

  test("confusion metrics: one-class input abstains NULL where undefined") {
    // every doc is a flagged positive: specificity and MCC have zero
    // denominators → NULL; precision = recall = 1
    val rows = (1L to 5L).map(i => (i, "en", hi))
    val r = SparkEntry.queries("q_confusion_metrics")(spark, langFixture(rows))
      .head()
    assert(r.getLong(0) === 5L && r.getLong(1) + r.getLong(2) + r.getLong(3) === 0L)
    assert(r.getDouble(5) === 1.0 && r.getDouble(6) === 1.0)
    assert(r.isNullAt(7) && r.isNullAt(11), s"$r")
    assert(r.getDouble(10) === 0.5, "balanced accuracy treats missing side as 0")
  }

  test("confusion metrics on real data: counts partition the corpus, MCC in [-1,1]") {
    val r = SparkEntry.queries("q_confusion_metrics")(spark, sf).head()
    val n = graft.io.Sources.table(spark, sf, "documents").count()
    assert(r.getLong(0) + r.getLong(1) + r.getLong(2) + r.getLong(3) === n)
    for (i <- 4 to 10 if !r.isNullAt(i))
      assert(r.getDouble(i) >= 0.0 && r.getDouble(i) <= 1.0, s"col $i: $r")
    if (!r.isNullAt(11)) assert(math.abs(r.getDouble(11)) <= 1.0)
  }

  test("ROUGE-2: closed forms — prefix candidate, repeated bigrams, 1-token doc") {
    val rows = Seq(
      (1L, "en", "a b c d e"), // cand "a b c": p = 1, r = 2/4
      (2L, "en", "x y x y x"), // multiset: ref {xy:2, yx:2}, cand {xy,yx} → ov 2
      (3L, "en", "hello"))     // no bigrams on either side → NULL metrics
    val out = SparkEntry.queries("q_rouge_overlap")(spark, langFixture(rows))
      .collect().map(r => r.getLong(0) -> r).toMap
    def r6(x: Double) = math.floor(x * 1e6 + 0.500001) / 1e6
    val d1 = out(1L)
    assert((d1.getLong(1), d1.getLong(2), d1.getLong(3)) === ((4L, 2L, 2L)))
    assert(d1.getDouble(4) === 1.0 && d1.getDouble(5) === 0.5)
    assert(d1.getDouble(6) === r6(2.0 * 1.0 * 0.5 / 1.5))
    val d2 = out(2L)
    assert((d2.getLong(1), d2.getLong(2), d2.getLong(3)) === ((4L, 2L, 2L)),
      s"repeated bigrams must count as a multiset: $d2")
    val d3 = out(3L)
    assert(d3.getLong(3) === 0L && d3.isNullAt(4) && d3.isNullAt(6), s"$d3")
  }

  test("ROUGE-2 on real data: prefix candidates give precision exactly 1") {
    // the planted candidate is a PREFIX of the reference, so its bigram
    // multiset embeds in the reference's — precision must be 1.0 wherever
    // defined, recall = n_cand/n_ref, and overlap = n_cand
    val rows = SparkEntry.queries("q_rouge_overlap")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) === r.getLong(2), s"overlap must equal n_cand: $r")
      if (!r.isNullAt(4)) assert(r.getDouble(4) === 1.0, s"$r")
      if (!r.isNullAt(5)) assert(r.getDouble(5) <= 1.0 + 1e-9)
    }
  }

  test("confusion/rouge plans: partial aggregation before every shuffle") {
    for (q <- Seq("q_confusion_metrics", "q_rouge_overlap")) {
      val p = plan(q)
      assert(p.lastIndexOf("HashAggregate") > p.lastIndexOf("Exchange hashpartitioning"),
        s"$q: gram/bin rows must partial-aggregate before the shuffle:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
  }

  // ---- q_naive_bayes --------------------------------------------------------

  test("Naive Bayes: a perfectly separable feature classifies the test split exactly") {
    import spark.implicits._
    // class determined by hour-quarter alone (hour 3 → f1=0, hour 15 →
    // f1=2), k constant: every test row must land on the diagonal
    val midnight = 86400L * 19700L // 2023-12-09 00:00 UTC
    val evs = (0 until 400).map { i =>
      val early = i % 2 == 0
      (i.toLong, 1L, if (early) "early" else "late", 1.0, """{"k": 10}""",
        (midnight + (if (early) 3L else 15L) * 3600L) * 1_000_000_000L)
    }.toDF("event_id", "user_id", "event_type", "value", "props", "ts")
    val dir = java.nio.file.Files.createTempDirectory("graft_nb").toString
    evs.write.parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("q_naive_bayes")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getString(0) === r.getString(1),
        s"separable feature must classify exactly: $r")
      assert(r.getDouble(3) === 1.0, s"accuracy must be 1: $r")
    }
  }

  test("Naive Bayes on real data: confusion covers the md5 test split exactly") {
    val rows = SparkEntry.queries("q_naive_bayes")(spark, sf).collect()
    val testN = graft.io.Sources.table(spark, sf, "events")
      .where(md5(col("event_id").cast("string").cast("binary")) >= lit("cccccccc"))
      .count()
    assert(rows.map(_.getLong(2)).sum === testN,
      "every test row lands in exactly one confusion cell")
    val diag = rows.filter(r => r.getString(0) == r.getString(1))
      .map(_.getLong(2)).sum
    def r6(x: Double) = math.floor(x * 1e6 + 0.500001) / 1e6
    val acc = r6(diag.toDouble / testN)
    rows.foreach(r => assert(r.getDouble(3) === acc, s"accuracy column: $r"))
    assert(rows.length <= 25, "at most |classes|² cells")
  }

  test("ECE: a perfectly calibrated planted score gives ECE 0; miscalibration shows") {
    // ECE/MCE/Brier internal consistency on real data: constants across
    // rows, ECE ≤ MCE, Brier in [0, 1], bin census covers the corpus
    val rows = SparkEntry.queries("q_ece")(spark, sf).collect()
    assert(rows.nonEmpty)
    val total = graft.io.Sources.table(spark, sf, "documents").count()
    assert(rows.map(_.getLong(1)).sum === total)
    val (ece, mce, brier) =
      (rows.head.getDouble(5), rows.head.getDouble(6), rows.head.getDouble(7))
    rows.foreach { r =>
      assert(r.getDouble(5) === ece && r.getDouble(6) === mce &&
        r.getDouble(7) === brier, "summary scalars are global")
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
    }
    assert(ece <= mce + 1e-9, "ECE is an n-weighted mean of the gaps MCE maxes")
    assert(brier >= 0.0 && brier <= 1.0)
    // driver replay of ECE from the bin rows
    val replay = rows.map(r => math.abs(r.getDouble(3) - r.getDouble(4)) *
      r.getLong(1)).sum / total
    def r6d(x: Double) = math.floor(x * 1e6 + 0.500001) / 1e6
    assert(math.abs(ece - r6d(replay)) < 5e-6, s"ECE replay: $ece vs $replay")
  }

  test("cv folds: 5 folds cover the corpus, summary matches a driver replay") {
    val rows = SparkEntry.queries("q_cv_folds")(spark, sf).collect()
      .sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq === (0L to 4L))
    val total = graft.io.Sources.table(spark, sf, "documents").count()
    assert(rows.map(_.getLong(1)).sum === total, "folds partition the corpus")
    def r6d(x: Double) = math.floor(x * 1e6 + 0.500001) / 1e6
    val accs = rows.map(r => r.getLong(2).toDouble / r.getLong(1))
    val mean = accs.sum / 5.0
    val sd = math.sqrt((accs.map(a => a * a).sum - accs.sum * accs.sum / 5.0) / 4.0)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(4) - r6d(mean)) <= 2e-6, s"mean: $r")
      assert(math.abs(r.getDouble(5) - r6d(sd)) <= 2e-6, s"sd: $r")
    }
  }

  test("isotonic calibration: monotone output that pools adjacent violators exactly") {
    val rows = SparkEntry.queries("q_isotonic_calibration")(spark, sf)
      .collect().sortBy(_.getDouble(0))
    assert(rows.nonEmpty)
    val cal = rows.map(_.getDouble(4)).toSeq
    assert(cal.sliding(2).forall(p => p(0) <= p(1)),
      "isotonic output must be non-decreasing in score")
    cal.foreach(c => assert(c >= 0.0 && c <= 1.0 + 1e-9))
    // the fit preserves total mass: Σ n·fitted = Σ pos (a PAV invariant,
    // here within the r6 rounding of each bin)
    val mass = rows.map(r => r.getLong(1) * r.getDouble(4)).sum
    val pos = rows.map(_.getLong(2)).sum.toDouble
    assert(math.abs(mass - pos) < 0.01 * rows.length + 1e-6,
      s"mass conservation: $mass vs $pos")
    // replay the max-min identity on the driver from the bin counts
    val ns = rows.map(_.getLong(1)); val ps = rows.map(_.getLong(2))
    def mean(j: Int, k: Int): Double =
      (j to k).map(ps(_)).sum.toDouble / (j to k).map(ns(_)).sum.toDouble
    def r6d(x: Double) = math.floor(x * 1e6 + 0.500001) / 1e6
    rows.indices.foreach { i =>
      val want = (0 to i).map(j =>
        (i until rows.length).map(k => mean(j, k)).min).max
      assert(math.abs(rows(i).getDouble(4) - r6d(want)) < 2e-6,
        s"fitted at bin $i")
    }
  }

  test("logistic GD: a separable planted feature reaches accuracy 1 in 3 iterations") {
    import spark.implicits._
    // urgent ⇔ high-value exactly: x1 perfectly predicts y; the quantized
    // 3-iteration GD drives w1 ≈ 2.1 and classifies every row (driver
    // replay of the identical recurrence: w = (−0.597, 2.106, −0.326))
    def day(x: Int) = java.time.LocalDate.of(1995, 1, 1).plusDays(x).toString
    val rows = (0 until 200).map { i =>
      val hot = i % 2 == 0
      (i.toLong, if (hot) "1-URGENT" else "5-LOW",
        if (hot) 300000.0 else 100000.0, day(i % 7))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_lgd").toString
    rows.toDF("o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate")
      .write.parquet(s"$dir/orders.parquet")
    val r = SparkEntry.queries("q_logistic_gd")(spark, dir).head()
    assert(r.getLong(0) === 200L && r.getLong(4) === 200L)
    assert(r.getDouble(5) === 1.0, s"separable data must classify: $r")
    assert(r.getDouble(2) > 2.0, s"the predictive weight must dominate: $r")
    assert(math.abs(r.getDouble(1) + 0.5968) < 0.01, s"replayed w0: $r")
  }

  test("logistic GD on real data: logloss below the w=0 baseline, counts consistent") {
    val r = SparkEntry.queries("q_logistic_gd")(spark, sf).head()
    val n = r.getLong(0)
    assert(r.getLong(4) <= n)
    assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0)
    // at w = 0 every row contributes exactly ln 2 micro-units; training
    // must not end above the untrained loss
    assert(r.getLong(6) < n * 693148L,
      s"3 GD steps must beat the ln-2 baseline: $r")
  }

  test("Naive Bayes plan: the fitted model scores as a join-free projection") {
    val p = plan("q_naive_bayes")
    assert(!p.contains("Join"),
      s"scoring must be a when-chain projection, not a join:\n$p")
    assert(p.lastIndexOf("HashAggregate") > p.lastIndexOf("Exchange hashpartitioning"),
      s"confusion cells must partial-aggregate before the shuffle:\n$p")
  }
}
