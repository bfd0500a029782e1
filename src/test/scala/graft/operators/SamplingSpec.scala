package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SamplingSpec extends SparkSpec {

  test("hash split: stable under data growth, fractions approximately honored") {
    import spark.implicits._
    val small = (0L until 500L).toDF("id")
    val big = (0L until 2000L).toDF("id")
    def assign(df: org.apache.spark.sql.DataFrame) =
      Sampling.hashSplit(df, col("id")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    val a = assign(small)
    val b = assign(big)
    // content-addressed: every row keeps its split when the corpus grows
    a.foreach { case (id, s) => assert(b(id) == s, s"row $id moved splits") }
    // fractions within sampling noise (binomial sd ≈ 0.9% at n=2000)
    val counts = b.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(math.abs(counts("train") / 2000.0 - 0.8) < 0.05, counts.toString)
    assert(math.abs(counts("val") / 2000.0 - 0.1) < 0.04, counts.toString)
    assert(math.abs(counts("test") / 2000.0 - 0.1) < 0.04, counts.toString)
  }

  test("weighted sample keeps per-group fractions and drops unlisted groups") {
    import spark.implicits._
    val df = (0L until 3000L).map(i => (i, s"g${i % 3}")).toDF("id", "g")
    val kept = Sampling.weightedSample(df, col("id"), col("g"),
        Seq("g0" -> 1.0, "g1" -> 0.5))
      .groupBy("g").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!kept.contains("g2"), "unlisted group must be dropped")
    assert(kept("g0") >= 999, s"g0 should keep ~all 1000, got ${kept.get("g0")}")
    assert(math.abs(kept("g1") - 500) < 80, s"g1 should keep ~half, got ${kept.get("g1")}")
    // determinism: same rows survive on a rerun
    val again = Sampling.weightedSample(df, col("id"), col("g"),
        Seq("g0" -> 1.0, "g1" -> 0.5)).collect().map(_.getLong(0)).toSet
    val first = Sampling.weightedSample(df, col("id"), col("g"),
        Seq("g0" -> 1.0, "g1" -> 0.5)).collect().map(_.getLong(0)).toSet
    assert(again == first)
  }

  test("token-budget mix: two-level bucket form ≡ naive single-window form") {
    import spark.implicits._
    // adversarial lengths: doc length varies 1..60 tokens so budget cuts
    // land mid-bucket; 3 budgeted groups + 1 unbudgeted
    val df = (0L until 2000L).map { i =>
      (i, s"g${i % 4}", ("w " * (1 + (i * 37 % 60)).toInt).trim)
    }.toDF("id", "g", "text")
    val budgets = Seq("g0" -> 3000L, "g1" -> 100L, "g2" -> 0L)
    val tok = size(split(trim(col("text")), "\\s+")).cast("long")
    def rows(d: org.apache.spark.sql.DataFrame) = d
      .select("id", "g", "cum_tokens_before").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val fast = rows(Sampling.tokenBudgetMix(df, col("id"), col("g"), tok, budgets))
    val naive = rows(Sampling.tokenBudgetMixNaive(df, col("id"), col("g"), tok, budgets))
    assert(fast == naive,
      s"forms diverge: ${(fast diff naive) ++ (naive diff fast)}")
    // a shorter bucket prefix (coarser buckets, different grouping) must
    // not change the result either — the cut is a property of the hash
    // order, not of the bucketing
    val coarse = rows(Sampling.tokenBudgetMix(df, col("id"), col("g"), tok,
      budgets, bucketLen = 1))
    assert(coarse == naive)
  }

  test("token-budget mix: budget semantics — overshoot ≤ 1 doc, 0 empties, unlisted drops") {
    import spark.implicits._
    val df = (0L until 400L).map(i => (i, "g0", ("w " * 10).trim))
      .toDF("id", "g", "text") // 10 tokens per doc, 4000 total
    val tok = size(split(trim(col("text")), "\\s+")).cast("long")
    val out = Sampling.tokenBudgetMix(df, col("id"), col("g"), tok,
      Seq("g0" -> 95L)).collect()
    // 95-token budget, 10-token docs: cum_before < 95 selects 10 docs
    // (the 10th starts at 90) — met-or-overshot-by-one convention
    assert(out.length == 10, s"expected 10 docs, got ${out.length}")
    val zero = Sampling.tokenBudgetMix(df, col("id"), col("g"), tok,
      Seq("g0" -> 0L)).count()
    assert(zero == 0L, "zero budget must select nothing")
    val unlisted = Sampling.tokenBudgetMix(df, col("id"), col("g"), tok,
      Seq("gX" -> 1000L)).count()
    assert(unlisted == 0L, "unbudgeted groups must be dropped")
    // stability under growth: the selection for a budget is a prefix of
    // the hash order, so adding MORE docs can change it; but re-running on
    // identical data is bit-stable
    val a = Sampling.tokenBudgetMix(df, col("id"), col("g"), tok,
      Seq("g0" -> 500L)).collect().map(_.getLong(0)).toSet
    val b = Sampling.tokenBudgetMix(df, col("id"), col("g"), tok,
      Seq("g0" -> 500L)).collect().map(_.getLong(0)).toSet
    assert(a == b)
  }

  test("hash split boundaries quantize cumulative fractions to hex prefixes") {
    assert(Sampling.hexBoundary(0.8) == "cccccccc")
    assert(Sampling.hexBoundary(0.9) == "e6666666")
    assert(Sampling.hexBoundary(1.0) == "ffffffff")
    intercept[IllegalArgumentException](
      Sampling.splitColumn(col("x"), Seq("a" -> 0.5, "b" -> 0.4)))
  }

  // ---- q_weighted_reservoir -------------------------------------------------

  test("weighted reservoir: replay-deterministic, rank follows the ES key, heavy doc wins") {
    import spark.implicits._
    // 60 light docs (w = 10) + one overwhelming doc (w = 10⁶): its key
    // u^(1/w) ≈ 1 regardless of the md5 draw, so it MUST be selected —
    // the inclusion-probability contract of Efraimidis–Spirakis
    val rows = (0L until 60L).map(i => (i, "x", 10L)) :+ (999L, "y", 1000000L)
    val dir = java.nio.file.Files.createTempDirectory("graft_wrs").toString
    rows.toDF("doc_id", "text", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val a = graft.SparkEntry.queries("q_weighted_reservoir")(spark, dir).collect()
    val b = graft.SparkEntry.queries("q_weighted_reservoir")(spark, dir).collect()
    assert(a.map(_.toString).toSeq === b.map(_.toString).toSeq,
      "content-addressed keys must replay identically")
    assert(a.length === 20)
    assert(a.exists(_.getLong(1) == 999L), "the heavy doc must be sampled")
    val keys = a.sortBy(_.getLong(0)).map(_.getDouble(3)).toSeq
    assert(keys.sliding(2).forall(p => p(0) >= p(1)), "rank = key desc")
  }

  test("weighted reservoir plan: distributed TakeOrdered heap, no global sort") {
    val p = graft.SparkEntry.queries("q_weighted_reservoir")(
      spark, graft.TestData.Sf0001).queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must be a distributed heap:\n$p")
    assert(!p.contains("Join"), s"sampling is a projection:\n$p")
  }
}
