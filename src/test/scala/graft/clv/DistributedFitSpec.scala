package graft.clv

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The cluster-side objective must land on the same optimum as the driver
  * loop — it is the same kernel over the same compressed observations, just
  * run once per partition on executors.
  */
class DistributedFitSpec extends SparkSpec {

  test("fitDistributed matches the driver-side fit on real features") {
    val feats = graft.operators.Rfm.customerFeatures(
      graft.io.Sources.table(spark, graft.TestData.Sf0001, "orders"),
      to_date(lit("2001-08-02")), "o_custkey", "o_orderdate", "o_totalprice")
      .filter(col("frequency") > 0 && col("monetary_value") > 0)
      .cache()
    val local = BetaGeo.fitFeatures(feats, "frequency", "recency", "t")
    val compressed = feats
      .groupBy(col("frequency").cast("double").as("x"),
        col("recency").cast("double").as("tx"), col("t").cast("double").as("big"))
      .agg(count(lit(1)).cast("double").as("w"))
    val dist = BetaGeo.fitDistributed(compressed)
    assert(math.abs(dist.r - local.r) < 1e-4 * math.max(1.0, local.r), s"$dist vs $local")
    assert(math.abs(dist.alpha - local.alpha) < 1e-4 * math.max(1.0, local.alpha))
    assert(math.abs(dist.a - local.a) < 1e-4 * math.max(1.0, local.a))
    assert(math.abs(dist.b - local.b) < 1e-4 * math.max(1.0, local.b))
    // Gamma-Gamma: driver fitFeatures against fitDistributed on (x, m, w)
    val ggLocal = GammaGamma.fitFeatures(feats, "frequency", "monetary_value")
    val ggDist = GammaGamma.fitDistributed(feats
      .groupBy(col("frequency").cast("double").as("x"),
        col("monetary_value").cast("double").as("m"))
      .agg(count(lit(1)).cast("double").as("w")))
    assert(math.abs(ggDist.p - ggLocal.p) < 1e-4 * math.max(1.0, ggLocal.p),
      s"$ggDist vs $ggLocal")
    assert(math.abs(ggDist.q - ggLocal.q) < 1e-4 * math.max(1.0, ggLocal.q))
    assert(math.abs(ggDist.v - ggLocal.v) < 1e-4 * math.max(1.0, ggLocal.v))
    feats.unpersist()
  }

  test("fit collect size is bounded by the day grid, not the customer count") {
    // the driver-side collect pulls DISTINCT (frequency, recency, T)
    // triples: all three are whole day/purchase counts, so cardinality is
    // bounded by the day-grid volume and CANNOT grow with customers once
    // the grid saturates — the property that keeps the collect safe at
    // 100 TB (r3 VERDICT #7). Demonstrated on a dense grid: 50k customers
    // over a (5 × 30 × 60) grid compress to ≤ 9000 triples no matter how
    // many more customers arrive.
    val n = 50000L
    val feats = spark.range(n).select(
      (col("id") % 5 + 1).cast("double").as("frequency"),
      (col("id") % 30).cast("double").as("recency"),
      (col("id") % 60 + 30).cast("double").as("t"))
    val triples = feats.distinct().count()
    assert(triples <= 5L * 30 * 60,
      s"$triples triples exceeds the grid volume")
    assert(triples * 50 <= n,
      s"compression too weak: $triples triples for $n customers")
    // and the driver-side fit on the compressed triples still runs (the
    // routing in fitFeatures sees 300 rows, not 50k)
    val params = BetaGeo.fitFeatures(feats
      .withColumn("recency", least(col("recency"), col("t"))),
      "frequency", "recency", "t")
    assert(params.r > 0 && params.alpha > 0)
  }

  test("driver-cap routing: tiny cap forces the distributed path, same result") {
    val feats = graft.operators.Rfm.customerFeatures(
      graft.io.Sources.table(spark, graft.TestData.Sf0001, "orders"),
      to_date(lit("2001-08-02")), "o_custkey", "o_orderdate", "o_totalprice")
      .filter(col("frequency") > 0 && col("monetary_value") > 0)
    val viaCap = BetaGeo.fitFeatures(feats, "frequency", "recency", "t", maxDriverRows = 1)
    val direct = BetaGeo.fitFeatures(feats, "frequency", "recency", "t")
    assert(math.abs(viaCap.r - direct.r) < 1e-4 * math.max(1.0, direct.r))
  }

  test("fitModel honours its driver cap per model: both fits go distributed") {
    val returning = ClvModel.prepare(graft.operators.Rfm.customerFeatures(
      graft.io.Sources.table(spark, graft.TestData.Sf0001, "orders"),
      to_date(lit("2001-08-02")), "o_custkey", "o_orderdate", "o_totalprice"))
      .filter(col("frequency") > 0 && col("monetary") > 0)
      .cache()
    try {
      val (direct, nDirect) = jobsIn(ClvModel.fitModel(returning))
      val sc = spark.sparkContext
      sc.setJobDescription("caller")
      val ((capped, after), cappedJobs) =
        try jobDescriptionsIn((ClvModel.fitModel(returning, maxDriverRows = 1),
          sc.getLocalProperty("spark.job.description")))
        finally sc.setJobDescription(null)
      val nCapped = cappedJobs.size
      // every job of the capped fit names the fit, also on the Gamma-Gamma
      // pool thread, and the caller's own description survives it
      val described = cappedJobs.groupBy(identity).view.mapValues(_.size).toMap
      assert(cappedJobs.forall(_.exists(_.startsWith("clv.fit "))), described)
      assert(Set("clv.fit sufficient statistics", "clv.fit BG/NBD", "clv.fit Gamma-Gamma")
        .subsetOf(cappedJobs.flatten.toSet), described)
      assert(after == "caller")
      // each model alone on its distributed path: one job
      // per Nelder-Mead objective evaluation, hundreds per fit
      val (_, nBg) = jobsIn(BetaGeo.fitFeatures(returning, "frequency", "recency", "t",
        maxDriverRows = 1))
      val (_, nGg) = jobsIn(GammaGamma.fitFeatures(returning, "frequency", "monetary",
        maxDriverRows = 1))
      val counts = s"jobs: direct $nDirect, capped $nCapped, BG/NBD alone $nBg, " +
        s"Gamma-Gamma alone $nGg"
      assert(nDirect <= 10 && nBg >= 100 && nGg >= 100, counts)
      // the capped fitModel ran both distributed fits: each model's share
      // shows up on top of the other's (run to run, a fit's job count moves
      // by a few Nelder-Mead steps, never by half)
      assert(nCapped - nBg >= nGg / 2 && nCapped - nGg >= nBg / 2, counts)
      def close(a: Double, b: Double): Boolean = math.abs(a - b) < 1e-4 * math.max(1.0, b)
      val pairs = Seq(capped.bg.r -> direct.bg.r, capped.bg.alpha -> direct.bg.alpha,
        capped.bg.a -> direct.bg.a, capped.bg.b -> direct.bg.b,
        capped.gg.p -> direct.gg.p, capped.gg.q -> direct.gg.q, capped.gg.v -> direct.gg.v)
      assert(pairs.forall { case (a, b) => close(a, b) }, s"$capped vs $direct")
    } finally returning.unpersist()
  }
}
