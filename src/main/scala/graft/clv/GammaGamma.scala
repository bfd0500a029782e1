/** Gamma-Gamma spend model (Fader–Hardie 2013, "The Gamma-Gamma Model of
  * Monetary Value" — public math, SURVEY Appendix A).
  *
  * Replicates the reference's `GammaGammaFitter(penalizer_coef=0.1)` fit and
  * `conditional_expected_average_profit` (reference:
  * dags/clv_models.py:65–66,71).
  *
  * Scale design: like BG/NBD the fit input is one row per customer, but
  * monetary is continuous so exact triple-compression doesn't collapse as
  * hard. We still compress on distinct (frequency, monetary) pairs — exact,
  * and in practice 2-dp prices collapse heavily — and cap what reaches the
  * driver; beyond the cap [[GammaGamma.fitDistributed]] runs the same
  * objective as one Spark job per Nelder–Mead evaluation.
  */
package graft.clv

import org.apache.commons.math3.special.Gamma.logGamma
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

final case class GammaGammaParams(p: Double, q: Double, v: Double)

object GammaGamma {

  /** weight = number of customers sharing the (frequency, monetary) pair. */
  final case class Obs(x: Double, m: Double, w: Double)

  /** Σ w·ll and Σ w over `obs` slice [from, until) at the given log-params:
    * the objective's one per-observation log-likelihood, shared by the
    * driver's parallel chunks and [[fitDistributed]]'s partitions. The
    * logGamma terms depend only on x (given params), cached per distinct
    * frequency (see BetaGeo's kernel).
    */
  private def llKernel(logParams: Array[Double]): (Array[Obs], Int, Int) => (Double, Double) = {
    val p = math.exp(logParams(0)); val q = math.exp(logParams(1))
    val v = math.exp(logParams(2))
    val lgq = logGamma(q)
    val qlnv = q * math.log(v)
    val xCache = new java.util.concurrent.ConcurrentHashMap[Double, java.lang.Double]()
    (obs, from, until) => {
      var llSum = 0.0
      var wSum = 0.0
      var i = from
      while (i < until) {
        val o = obs(i)
        val px = p * o.x
        val hit = xCache.get(o.x)
        val xTerm = if (hit != null) hit.doubleValue() else {
          val t = logGamma(px + q) - logGamma(px) - lgq + px * math.log(o.x)
          xCache.put(o.x, t)
          t
        }
        val ll = xTerm + qlnv + (px - 1) * math.log(o.m) -
          (px + q) * math.log(v + o.m * o.x)
        llSum += o.w * ll
        wSum += o.w
        i += 1
      }
      (llSum, wSum)
    }
  }

  /** Weighted penalized mean NLL, log-params in (lifetimes' objective);
    * chunk-ordered parallel sum — deterministic, see BetaGeo.
    */
  def negLogLikelihood(logParams: Array[Double], obs: Array[Obs], penalizer: Double): Double =
    Optim.penalizedMean(logParams, Optim.chunkedParallelSum(obs)(llKernel(logParams)), penalizer)

  def fit(obs: Array[Obs], penalizer: Double = 0.1): GammaGammaParams = {
    require(obs.nonEmpty, "Gamma-Gamma fit needs at least one observation")
    val x0 = Array.fill(3)(0.1)
    val f0 = negLogLikelihood(x0, obs, penalizer)
    require(java.lang.Double.isFinite(f0),
      "Gamma-Gamma fit: non-finite objective at init — check that frequency > 0 " +
        "and monetary > 0 on the fit slice")
    val sol = NelderMead.minimize("Gamma-Gamma", negLogLikelihood(_, obs, penalizer), x0)
    GammaGammaParams(math.exp(sol(0)), math.exp(sol(1)), math.exp(sol(2)))
  }

  /** Fit from a features frame (frequency > 0, monetary > 0 slice). Like
    * BetaGeo.fitFeatures: compress on distinct (frequency, monetary) pairs,
    * collect if bounded, else run the objective as Spark jobs.
    */
  def fitFeatures(features: DataFrame, fCol: String, mCol: String,
      penalizer: Double = 0.1, maxDriverRows: Long = Optim.MaxDriverRows): GammaGammaParams = {
    val compressed = features
      .groupBy(col(fCol).cast("double").as("x"), col(mCol).cast("double").as("m"))
      .agg(count(lit(1)).cast("double").as("w"))
    // bounded single-job routing + deterministic sorted collect (see BetaGeo)
    val capped = compressed.sort("x", "m").limit(maxDriverRows.toInt + 1).collect()
    if (capped.length <= maxDriverRows)
      fit(capped.map(r => Obs(r.getDouble(0), r.getDouble(1), r.getDouble(2))), penalizer)
    else fitDistributed(compressed, penalizer)
  }

  /** Cluster-side objective: one job per Nelder–Mead evaluation over the
    * cached compressed pairs (see BetaGeo.fitDistributed).
    */
  def fitDistributed(compressed: DataFrame, penalizer: Double = 0.1): GammaGammaParams = {
    val rdd = compressed.select(col("x"), col("m"), col("w"))
      .rdd.map(r => Obs(r.getDouble(0), r.getDouble(1), r.getDouble(2)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      def objective(logParams: Array[Double]): Double =
        Optim.penalizedMean(logParams, Optim.partitionSum(rdd)(llKernel(logParams)), penalizer)
      val x0 = Array.fill(3)(0.1)
      require(java.lang.Double.isFinite(objective(x0)),
        "Gamma-Gamma fitDistributed: non-finite objective at init")
      val sol = NelderMead.minimize("Gamma-Gamma", objective, x0)
      GammaGammaParams(math.exp(sol(0)), math.exp(sol(1)), math.exp(sol(2)))
    } finally rdd.unpersist()
  }

  /** E[M | m, x] = p(v + m·x) / (p·x + q − 1) — closed form, so the scoring
    * path is plain column arithmetic (no UDF; Fader–Hardie 2013 eq. 5).
    */
  def expectedAvgProfit(g: GammaGammaParams, x: Double, m: Double): Double =
    g.p * (g.v + m * x) / (g.p * x + g.q - 1)
}
