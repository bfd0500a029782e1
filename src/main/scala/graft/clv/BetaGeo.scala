/** BG/NBD customer-lifetime model (Fader–Hardie–Lee 2005, "Counting Your
  * Customers the Easy Way" — public math, SURVEY Appendix A).
  *
  * Replicates the reference's `BetaGeoFitter(penalizer_coef=0.1)` fit and
  * `bgf.predict(t, f, r, T)` (reference: dags/clv_models.py:62–63,70,76):
  * penalized maximum likelihood over log-params, objective = mean NLL over
  * customers + penalizer · Σ params².
  *
  * Scale design (100 TB): the fit input is one row per customer with
  * (frequency, recency, T) all *integer day counts* — so the observation
  * space collapses onto distinct (x, t_x, T) triples. We aggregate once
  * (`groupBy(f, r, t).count()`, a single shuffle over the already-aggregated
  * features table) and collect only the weighted triples: bounded by the
  * day-grid cardinality, not the customer count, so the driver-side
  * optimizer loop runs on a few thousand rows no matter how many customers
  * exist. No per-iteration Spark job, no driver-side scan of raw data.
  */
package graft.clv

import org.apache.commons.math3.special.Gamma.logGamma
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fitted BG/NBD parameters (all > 0 by construction — optimized in
  * log-space exactly like lifetimes).
  */
final case class BetaGeoParams(r: Double, alpha: Double, a: Double, b: Double)

object BetaGeo {

  /** One compressed observation: weight = number of customers sharing the
    * (frequency, recency, T) triple.
    */
  final case class Obs(x: Double, tx: Double, big: Double, w: Double)

  /** Σ w·ll and Σ w over obs[from, until) at the given log-params — the
    * objective's one likelihood, run per driver chunk and per partition
    * ([[fitDistributed]]). logGamma terms depend only on x, cached per
    * distinct x (~10× on real feature tables); the cache is concurrent and
    * its values pure functions of (x, params), so racing puts are idempotent.
    */
  private def llKernel(logParams: Array[Double]): (Array[Obs], Int, Int) => (Double, Double) = {
    val r = math.exp(logParams(0)); val alpha = math.exp(logParams(1))
    val a = math.exp(logParams(2)); val b = math.exp(logParams(3))
    val xCache = new java.util.concurrent.ConcurrentHashMap[Double, (Double, Double)]()
    (obs, from, until) => {
      var llSum = 0.0
      var wSum = 0.0
      var i = from
      while (i < until) {
        val o = obs(i)
        val x = o.x
        var terms = xCache.get(x)
        if (terms == null) {
          terms = (logGamma(r + x) - logGamma(r) + r * math.log(alpha),
            logGamma(a + b) + logGamma(b + x) - logGamma(b) - logGamma(a + b + x))
          xCache.put(x, terms)
        }
        val (a1, a2) = terms
        val a3 = -(r + x) * math.log(alpha + o.big)
        val ll =
          if (x > 0) {
            val a4 = math.log(a) - math.log(b + x - 1) - (r + x) * math.log(alpha + o.tx)
            val m = math.max(a3, a4)
            a1 + a2 + m + math.log(math.exp(a3 - m) + math.exp(a4 - m))
          } else a1 + a2 + a3
        llSum += o.w * ll
        wSum += o.w
        i += 1
      }
      (llSum, wSum)
    }
  }

  /** Weighted penalized mean NLL — the exact objective lifetimes minimizes
    * (log-params in, penalizer on the exponentiated params). Fixed-boundary
    * chunks summed in chunk order: parallel across cores yet
    * bit-deterministic (FP addition order never varies between runs).
    */
  def negLogLikelihood(logParams: Array[Double], obs: Array[Obs], penalizer: Double): Double =
    Optim.penalizedMean(logParams, Optim.chunkedParallelSum(obs)(llKernel(logParams)), penalizer)

  /** Fit on pre-collected weighted observations (driver-side NM loop). */
  def fit(obs: Array[Obs], penalizer: Double = 0.1): BetaGeoParams = {
    require(obs.nonEmpty, "BG/NBD fit needs at least one observation")
    val x0 = Array.fill(4)(0.1)
    val f0 = negLogLikelihood(x0, obs, penalizer)
    // fail fast instead of silently returning the unmoved initial simplex:
    // a NaN objective means corrupt inputs (e.g. negative T from a run date
    // earlier than the data, recency > T)
    require(java.lang.Double.isFinite(f0),
      "BG/NBD fit: non-finite objective at init — check that T >= recency >= 0 " +
        "(is the asOfDate earlier than the data?)")
    val sol = NelderMead.minimize("BG/NBD", negLogLikelihood(_, obs, penalizer), x0)
    BetaGeoParams(math.exp(sol(0)), math.exp(sol(1)), math.exp(sol(2)), math.exp(sol(3)))
  }

  /** Fit from a features frame: one aggregation shuffle compresses customers
    * onto distinct integer (frequency, recency, T) triples; only those
    * weighted triples reach the driver. If the compressed cardinality still
    * exceeds `maxDriverRows` (degenerate day-grids at extreme scale), the
    * optimizer switches to the cluster-side objective — each Nelder–Mead
    * evaluation becomes one Spark job over the cached triples instead of a
    * driver loop, so driver memory stays O(1).
    */
  def fitFeatures(features: DataFrame, fCol: String, rCol: String, tCol: String,
      penalizer: Double = 0.1, maxDriverRows: Long = Optim.MaxDriverRows): BetaGeoParams = {
    val compressed = features
      .groupBy(col(fCol).cast("double").as("x"),
        col(rCol).cast("double").as("tx"),
        col(tCol).cast("double").as("big"))
      .agg(count(lit(1)).cast("double").as("w"))
    // one bounded job: limit(cap+1) both answers "does it fit the driver?"
    // and fetches the rows when it does (no separate count). Sorted collect:
    // shuffle output order is not deterministic across runs, and the FP
    // summation order must be for the fitted params to be bit-reproducible.
    val capped = compressed.sort("x", "tx", "big").limit(maxDriverRows.toInt + 1).collect()
    if (capped.length <= maxDriverRows)
      fit(capped.map(r => Obs(r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))),
        penalizer)
    else fitDistributed(compressed, penalizer)
  }

  /** Cluster-side penalized MLE: each objective evaluation is one job that
    * runs the driver's kernel once per partition of the cached compressed
    * triples. ~2 jobs per Nelder–Mead iteration on a small cached dataset —
    * the trade for unbounded input cardinality.
    */
  def fitDistributed(compressed: DataFrame, penalizer: Double = 0.1): BetaGeoParams = {
    val rdd = compressed.select(col("x"), col("tx"), col("big"), col("w"))
      .rdd.map(r => Obs(r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      def objective(logParams: Array[Double]): Double =
        Optim.penalizedMean(logParams, Optim.partitionSum(rdd)(llKernel(logParams)), penalizer)
      val x0 = Array.fill(4)(0.1)
      require(java.lang.Double.isFinite(objective(x0)),
        "BG/NBD fitDistributed: non-finite objective at init")
      val sol = NelderMead.minimize("BG/NBD", objective, x0)
      BetaGeoParams(math.exp(sol(0)), math.exp(sol(1)), math.exp(sol(2)), math.exp(sol(3)))
    } finally rdd.unpersist()
  }

  /** E[X(t) | x, t_x, T] — conditional expected purchases in the next `t`
    * days (Fader–Hardie–Lee 2005 eq. 10; lifetimes' `predict`). Pure scalar
    * math so it runs row-parallel inside a UDF; z = t/(α+T+t) < 1 keeps the
    * ₂F₁ series convergent.
    */
  def expectedPurchases(p: BetaGeoParams, t: Double, x: Double, tx: Double, big: Double): Double = {
    import p._
    val z = t / (alpha + big + t)
    val hyp = Hyp2f1.hyp2f1(r + x, b + x, a + b + x - 1, z)
    val first = (a + b + x - 1) / (a - 1)
    val second = 1.0 - hyp * math.pow((alpha + big) / (alpha + big + t), r + x)
    val den =
      if (x > 0) 1.0 + (a / (b + x - 1)) * math.pow((alpha + big) / (alpha + tx), r + x)
      else 1.0
    first * second / den
  }
}
