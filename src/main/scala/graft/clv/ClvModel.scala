/** CLV scoring — the reference pipeline's actual product (reference:
  * dags/clv_models.py:39–112 → the `predicted_clv` table).
  *
  * Stage-for-stage mapping (SURVEY §2.9 M1–M5 + §3.2):
  *   prepare        = get_data's lowercase + monetary_value→monetary rename
  *   runClvLogic    = guards (P10/P11) → returning-customer filter (P5) →
  *                    casts (P9) → BG/NBD + Gamma-Gamma fit (M1/M2) →
  *                    predict 30d purchases (M3) + expected value (M4) →
  *                    1-yr CLV compose with flat 0.99 discount (M5) →
  *                    applyDataQualityFixes (P7/P8/A7)
  *   outputColumns  = save_data's projection (S6)
  *
  * Error messages replicate the reference byte-for-byte — its own tests
  * assert on them (tests/test_clv_logic.py:39–95).
  *
  * Scale: both fits collect only weighted sufficient observations (see
  * BetaGeo/GammaGamma scaladoc); the 7 fitted parameters then come back as
  * literals in column expressions, so scoring is one embarrassingly
  * parallel projection — ₂F₁ runs as a static call into
  * `Hyp2f1.hyp2f1` (the `hyp2f1` SQL function), everything else plain
  * column arithmetic. No shuffle
  * in the scoring pass at all.
  */
package graft.clv

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

final case class FittedClvModel(bg: BetaGeoParams, gg: GammaGammaParams)

object ClvModel {

  /** Ordered column contract — order-sensitive, unlike the firewall's
    * set-based check (reference: dags/clv_models.py:47 vs
    * dags/validate_features.py:16).
    */
  val expectedColumns: Seq[String] =
    Seq("customer_id", "recency", "t", "frequency", "monetary", "first_purchase", "last_purchase")

  /** get_data's frame normalization (reference: dags/clv_models.py:15–17). */
  def prepare(df: DataFrame): DataFrame = {
    val lowered = df.toDF(df.columns.toIndexedSeq.map(_.toLowerCase): _*)
    if (lowered.columns.contains("monetary_value"))
      lowered.withColumnRenamed("monetary_value", "monetary")
    else lowered
  }

  /** apply_data_quality_fixes (reference: dags/clv_models.py:21–37):
    * flag + floor negative CLV, flag > 1e6 outliers. Kept standalone so the
    * clipping test mirrors tests/test_clv_logic.py:60–82 exactly.
    */
  def applyDataQualityFixes(df: DataFrame): DataFrame =
    df.withColumn("negatif_clv_flag", when(col("clv") < 0, 1).otherwise(0))
      .withColumn("clv", greatest(col("clv"), lit(0.0)))
      .withColumn("outliners_flag", when(col("clv") > 1000000, 1).otherwise(0))

  /** The model brain (reference: dags/clv_models.py:39–84). Input must be
    * the prepared features frame; output is scored returning customers.
    * A frame with no returning customer (every frequency 0, as on an
    * all-new first day) fits nothing and scores to an empty frame; only an
    * empty INPUT raises (reference: dags/clv_models.py:100–112).
    */
  def runClvLogic(df: DataFrame, penalizer: Double = 0.1): DataFrame =
    scoreReturning(df, penalizer).getOrElse(unscored(df))

  /** runClvLogic with the empty case explicit: None when no customer is
    * returning, so a caller can skip save_data. Emptiness is read off the
    * rows the fit collects anyway, so it costs no Spark action.
    */
  def scoreReturning(df: DataFrame, penalizer: Double = 0.1): Option[DataFrame] = {
    if (df.isEmpty)
      throw new IllegalArgumentException("INPUT ERROR: Dataframe is empty")
    if (df.columns.toSeq != expectedColumns)
      throw new IllegalArgumentException(
        s"Bad Schema! Expected ${expectedColumns.mkString("[", ", ", "]")}, " +
          s"got ${df.columns.mkString("[", ", ", "]")}")

    val returning = df
      .filter(col("frequency") > 0 && col("monetary") > 0)
      .withColumn("frequency", col("frequency").cast("double"))
      .withColumn("recency", col("recency").cast("double"))
      .withColumn("t", col("t").cast("double"))
      .withColumn("monetary", col("monetary").cast("double"))

    val rows = sufficientStats(returning, Optim.MaxDriverRows)
    if (rows.isEmpty) None
    else Some(score(returning, fitCollected(rows, returning, penalizer, Optim.MaxDriverRows)))
  }

  /** The scored schema with no rows: `limit(0)` plans as an empty relation,
    * so nothing is scanned.
    */
  private[graft] def unscored(df: DataFrame): DataFrame =
    applyDataQualityFixes(df.limit(0)
      .withColumn("predicted_purchases", lit(0.0))
      .withColumn("predicted_avg_value", lit(0.0))
      .withColumn("clv", lit(0.0)))

  /** M1 + M2: fit both models on the returning-customer slice.
    *
    * Both sufficient-stat compressions ride ONE grouping-sets aggregate —
    * a single shuffle (Expand ×2 over the per-customer rows) and a single
    * sorted collect; the driver splits rows by grouping_id and runs both
    * Nelder–Mead loops locally (zero further jobs). One action, not one
    * per statistic: a cache + count + two concurrent collects shape (4
    * actions on 2 threads) has a wall clock that tracks scheduler latency
    * × job count under contention rather than data volume.
    */
  def fitModel(returning: DataFrame, penalizer: Double = 0.1,
      maxDriverRows: Long = Optim.MaxDriverRows): FittedClvModel =
    fitCollected(sufficientStats(returning, maxDriverRows), returning, penalizer,
      maxDriverRows)

  /** The one grouping-sets collect behind [[fitModel]]: BG/NBD rows carry
    * gid 1, Gamma-Gamma rows gid 6; empty exactly when `returning` is.
    */
  private def sufficientStats(returning: DataFrame, maxDriverRows: Long): Array[Row] = {
    val proj = returning.select(
      col("frequency").cast("double").as("x"),
      col("recency").cast("double").as("tx"),
      col("t").cast("double").as("big"),
      col("monetary").cast("double").as("m"))
    // gid bit = column NOT in the set, bit order (x, tx, big, m):
    // BG/NBD set (x, tx, big) → gid 1; Gamma-Gamma set (x, m) → gid 6
    val gs = proj.groupingSets(
        Seq(Seq(col("x"), col("tx"), col("big")), Seq(col("x"), col("m"))),
        col("x"), col("tx"), col("big"), col("m"))
      .agg(count(lit(1)).cast("double").as("w"), grouping_id().as("gid"))
    // sorted collect: deterministic FP summation order (bit-reproducible
    // params); the limit doubles as the bounded-driver routing test — it
    // always reaches row maxDriverRows + 1 of whichever slice overflows
    describedAs(returning, "clv.fit sufficient statistics")(
      gs.sort("gid", "x", "tx", "big", "m").limit(2 * maxDriverRows.toInt + 2).collect())
  }

  /** Run `body` with this thread's Spark job description set to `desc` (names
    * the fit's jobs to listeners), then restore it: pool threads are reused. */
  private def describedAs[T](df: DataFrame, desc: String)(body: => T): T = {
    val sc = df.sparkSession.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setLocalProperty("spark.job.description", desc)
    try body finally sc.setLocalProperty("spark.job.description", prev)
  }

  private def fitCollected(rows: Array[Row], returning: DataFrame, penalizer: Double,
      maxDriverRows: Long): FittedClvModel = {
    val (bgRows, ggRows) = rows.partition(_.getLong(5) == 1L)
    // The two models are independent; overlap them on two threads — the
    // Gamma-Gamma loop rides a Future while this thread runs BG/NBD —
    // halving the one serial driver section the query has, which is its
    // contention-sensitive tail under a busy driver. Both
    // loops are deterministic regardless of scheduling: each consumes its
    // own pre-sorted observation array.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    if (bgRows.length > maxDriverRows || ggRows.length > maxDriverRows) {
      // degenerate compressed cardinality: per-model bounded/distributed
      // routing (each fitFeatures re-compresses and caps independently;
      // their Spark jobs run concurrently from the two threads)
      val ggF = Future(describedAs(returning, "clv.fit Gamma-Gamma")(GammaGamma.fitFeatures(
        returning, "frequency", "monetary", penalizer, maxDriverRows)))
      val bg = describedAs(returning, "clv.fit BG/NBD")(BetaGeo.fitFeatures(
        returning, "frequency", "recency", "t", penalizer, maxDriverRows))
      FittedClvModel(bg, Await.result(ggF, Duration.Inf))
    } else {
      val bgObs = bgRows
        .map(r => BetaGeo.Obs(r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(4)))
      val ggObs = ggRows
        .map(r => GammaGamma.Obs(r.getDouble(0), r.getDouble(3), r.getDouble(4)))
      val ggF = Future(GammaGamma.fit(ggObs, penalizer))
      FittedClvModel(BetaGeo.fit(bgObs, penalizer), Await.result(ggF, Duration.Inf))
    }
  }

  /** E[X(t)] as pure column arithmetic over the native ₂F₁ kernel — the
    * whole scoring projection stays inside whole-stage codegen, with no
    * UDF boxing or serialization (SURVEY §4.3). The 4 fitted params are
    * literals (constant-folded).
    */
  def expectedPurchasesCol(bg: BetaGeoParams, t: Column, x: Column,
      tx: Column, big: Column): Column = {
    val r = lit(bg.r); val alpha = lit(bg.alpha)
    val a = lit(bg.a); val b = lit(bg.b)
    val z = t / (alpha + big + t)
    val hyp = call_function("hyp2f1", r + x, b + x, a + b + x - 1, z)
    val first = (a + b + x - 1) / (a - 1)
    val second = lit(1.0) - hyp * pow((alpha + big) / (alpha + big + t), r + x)
    val den = when(x > 0,
      lit(1.0) + (a / (b + x - 1)) * pow((alpha + big) / (alpha + tx), r + x))
      .otherwise(lit(1.0))
    first * second / den
  }

  /** M3–M5 + quality fixes as one shuffle-free, fully-codegen projection;
    * the fitted params ride as literals (7 doubles).
    */
  def score(returning: DataFrame, model: FittedClvModel): DataFrame = {
    val gg = model.gg
    def predict(t: Column): Column =
      expectedPurchasesCol(model.bg, t, col("frequency"), col("recency"), col("t"))
    def expProfit(x: Column, m: Column): Column =
      (lit(gg.p) * (lit(gg.v) + m * x)) / (lit(gg.p) * x + lit(gg.q) - lit(1.0))

    val scored = returning
      .withColumn("predicted_purchases", predict(lit(30.0)))
      .withColumn("predicted_avg_value", expProfit(col("frequency"), col("monetary")))
      .withColumn("clv",
        predict(lit(365.0)) * col("predicted_avg_value") * lit(0.99))
    applyDataQualityFixes(scored)
  }

  /** save_data's output projection (reference: dags/clv_models.py:93). */
  def outputColumns(df: DataFrame): DataFrame =
    df.select(col("customer_id"), col("predicted_purchases"),
      col("predicted_avg_value"), col("clv"),
      col("negatif_clv_flag"), col("outliners_flag"))
}
