package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.Sources.{table => t}
import graft.functions.ColumnOps
import graft.functions.ColumnOps.{d, dec, r2, r4, r6}

/** Time-series analytics family: exponential smoothing over the daily
  * revenue series, time-range window frames over the event log, and
  * per-group z-score outlier detection — the monitoring/trend surface a
  * warehouse runs on top of the reference's append-only logs (reference
  * dags/clv_data_dag.py:68 staging appends; dags/validate_features.py's
  * firewall is the static cousin of the outlier check).
  */
object Timeseries {

  /** Gumbel method-of-moments constants (q_gumbel_max), computed ONCE here
    * and embedded as the SAME double literals in both the Spark plan and
    * the DuckDB oracle (the q_periodogram micro-trig discipline —
    * `Double.toString` emits the shortest round-tripping decimal, so both
    * engines parse identical bits and cross-engine trig/log never runs).
    */
  private val Sqrt6OverPi: Double = math.sqrt(6.0) / math.Pi
  private val EulerGamma: Double = 0.5772156649015329
  private val GumbelC12: Double = math.log(-math.log(1.0 - 1.0 / 12.0))
  private val GumbelC120: Double = math.log(-math.log(1.0 - 1.0 / 120.0))

  /** EWMA decay per day. 0.5 is deliberate: the weights (1-α)^k = 2^-k
    * are exact dyadic doubles, so Spark and the oracle compute
    * bit-identical weight products and the only cross-engine float
    * hazard left is summation order. */
  val EwmaDecay = 0.5

  /** EWMA lookback in days; 2^-15 ≈ 3e-5 truncated tail mass. */
  val EwmaWindow = 15

  /** q_forecast holdout: the trailing 4 weeks of the daily series are
    * scored against the seasonal-naive forecast; everything before them is
    * the training window that sizes the MASE denominator. */
  val BacktestDays = 28

  /** q_periodogram probe periods (days). */
  val Periods = Seq(7, 30, 91)

  /** The q_periodogram trig tables: cos/sin of the p fixed phases 2πk/p,
    * rounded half-up to the 1e-6 grid ONCE here in Scala and embedded as
    * the same integer literals in the Spark plan AND the oracle SQL — the
    * engines never evaluate trig at all, so libm-vs-StrictMath ulp
    * differences cannot exist by construction. */
  def cosMicro(k: Int, p: Int): Long =
    math.floor(math.cos(2.0 * math.Pi * k / p) * 1e6 + 0.5).toLong
  def sinMicro(k: Int, p: Int): Long =
    math.floor(math.sin(2.0 * math.Pi * k / p) * 1e6 + 0.5).toLong

  /** The daily revenue series `(day DATE, rev BIGINT)`: orders grouped by
    * calendar day of `o_orderdate`, revenue summed in integer cents
    * (`ColumnOps.cents` per order) — the input of the time-series family
    * and of the daily-series tests in [[Stats]]. */
  private[operators] def dailyRevenue(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(ColumnOps.cents(col("o_totalprice"))).as("rev"))

  /** The DuckDB mirror of [[dailyRevenue]]: the `daily` CTE the oracles of
    * the series queries interpolate (without `WITH`, so it can follow
    * other CTEs). */
  private[operators] val DailyRevenueCte =
    """daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT))
      |      AS BIGINT) AS rev
      |  FROM orders GROUP BY 1
      |)""".stripMargin

  /** The lag-1..h moment row of the daily series, all exact integer sums
    * (one ordered window, one global aggregate): nn, ss = Σr, syy = Σr²
    * and per lag k the pair count n_k, p_k = Σr·r₋ₖ (decimal), and the
    * pair-window sums a_k = Σr and b_k = Σr₋ₖ. */
  private def lagMoments(s: SparkSession, dir: String, h: Int): DataFrame = {
    val w = BoundedWindow.ordered(col("day"), col("day"))
    val lags = (1 to h).foldLeft(dailyRevenue(s, dir)) { (d, k) =>
      d.withColumn(s"l$k", lag(col("rev"), k).over(w)) }
    val revd = col("rev").cast("decimal(18,0)")
    val aggCols =
      Seq(count(lit(1)).as("nn"), sum(col("rev")).as("ss"),
        sum(revd * revd).as("syy")) ++
      (1 to h).flatMap { k =>
        val lk = col(s"l$k")
        Seq(count(lk).as(s"n$k"),
          sum(revd * lk.cast("decimal(18,0)")).as(s"p$k"),
          sum(when(lk.isNotNull, col("rev"))).as(s"a$k"),
          sum(lk).as(s"b$k"))
      }
    lags.agg(aggCols.head, aggCols.tail: _*)
  }

  /** The DuckDB mirror of [[lagMoments]]: the daily series with lags
    * 1..h (lagged), their integer moment row (g) and its mean and centred
    * square sum (m: mu, den). */
  private def lagMomentsCte(h: Int): String = {
    val lagCols = (1 to h).map(k =>
      s"    LAG(rev, $k) OVER (ORDER BY day) AS l$k").mkString(",\n")
    val aggs = (1 to h).map(k =>
      s"""    CAST(COUNT(l$k) AS BIGINT) AS n$k,
         |    CAST(SUM(CAST(rev AS HUGEINT) * l$k) AS DOUBLE) AS p$k,
         |    CAST(SUM(rev) FILTER (WHERE l$k IS NOT NULL) AS BIGINT) AS a$k,
         |    CAST(SUM(l$k) AS BIGINT) AS b$k""".stripMargin).mkString(",\n")
    s"""$DailyRevenueCte, lagged AS (
       |  SELECT day, rev,
       |$lagCols
       |  FROM daily
       |), g AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS nn, CAST(SUM(rev) AS BIGINT) AS ss,
       |    CAST(SUM(CAST(rev AS HUGEINT) * rev) AS DOUBLE) AS syy,
       |$aggs
       |  FROM lagged
       |), m AS (
       |  SELECT *, CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE) AS mu,
       |    syy - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE)
       |      AS den
       |  FROM g
       |)""".stripMargin
  }

  /** The OLS trend line of the daily series over epoch-day tt (days since
    * 1992-01-01), fitted from exact integer moments so both engines derive
    * bit-identical doubles. Returns the series with its tt column, the
    * one-row moment frame (n, st = Σt, sy = Σy, stt = Σt², sty = Σty),
    * and the slope b and intercept a as columns over that frame (b is
    * NULL on a flat calendar). */
  private def trendFit(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, Column, Column) = {
    val daily = dailyRevenue(s, dir)
      .withColumn("tt",
        datediff(col("day"), lit("1992-01-01").cast("date")).cast("long"))
    val revd = col("rev").cast("decimal(20,0)")
    val ttd = col("tt").cast("decimal(20,0)")
    val m = daily.agg(
      count(lit(1)).as("n"), sum(col("tt")).as("st"),
      sum(col("rev")).as("sy"), sum(ttd * ttd).as("stt"),
      sum(ttd * revd).as("sty"))
    val nD = col("n").cast("double"); val stD = col("st").cast("double")
    val syD = col("sy").cast("double")
    val denom = nD * col("stt").cast("double") - stD * stD
    val b = when(denom =!= 0.0,
      (nD * col("sty").cast("double") - stD * syD) / denom)
    (daily, m, b, (syD - b * stD) / nD)
  }

  /** The DuckDB mirror of [[trendFit]]'s inputs: the daily series with epoch-
    * day tt (dd) and its exact integer moment row (m). */
  private val TrendMomentsCte =
    s"""$DailyRevenueCte, dd AS (
       |  SELECT day, rev,
       |    CAST(datediff('day', DATE '1992-01-01', day) AS BIGINT) AS tt
       |  FROM daily
       |), m AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(tt) AS BIGINT) AS st, CAST(SUM(rev) AS BIGINT) AS sy,
       |    CAST(SUM(CAST(tt AS HUGEINT) * tt) AS HUGEINT) AS stt,
       |    CAST(SUM(CAST(tt AS HUGEINT) * rev) AS HUGEINT) AS sty
       |  FROM dd
       |)""".stripMargin

  /** [[TrendMomentsCte]] with the slope b (ab0, NULL on a flat calendar),
    * carrying n, st, sy and stt. */
  private val TrendFitCte =
    s"""$TrendMomentsCte, ab0 AS (
       |  SELECT n, st, sy, stt,
       |    CASE WHEN CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
       |        - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) <> 0.0
       |      THEN (CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)
       |        - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
       |        / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
       |        - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
       |      END AS b
       |  FROM m
       |)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- EWMA trend over the daily revenue series -------------------------
    // Exponentially weighted moving average of daily revenue with a
    // bounded lookback. Plan shape: ONE shuffle builds the daily
    // aggregate — a frame bounded by the CALENDAR (≤ ~2.4k rows here and
    // ≤ tens of thousands for any horizon, independent of SF — the
    // q_gap_fill boundedness argument) — then the weighted sum is a
    // broadcast range self-join on that tiny frame: every day scores in
    // parallel, no total-order single-task window. The recursive EWMA
    // definition is deliberately unrolled to the bounded-window form so
    // it parallelizes; the truncation is part of the operator contract
    // (and the oracle applies the identical cutoff).
    "q_ewma_smooth" -> ((s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(col("o_totalprice")).as("rev"))
      val hist = daily.select(col("day").as("day2"), col("rev").as("rev2"))
      val w = pow(lit(EwmaDecay), datediff(col("day"), col("day2")))
      daily.join(broadcast(hist),
          col("day2").between(date_sub(col("day"), EwmaWindow), col("day")))
        .groupBy("day")
        .agg(
          r2(max(when(col("day2") === col("day"), col("rev2")))).as("revenue"),
          r2(sum(w * col("rev2")) / sum(w)).as("ewma"))
        .orderBy("day")
    }),

    // ---- inter-event burstiness -------------------------------------------
    // Goh–Barabási burstiness B = (σ−μ)/(σ+μ) of each user's inter-event
    // gaps — the one-number answer to "is this user's activity Poisson
    // (B≈0), regular (B→−1), or bursty (B→+1)", the standard
    // event-stream fingerprint for bot/anomaly triage. Gaps are EXACT
    // integer microseconds off one per-user lag window (unique
    // (ts, event_id) order); per-user moments aggregate exactly (BIGINT
    // sum, DECIMAL(38,0) sum of squares — a 30-day gap is ~2.6e12 µs, its
    // square needs 128 bits), and μ/σ/B are one float sequence over those
    // exact integers. Users with fewer than 2 gaps carry no sample
    // variance and are dropped; a degenerate σ+μ = 0 abstains NULL.
    // Scale: one user-keyed shuffle, streaming lag, map-side-combined
    // moments — never a self-join.
    "q_burstiness" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val gaps = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"))
        .select(col("user_id"),
          (col("us") - lag(col("us"), 1).over(w)).as("gap"))
        .where(col("gap").isNotNull)
      val g = gaps.groupBy("user_id").agg(
        count(lit(1)).as("n_gaps"),
        sum(col("gap")).as("sg"),
        sum(col("gap").cast("decimal(19,0)") *
          col("gap").cast("decimal(19,0)")).as("ssq"))
        .where(col("n_gaps") >= 2)
      val nD = col("n_gaps").cast("double")
      val mean = col("sg").cast("double") / nD
      // greatest(…, 0): a perfectly periodic user's double-rounded gap
      // variance can dip below zero and reach the sqrt — DuckDB errors,
      // Spark yields NaN (r10 sweep; mirrored GREATEST in the oracle)
      val varS = greatest(col("ssq").cast("double") -
        col("sg").cast("double") * col("sg").cast("double") / nD,
        lit(0.0)) / (nD - 1)
      val sd = sqrt(varS)
      g.select(col("user_id"), col("n_gaps"),
        r4(mean / 1000000.0).as("mean_gap_s"),
        r4(sd / 1000000.0).as("sd_gap_s"),
        when(sd + mean > 0, r6((sd - mean) / (sd + mean))).as("burstiness"))
        .orderBy("user_id")
    }),

    // ---- Holt double exponential smoothing --------------------------------
    // Holt's linear-trend method (Holt 1957 — the level+trend upgrade of
    // q_ewma_smooth, and the forecaster q_forecast's seasonal-naive
    // baseline graduates to): level ← α·y + (1−α)(level+trend),
    // trend ← β(level−level₋₁) + (1−β)trend, folded over the observed
    // daily revenue series in day order (initial state: level = y₁,
    // trend = 0 — documented init; missing calendar days are skipped, the
    // step is per OBSERVATION).
    //
    // The recursion is inherently sequential, so it runs as ONE
    // aggregate() fold over the calendar-bounded day array (the q_kendall
    // boundedness argument: ~2.4k entries at any SF, collected inside a
    // single agg buffer, never a driver loop) — and BOTH engines fold the
    // IDENTICAL double sequence: Spark's aggregate() and DuckDB's
    // list_reduce walk the same day-ordered list with the same literal
    // α=0.2/β=0.1 arithmetic, so level/trend agree bit-for-bit before the
    // one rounding. Forecasts are the linear extrapolation level + h·trend.
    "q_holt_trend" -> ((s, dir) => {
      val cents = ColumnOps.cents(col("o_totalprice"))
      val daily = t(s, dir, "orders")
        .groupBy(datediff(to_date(col("o_orderdate")),
          lit("1995-01-01").cast("date")).as("x"))
        .agg(sum(cents).as("yc"))
      val arr = daily.agg(
        sort_array(collect_list(struct(col("x"),
          (col("yc").cast("double") / 100.0).as("y")))).as("s"),
        count(lit(1)).as("n_days"))
      def l(acc: Column): Column = acc.getField("l")
      def tr(acc: Column): Column = acc.getField("t")
      def lv1(acc: Column, x: Column): Column =
        lit(0.2) * x.getField("y") + lit(0.8) * (l(acc) + tr(acc))
      val folded = aggregate(
        slice(col("s"), lit(2), greatest(size(col("s")) - 1, lit(0))),
        struct(element_at(col("s"), 1).getField("y").as("l"),
          lit(0.0).as("t")),
        (acc, x) => struct(
          lv1(acc, x).as("l"),
          (lit(0.1) * (lv1(acc, x) - l(acc)) + lit(0.9) * tr(acc)).as("t")))
      arr.select(col("n_days"), folded.as("st"))
        .select(col("n_days"),
          r4(col("st.l")).as("level"), r6(col("st.t")).as("trend"),
          r4(col("st.l") + lit(7.0) * col("st.t")).as("forecast_7"),
          r4(col("st.l") + lit(28.0) * col("st.t")).as("forecast_28"))
    }),

    // ---- DAU/MAU stickiness (beyond reference, round 9) -------------------
    // The product-engagement workhorse: per day, distinct active users
    // (DAU), trailing-30-day distinct actives (MAU), and the stickiness
    // ratio. Distinct-count-over-sliding-window has no window-function
    // form, so MAU materializes the standard way at scale: each (user,
    // day) activity row explodes into the ≤30 window-days it serves, a
    // (window-day, user) distinct collapses re-activity, and a bounded
    // per-day count finishes — total work ≤ 30·|user-days|, partial-
    // aggregated, never quadratic. All exact integers; stickiness is the
    // one division.
    "q_dau_mau" -> ((s, dir) => {
      val ud = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
      val mau = ud.select(col("user_id"),
          explode(sequence(col("day"), date_add(col("day"), 29)))
            .as("wday"))
        .distinct()
        .groupBy(col("wday").as("day")).agg(count(lit(1)).as("mau"))
      dau.join(mau, Seq("day"))
        .select(col("day"), col("dau"), col("mau"),
          r6(col("dau").cast("double") / col("mau").cast("double"))
            .as("stickiness"))
        .orderBy("day")
    }),

    // ---- Kleinberg burst detection (beyond reference, round 9) ------------
    // The 2-state burst automaton (Kleinberg, KDD 2002) over daily order
    // counts: state 0 emits at the base rate λ, state 1 at 2λ, entering a
    // burst costs γ = 2; the Viterbi path minimizes Σ[λ_j − x_t·ln λ_j] +
    // transitions. TRACEBACK-FREE: the fold carries, for each ending
    // state, the best path's (cost, burst-day count, burst-run count) —
    // six numbers of state, so the whole path summary pops out of one
    // in-order pass with NO per-day materialization (the Holt fold shape
    // over the calendar-bounded frame; the oracle replays the identical
    // recurrence as a recursive CTE). Ties break toward state 0 with <=
    // on both engines; every emission is the same two-op float over an
    // exact integer count and the shared ln λ.
    "q_kleinberg_burst" -> ((s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      val arr = daily.agg(
        sort_array(collect_list(struct(col("day"),
          col("cnt").cast("double").as("x")))).as("s"),
        count(lit(1)).as("n_days"), sum(col("cnt")).as("n_total"))
        .select(col("s"), col("n_days"), col("n_total"),
          (col("n_total").cast("double") / col("n_days").cast("double"))
            .as("lam"))
      val gamma = lit(2.0)
      def e0(x: Column, lam: Column): Column = lam - x * log(lam)
      def e1(x: Column, lam: Column): Column =
        lit(2.0) * lam - x * log(lit(2.0) * lam)
      def f(n: String) = col(s"st.$n")
      val lam = col("lam")
      val head = element_at(col("s"), 1).getField("x")
      val zero = struct(
        e0(head, lam).as("c0"), (gamma + e1(head, lam)).as("c1"),
        lit(0L).as("bd0"), lit(1L).as("bd1"),
        lit(0L).as("nb0"), lit(1L).as("nb1"))
      val folded = aggregate(
        slice(col("s"), lit(2), greatest(size(col("s")) - 1, lit(0))),
        zero,
        (acc, el) => {
          val x = el.getField("x")
          def a(n: String) = acc.getField(n)
          val p0 = a("c0") <= a("c1")            // predecessor for state 0
          val p1 = a("c0") + gamma <= a("c1")    // predecessor for state 1
          struct(
            (when(p0, a("c0")).otherwise(a("c1")) + e0(x, lam)).as("c0"),
            (when(p1, a("c0") + gamma).otherwise(a("c1")) + e1(x, lam))
              .as("c1"),
            when(p0, a("bd0")).otherwise(a("bd1")).as("bd0"),
            (when(p1, a("bd0")).otherwise(a("bd1")) + lit(1L)).as("bd1"),
            when(p0, a("nb0")).otherwise(a("nb1")).as("nb0"),
            (when(p1, a("nb0") + lit(1L)).otherwise(a("nb1"))).as("nb1"))
        })
      val fin = col("st.c0") <= col("st.c1")
      arr.select(col("n_days"), col("n_total"), folded.as("st"),
          r6(lam).as("lam6"))
        .select(col("n_days"), col("n_total"), col("lam6").as("base_rate"),
          when(fin, f("bd0")).otherwise(f("bd1")).as("burst_days"),
          when(fin, f("nb0")).otherwise(f("nb1")).as("n_bursts"),
          r4(when(fin, f("c0")).otherwise(f("c1"))).as("path_cost"))
    }),

    // ---- Mann–Kendall trend test (beyond reference, round 9) --------------
    // The nonparametric companion to q_theil_sen's robust slope: is the
    // daily-revenue trend MONOTONE at all, without assuming linearity or
    // normality? S = Σ_{i<j} sign(x_j − x_i) over the calendar-bounded
    // pair census (the q_theil_sen broadcast pair join — O(days²) rows,
    // corpus-invariant), tie-corrected variance Var(S) = [n(n−1)(2n+5)
    // − Σ_g t_g(t_g−1)(2t_g+5)]/18 (Kendall 1975), and the
    // continuity-corrected z = (S ∓ 1)/√Var. S and every variance term
    // are exact BIGINTs; z is one closed-form float both engines replay.
    "q_mann_kendall" -> ((s, dir) => {
      val daily = dailyRevenue(s, dir)
      val a = daily.select(col("day").as("d1"), col("rev").as("r1"))
      val b = daily.select(col("day").as("d2"), col("rev").as("r2"))
      val pairs = a.join(broadcast(b), col("d1") < col("d2"))
        .agg(sum(signum(col("r2") - col("r1")).cast("long")).as("s"),
          count(lit(1)).as("n_pairs"))
      val ties = daily.groupBy(col("rev"))
        .agg(count(lit(1)).as("t"))
        .agg(sum(col("t") * (col("t") - 1L) * (lit(2L) * col("t") + 5L))
          .as("tie_term"), sum(col("t")).as("n"))
      val g = pairs.crossJoin(broadcast(ties))
      val varS = (col("n") * (col("n") - 1L) * (lit(2L) * col("n") + 5L) -
        col("tie_term")).cast("double") / lit(18.0)
      val z = when(col("s") > 0L,
          (col("s") - 1L).cast("double") / sqrt(varS))
        .when(col("s") < 0L, (col("s") + 1L).cast("double") / sqrt(varS))
        .otherwise(lit(0.0))
      g.select(col("n").as("n_days"), col("n_pairs"), col("s"),
        r6(z).as("z_stat"),
        (abs(z) > lit(1.959963984540054)).cast("long").as("trending"))
    }),

    // ---- seasonal Mann–Kendall trend test (r12) -----------------------------
    // q_mann_kendall's S mixes Mondays with Sundays, so a strong weekly
    // cycle (q_periodogram's 7-day harmonic) inflates the pair census
    // with cross-season comparisons that carry no trend information. The
    // seasonal variant (Hirsch & Slack 1984) computes S WITHIN each
    // weekday's own day-ordered series and sums: S' = Σ_s S_s, Var(S') =
    // Σ_s tie-corrected Var(S_s) (seasons independent under H0). Plan
    // shape: the same calendar-bounded broadcast pair join as
    // q_mann_kendall/q_theil_sen with the season equi-key added — the
    // census SHRINKS ~7× (only same-weekday pairs), stays corpus-
    // invariant, and S plus every variance term stay exact BIGINT; z is
    // the same continuity-corrected closed float.
    "q_mk_seasonal" -> ((s, dir) => {
      val daily = dailyRevenue(s, dir)
        .withColumn("dow", dayofweek(col("day")).cast("long"))
      val a = daily.select(col("dow"), col("day").as("d1"),
        col("rev").as("r1"))
      val b = daily.select(col("dow").as("dow2"), col("day").as("d2"),
        col("rev").as("r2"))
      val pairs = a.join(broadcast(b),
          col("dow") === col("dow2") && col("d1") < col("d2"))
        .agg(sum(signum(col("r2") - col("r1")).cast("long")).as("s"),
          count(lit(1)).as("n_pairs"))
      val perSeason = daily.groupBy(col("dow"), col("rev"))
        .agg(count(lit(1)).as("t"))
        .groupBy(col("dow"))
        .agg(sum(col("t")).as("ns"),
          sum(col("t") * (col("t") - 1L) * (lit(2L) * col("t") + 5L))
            .as("tie_s"))
      val varParts = perSeason.agg(
        sum(col("ns")).as("n"), count(lit(1)).as("n_seasons"),
        sum(col("ns") * (col("ns") - 1L) * (lit(2L) * col("ns") + 5L) -
          col("tie_s")).as("var18"))
      val g = pairs.crossJoin(broadcast(varParts))
      val varS = col("var18").cast("double") / lit(18.0)
      val z = when(col("s") > 0L,
          (col("s") - 1L).cast("double") / sqrt(varS))
        .when(col("s") < 0L, (col("s") + 1L).cast("double") / sqrt(varS))
        .otherwise(lit(0.0))
      g.select(col("n").as("n_days"), col("n_seasons"), col("n_pairs"),
        col("s"), r6(z).as("z_stat"),
        (abs(z) > lit(1.959963984540054)).cast("long").as("trending"))
    }),

    // ---- Bartels rank von Neumann randomness test (r12) ---------------------
    // q_runs_test dichotomizes around the median and throws away magnitude
    // order; Bartels (1982) keeps the full RANK sequence: RVN =
    // Σ(R_i − R_{i+1})² / Σ(R_i − R̄)² ≈ 2 under randomness, < 2 under
    // positive serial dependence (sticky/trending), > 2 under
    // alternation — the rank analogue of the Durbin–Watson ratio, robust
    // where q_durbin_watson's residual form is not. DOUBLED midranks
    // D = 2·rank + ties − 1 keep numerator and denominator EXACT
    // decimal(38,0) integers (the ×4 cancels in the ratio; ΣD = N(N+1)
    // identically, so Σ(D−D̄)² = ΣD² − N(N+1)² needs no mean pass), and
    // Bartels' exact H0 variance is a closed form of N. Both windows run
    // over the calendar-bounded daily frame.
    "q_bartels_rank" -> ((s, dir) => {
      val daily = dailyRevenue(s, dir)
      val ranked = daily
        .withColumn("rk", rank().over(Window.orderBy(col("rev"))).cast("long"))
        .withColumn("tc", count(lit(1)).over(Window.partitionBy(col("rev"))))
        .withColumn("dd", lit(2L) * col("rk") + col("tc") - 1L)
      val wDay = BoundedWindow.ordered(col("day"), col("day"))
      val diffed = ranked.withColumn("dn", lead(col("dd"), 1).over(wDay))
      val zeroDec = lit(0).cast("decimal(38,0)")
      val m = diffed.agg(count(lit(1)).as("n"),
        sum(dec(col("dd")) * col("dd")).as("sdd"),
        sum(when(col("dn").isNotNull,
          dec(col("dd") - col("dn")) * (col("dd") - col("dn")))
          .otherwise(zeroDec)).as("snum"))
      val nD = col("n").cast("double")
      // NULL-on-degenerate denominator (constant series): the q_rdd ANSI
      // hoisted-division lesson
      val den0 = col("sdd").cast("double") - nD * (nD + 1.0) * (nD + 1.0)
      val den = when(den0 > 0.0, den0)
      val rvn = col("snum").cast("double") / den
      val varR = lit(4.0) * (nD - 2.0) *
        (lit(5.0) * nD * nD - lit(2.0) * nD - 9.0) /
        (lit(5.0) * nD * (nD + 1.0) * (nD - 1.0) * (nD - 1.0))
      val ok = col("n") >= 10L && den0 > 0.0
      val z = when(ok, (rvn - lit(2.0)) / sqrt(varR))
      val zR = r6(z)
      m.select(col("n").as("n_days"), when(ok, r6(rvn)).as("rvn"),
        zR.as("z_stat"),
        coalesce((zR < lit(-1.6448536269514722)).cast("long"), lit(0L))
          .as("sticky_95"),
        coalesce((zR > lit(1.6448536269514722)).cast("long"), lit(0L))
          .as("alternating_95"))
    }),

    // ---- Gumbel block-maxima fit + return levels (r12) ----------------------
    // Extreme-value theory's entry point (Gumbel 1958; the domain q_mad_
    // outliers/q_rolling_anomaly's z-scores can't reach — they model the
    // BULK, EVT models the maxima): monthly block maxima of daily revenue
    // fitted to Gumbel(μ, β) by method of moments (β = s·√6/π, μ = m̄ −
    // γβ), then the 12- and 120-month return levels x_T = μ −
    // β·ln(−ln(1−1/T)) — "the daily-revenue peak you should provision
    // for once a year / once a decade". The block frame is CALENDAR-
    // bounded (≤ months-of-history rows); block maxima and both moment
    // sums stay exact BIGINT/decimal(38,0); √6/π, γ, and the two
    // ln(−ln(·)) constants are computed ONCE in Scala and embedded as
    // the SAME literals in the plan and the oracle (the q_periodogram
    // micro-trig discipline), so every output is a literal-order float
    // compose of exact integers. Degenerate frames (< 12 blocks, zero
    // variance) abstain NULL.
    "q_gumbel_max" -> ((s, dir) => {
      val blocks = dailyRevenue(s, dir)
        .groupBy(trunc(col("day"), "month").as("mon"))
        .agg(max(col("rev")).as("m"))
      val md = col("m").cast("decimal(38,0)")
      val g = blocks.agg(count(lit(1)).as("n"), sum(col("m")).as("sm"),
        sum(md * md).as("smm"))
      val nD = col("n").cast("double"); val smD = col("sm").cast("double")
      val mean = smD / nD
      val svar = (col("smm").cast("double") - smD * smD / nD) /
        (nD - lit(1.0))
      val beta = sqrt(svar) * lit(Sqrt6OverPi)
      val mu = mean - lit(EulerGamma) * beta
      val rl12 = mu - beta * lit(GumbelC12)
      val rl120 = mu - beta * lit(GumbelC120)
      val ok = col("n") >= 12L && svar > 0.0
      def dollars(c: Column): Column = r2(c / lit(100.0))
      g.select(col("n").as("n_blocks"),
        when(ok, dollars(mean)).as("block_mean"),
        when(ok, dollars(mu)).as("location"),
        when(ok, dollars(beta)).as("scale"),
        when(ok, dollars(rl12)).as("rl_1y"),
        when(ok, dollars(rl120)).as("rl_10y"))
    }),

    // ---- Holt–Winters triple exponential smoothing (beyond ref, r9) -------
    // q_holt_trend plus ADDITIVE WEEKLY SEASONALITY (Winters 1960): state
    // (level, trend, s[0..6]) with the seasonal slot keyed by TRUE
    // day-of-week (x mod 7 on the epoch-day index — a rotating position
    // array would misalign on calendar gaps), zero-initialized seasonals
    // learned through γ. Same execution shape as q_holt_trend: the
    // calendar-bounded daily frame collects into ONE sorted array (loud
    // by construction — the array is the fold) and aggregate() runs the
    // recurrence in date order; the oracle replays it as a recursive CTE
    // carrying the 7 slots as columns. Both engines execute the identical
    // float sequence element-by-element — the duplicated level
    // subexpression inside the trend/seasonal updates is the SAME ops on
    // both sides, so parity is structural; r4/r6 absorb nothing but ulps.
    "q_holt_winters" -> ((s, dir) => {
      val cents = ColumnOps.cents(col("o_totalprice"))
      val daily = t(s, dir, "orders")
        .groupBy(datediff(to_date(col("o_orderdate")),
          lit("1995-01-01").cast("date")).as("x"))
        .agg(sum(cents).as("yc"))
      val arr = daily.agg(
        sort_array(collect_list(struct(col("x"),
          (col("yc").cast("double") / 100.0).as("y"),
          pmod(col("x"), lit(7)).cast("int").as("dow")))).as("s"),
        count(lit(1)).as("n_days"))
      val sFields = (0 until 7).map(i => s"s$i")
      def zero: Column = {
        val head = element_at(col("s"), 1)
        struct((head.getField("y").as("l") +: lit(0.0).as("b") +:
          sFields.map(f => lit(0.0).as(f))): _*)
      }
      def sd(acc: Column, x: Column): Column =
        (0 until 6).foldRight(acc.getField("s6"): Column) { (i, rest) =>
          when(x.getField("dow") === i, acc.getField(s"s$i")).otherwise(rest)
        }
      def lv(acc: Column, x: Column): Column =
        lit(0.2) * (x.getField("y") - sd(acc, x)) +
          lit(0.8) * (acc.getField("l") + acc.getField("b"))
      def bv(acc: Column, x: Column): Column =
        lit(0.1) * (lv(acc, x) - acc.getField("l")) +
          lit(0.9) * acc.getField("b")
      def snew(acc: Column, x: Column): Column =
        lit(0.3) * (x.getField("y") - lv(acc, x)) + lit(0.7) * sd(acc, x)
      val folded = aggregate(
        slice(col("s"), lit(2), greatest(size(col("s")) - 1, lit(0))),
        zero,
        (acc, x) => struct((lv(acc, x).as("l") +: bv(acc, x).as("b") +:
          (0 until 7).map(i => when(x.getField("dow") === i, snew(acc, x))
            .otherwise(acc.getField(s"s$i")).as(s"s$i"))): _*))
      val lastDow = element_at(col("s"), -1).getField("dow")
      val sLast = (0 until 6).foldRight(col("st.s6"): Column) { (i, rest) =>
        when(col("ld") === i, col(s"st.s$i")).otherwise(rest)
      }
      arr.select(col("n_days"), folded.as("st"), lastDow.as("ld"))
        .select((col("n_days") +:
          r4(col("st.l")).as("level") +: r6(col("st.b")).as("trend") +:
          (0 until 7).map(i => r4(col(s"st.s$i")).as(s"season_$i")) :+
          r4(col("st.l") + lit(7.0) * col("st.b") + sLast)
            .as("forecast_7")): _*)
    }),

    // ---- watermark lateness audit (beyond reference, round 9) -------------
    // The batch diagnostic that SIZES a streaming watermark before anyone
    // deploys one: per event, lateness = how far behind the per-user running
    // event-time high-water mark it arrived, banded into the standard
    // watermark candidates — a band's tail above a candidate = exactly
    // the events `withWatermark(that delay)` would drop. The event log is
    // emission-ordered (event_id ≈ ts), so arrival is REPLAYED with a
    // content-addressed transport delay (md5-uniform 0..2 h — the
    // q_dp_counts / q_bootstrap_ci deterministic-deviate discipline):
    // both engines draw the identical delay, order by the identical
    // arrival key, and measure the identical lateness. Shape: ONE
    // user_id shuffle, a single running-max Window, projection to bands,
    // bounded ≤6-row aggregate. Integer seconds end-to-end; the one
    // float is the share division.
    "q_watermark_lateness" -> ((s, dir) => {
      val delay = pmod(conv(substring(md5(concat(lit("lat#"),
        col("event_id").cast("string")).cast("binary")), 1, 8), 16, 10)
        .cast("long"), lit(7201L))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("arr"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val lat = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          col("ts").cast("long").as("sec"))
        .select(col("user_id"), col("event_id"), col("sec"),
          (col("sec") + delay).as("arr"))
        .select((max(col("sec")).over(w) - col("sec")).as("late"))
      val band = when(col("late") <= 0L, "0_on_time")
        .when(col("late") <= 60L, "1_le_1m")
        .when(col("late") <= 3600L, "2_le_1h")
        .when(col("late") <= 21600L, "3_le_6h")
        .when(col("late") <= 86400L, "4_le_24h")
        .otherwise("5_gt_24h")
      val g = lat.groupBy(band.as("band"))
        .agg(count(lit(1)).as("n_events"), max(col("late")).as("max_late_s"))
      g.select(col("band"), col("n_events"), col("max_late_s"),
          r6(col("n_events").cast("double") /
            sum(col("n_events")).over(BoundedWindow.whole(col("band"))))
            .as("share"))
        .orderBy("band")
    }),

    // ---- time-range window frame ------------------------------------------
    // Per-user trailing-7-day sum/count over the event log: the RANGE
    // frame on event-time seconds (not ROWS — gaps and bursts both
    // handled). Plan shape: ONE shuffle on user_id, then a single Window
    // node with a range frame; the frame arithmetic is per-partition
    // streaming with a sliding accumulator, never a self-join. Epoch
    // seconds (truncated) are the frame key in BOTH engines so the
    // boundary semantics agree exactly.
    "q_window_timerange" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("sec")
        .rangeBetween(-7L * 86400L, 0L)
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"),
          col("ts").cast("long").as("sec"))
        .select(col("event_id"), col("user_id"),
          r2(sum(col("value")).over(w)).as("trail_sum"),
          count(lit(1)).over(w).cast("long").as("trail_n"))
        .orderBy("event_id")
    }),

    // ---- per-group z-score outliers ---------------------------------------
    // Per event_type: population size, count of |z| > 3 outliers, and the
    // max |z| — the data-quality monitor over the raw log. Plan shape:
    // the per-type moment aggregate reduces to |types| rows (map-side
    // partials), broadcasts back onto the scan for the z projection, and
    // the final per-type rollup is a second tiny aggregate — the log is
    // scanned twice but shuffled only as bounded partial states, never
    // as raw rows.
    "q_outlier_stats" -> ((s, dir) => {
      val e = t(s, dir, "events").select(col("event_type"), col("value"))
      val stats = e.groupBy("event_type")
        .agg(avg(col("value")).as("mu"), stddev_samp(col("value")).as("sd"))
      e.join(broadcast(stats), "event_type")
        .withColumn("z", abs((col("value") - col("mu")) / col("sd")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum((col("z") > 3.0).cast("long")).as("n_outliers"),
          r2(max(col("z"))).as("max_abs_z"))
        .orderBy("event_type")
    }),

    // ---- robust (MAD) outliers --------------------------------------------
    // The robust sibling of q_outlier_stats: median / median-absolute-
    // deviation instead of mean / stddev, so the monitor itself survives
    // the outliers it hunts (Iglewicz–Hoaglin modified z, |0.6745·(x−med)/
    // MAD| > 3.5). Plan shape: two bounded per-type aggregates (median,
    // then MAD over the deviation projection) broadcast back onto the
    // scan; raw rows shuffle zero times, and at 100 TB both exact medians
    // swap for the mergeable approx_percentile sketch exactly as
    // documented on q_group_percentile. A degenerate group where ≥50% of
    // values are identical has mad = 0; Spark's Divide yields NULL there
    // while IEEE float division yields Inf — so the zero case is guarded
    // EXPLICITLY and identically on both engines: mad = 0 ⇒ the row is
    // not an outlier (the robust monitor abstains rather than flagging
    // everything off-mode, Iglewicz–Hoaglin's own recommendation).
    "q_mad_outliers" -> ((s, dir) => {
      val e = t(s, dir, "events").select(col("event_type"), col("value"))
      val med = e.groupBy("event_type")
        .agg(expr("percentile(value, 0.5)").as("med"))
      val mad = e.join(broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(expr("percentile(abs(value - med), 0.5)").as("mad"))
      val z = abs(lit(0.6745) * (col("value") - col("med")) / col("mad"))
      e.join(broadcast(med), "event_type").join(broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum((col("mad") =!= 0.0 && z > 3.5).cast("long")).as("n_outliers"),
          r2(max(col("med"))).as("med"),
          r2(max(col("mad"))).as("mad"))
        .orderBy("event_type")
    }),

    // ---- distribution drift (PSI) -----------------------------------------
    // Population-stability index of order value, reference window
    // (pre-1999) vs current window — the drift monitor a pipeline runs
    // before trusting a model trained on last quarter. Decile bins come
    // from ONE exact-percentile aggregate over the reference (9 doubles,
    // broadcast — the q_quantile_bucket shape; sketch swap-in applies);
    // binning is a projection, both windows share one bounded 10-row
    // aggregate, and the PSI terms ride a window over that frame. Bin
    // shares are Laplace-smoothed ((n+0.5)/(N+5)) so an empty bin yields
    // a finite term instead of ln(p/0) — identical smoothing in the
    // oracle.
    // ---- classical seasonal decomposition ---------------------------------
    // Additive trend/seasonal/residual split of the daily revenue series
    // (the textbook classical decomposition; STL's moving-window shape
    // without the loess fits): trend = centered 7-day mean of the raw
    // series, seasonal = per-day-of-week MEDIAN of the detrended series
    // (median, not mean — robust to the outliers q_mad_outliers hunts),
    // residual = detrended − seasonal. Plan shape: ONE orders shuffle to
    // the CALENDAR-bounded daily frame (the q_ewma_smooth argument), the
    // trend window + the 7-row seasonal broadcast-back all live on that
    // frame. Revenue in integer cents so the only floats are the trend
    // division and the median midpoint — deterministic single ops, no
    // summation-order drift anywhere.
    "q_seasonal_decompose" -> ((s, dir) => {
      val daily = dailyRevenue(s, dir)
        .select(col("day"), col("rev"), dayofweek(col("day")).cast("long").as("dow"))
      val wTrend = BoundedWindow.ordered(col("day"), col("day")).rowsBetween(-3, 3)
      val detrended = daily
        .withColumn("trend", avg(col("rev")).over(wTrend))
        .withColumn("detr", col("rev") - col("trend"))
      val seas = detrended.groupBy("dow")
        .agg(expr("percentile(detr, 0.5)").as("seasonal"))
      detrended.join(broadcast(seas), "dow")
        .select(col("day"), col("rev"), r4(col("trend")).as("trend"),
          r4(col("seasonal")).as("seasonal"),
          r4(col("detr") - col("seasonal")).as("resid"))
        .orderBy("day")
    }),

    // ---- split-conformal forecast intervals (beyond reference, r9) --------
    // Distribution-free prediction intervals on the q_forecast seasonal-
    // naive backtest (split conformal, Vovk et al. / Lei et al. 2018):
    // the 90% interval half-width is the ⌈0.9·(n+1)⌉-th smallest absolute
    // calibration residual — an EXACT integer-cents ORDER STATISTIC, no
    // distributional assumption, no float quantile interpolation — and
    // the holdout coverage audit checks the guarantee empirically. Shape:
    // the calendar-bounded daily frame, one 7-day-lag self-attach by
    // broadcast (the q_forecast geometry), a ranking window over the
    // ≤14-row calibration frame, exact BIGINT everything; the one float
    // is the coverage share.
    "q_conformal_forecast" -> ((s, dir) => {
      val daily = dailyRevenue(s, dir)
      val mx = daily.agg(max(col("day")).as("max_day"))
      val hist7 = daily.select(date_add(col("day"), 7).as("day"),
        col("rev").as("rev_m7"))
      val scored = daily.crossJoin(broadcast(mx))
        .join(broadcast(hist7), Seq("day"))
        .select(col("day"), col("max_day"),
          abs(col("rev") - col("rev_m7")).as("abs_err"))
      val calib = scored
        .where(col("day") > date_sub(col("max_day"), 28) &&
          col("day") <= date_sub(col("max_day"), 14))
      val wOrd = BoundedWindow.ordered(col("day"), col("abs_err"), col("day"))
      val wAll = BoundedWindow.whole(col("day"))
      val qRow = calib.select(col("abs_err"),
          row_number().over(wOrd).cast("long").as("rk"),
          count(lit(1)).over(wAll).as("n_cal"))
        // conformal rank: ceil(0.9·(n+1)), clamped to n
        .where(col("rk") === least(col("n_cal"),
          ceil(lit(0.9) * (col("n_cal") + 1L).cast("double")).cast("long")))
        .select(col("abs_err").as("q_cents"), col("n_cal"))
      val hold = scored.where(col("day") > date_sub(col("max_day"), 14))
      hold.crossJoin(broadcast(qRow))
        .agg(max(col("n_cal")).as("n_calibration"),
          count(lit(1)).as("n_holdout"),
          max(col("q_cents")).as("half_width_cents"),
          sum((col("abs_err") <= col("q_cents")).cast("long"))
            .as("n_covered"))
        .select(col("n_calibration"), col("n_holdout"),
          col("half_width_cents"), col("n_covered"),
          floor(col("n_covered").cast("double") /
            col("n_holdout").cast("double") * lit(1000000.0) +
            lit(0.500001)) / lit(1000000.0) as "coverage",
          lit(0.9).as("nominal"))
    }),

    // ---- seasonal/trend strength (beyond reference, round 9) --------------
    // Hyndman & Wang's tsfeatures pair on top of q_seasonal_decompose:
    // F_trend = max(0, 1 − var(R)/var(T+R)) and F_seasonal = max(0,
    // 1 − var(R)/var(S+R)) — the two scalars that say whether the
    // decomposition found anything. Same calendar-bounded decomposition
    // (7-day centered MA trend, per-dow median seasonal); each
    // component value quantizes to integer milli-units ONCE per day (the
    // micro-unit discipline at cents×10³ scale), so all three variances
    // are exact BIGINT/decimal-38 moment algebra and each strength is a
    // closed-form float over exact integers.
    "q_seasonal_strength" -> ((s, dir) => {
      val daily = dailyRevenue(s, dir)
        .select(col("day"), col("rev"),
          dayofweek(col("day")).cast("long").as("dow"))
      val wTrend = BoundedWindow.ordered(col("day"), col("day"))
        .rowsBetween(-3, 3)
      val detrended = daily
        .withColumn("trend", avg(col("rev")).over(wTrend))
        .withColumn("detr", col("rev") - col("trend"))
      val seas = detrended.groupBy("dow")
        .agg(expr("percentile(detr, 0.5)").as("seasonal"))
      val comp = detrended.join(broadcast(seas), "dow")
        .select(
          floor((col("detr") - col("seasonal")) * lit(1000.0)).cast("long")
            .as("rm"),
          floor(col("detr") * lit(1000.0)).cast("long").as("sr"),
          floor((col("rev") - col("seasonal")) * lit(1000.0)).cast("long")
            .as("tr"))
      def v(c: String): Column = {
        val x = col(c).cast("decimal(38,0)")
        sum(x * x).as(s"q_$c")
      }
      val g = comp.agg(count(lit(1)).as("n"),
        sum(col("rm")).as("s_rm"), v("rm"),
        sum(col("sr")).as("s_sr"), v("sr"),
        sum(col("tr")).as("s_tr"), v("tr"))
      val nD = col("n").cast("double")
      def vr(s0: String, q: String): Column =
        col(q).cast("double") / nD -
          (col(s0).cast("double") / nD) * (col(s0).cast("double") / nD)
      val fT = greatest(lit(0.0),
        lit(1.0) - vr("s_rm", "q_rm") / vr("s_tr", "q_tr"))
      val fS = greatest(lit(0.0),
        lit(1.0) - vr("s_rm", "q_rm") / vr("s_sr", "q_sr"))
      g.select(col("n").as("n_days"),
        when(vr("s_tr", "q_tr") > 0, r6(fT)).as("strength_trend"),
        when(vr("s_sr", "q_sr") > 0, r6(fS)).as("strength_seasonal"))
    }),

    // ---- CUSUM changepoint detection --------------------------------------
    // Page's cumulative-sum statistic over the same daily frame: S_d =
    // Σ_{≤d}(rev − mean), changepoint = argmax |S| (Pettitt-style single
    // changepoint), significance via the normalized S_max/(σ√n). The
    // running sum is computed in DATE order on BOTH engines — an
    // identical float-op sequence, so cross-engine parity is structural,
    // not rounded-away; σ is the one Welford-order term (r4, the
    // q_corr_stats precedent). Everything after the daily aggregate
    // rides windows on the calendar-bounded frame.
    "q_changepoint" -> ((s, dir) => {
      val daily = dailyRevenue(s, dir)
      val wAll = BoundedWindow.whole(col("day"))
      val wRun = BoundedWindow.ordered(col("day"), col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = daily
        .withColumn("mu", avg(col("rev")).over(wAll))
        .withColumn("sd", stddev_pop(col("rev")).over(wAll))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("cusum", sum(col("rev") - col("mu")).over(wRun))
      val ranked = cum.withColumn("rn", row_number().over(
        BoundedWindow.ordered(col("day"), abs(col("cusum")).desc, col("day"))))
      ranked.where(col("rn") === 1)
        .select(col("n").as("n_days"), col("day").as("cp_day"),
          r2(abs(col("cusum")) / lit(100.0)).as("max_cusum"),
          r4(abs(col("cusum")) / (col("sd") * sqrt(col("n")))).as("stat"))
    }),

    // ---- Pettitt rank change-point test (beyond reference, r11) -----------
    // The DISTRIBUTION-FREE counterpart of q_changepoint: CUSUM's argmax
    // assumes a mean shift in the VALUES (one outlier day can own the
    // peak); Pettitt (1979) ranks instead — U_t = Σ_{i≤t}Σ_{j>t}
    // sgn(xᵢ−xⱼ), K = max|U_t|, the Mann–Whitney statistic swept over
    // every split point — so the detected break is robust to the revenue
    // scale outright. The O(n²) double sum collapses to ONE linear pass
    // via the antisymmetry identity Σ_{i≤t}Σ_{j≤t} sgn(xᵢ−xⱼ) = 0, giving
    // U_t = Σ_{i≤t}(aᵢ−bᵢ) with aᵢ/bᵢ the GLOBAL strictly-below/above
    // census of day i's value — two RANGE frames of one value-ordered
    // window over the calendar-bounded daily frame (ties contribute 0 to
    // sgn and sit in neither frame, handling them exactly). Everything is
    // exact BIGINT through K; the only floats are the closed-form
    // significance p ≈ 2·exp(−6K²/(n³+n²)) (Pettitt's approximation,
    // clamped to 1) and its 5% flag on the ROUNDED p.
    "q_pettitt" -> ((s, dir) => {
      val daily = dailyRevenue(s, dir)
      val wVal = BoundedWindow.ordered(col("day"), col("rev"))
      val below = count(lit(1)).over(
        wVal.rangeBetween(Window.unboundedPreceding, -1))
      val above = count(lit(1)).over(
        wVal.rangeBetween(1, Window.unboundedFollowing))
      val wCum = BoundedWindow.ordered(col("day"), col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = BoundedWindow.whole(col("day"))
      val u = daily
        .withColumn("d", below - above)
        .withColumn("ut", sum(col("d")).over(wCum))
        .withColumn("n", count(lit(1)).over(wAll))
      val ranked = u.withColumn("rn", row_number().over(
        BoundedWindow.ordered(col("day"), abs(col("ut")).desc, col("day"))))
      val k = abs(col("ut")).cast("double")
      val nD = col("n").cast("double")
      val p = least(lit(1.0),
        lit(2.0) * exp(lit(-6.0) * k * k / (nD * nD * nD + nD * nD)))
      val pR = r6(p)
      ranked.where(col("rn") === 1)
        .select(col("n").as("n_days"), col("day").as("cp_day"),
          abs(col("ut")).as("k_stat"), col("ut").as("u_at_cp"),
          pR.as("p_approx"),
          (pR < lit(0.05)).cast("long").as("reject_95"))
    }),

    // ---- turning-point randomness test (beyond reference, r11) ------------
    // Kendall's phase test — the third face of "is this series random?"
    // next to q_runs_test (sign runs of DIFFS) and q_ljung_box
    // (autocorrelation): count interior days that are strict local
    // extrema. Under i.i.d. exchangeability every interior triple is a
    // turning point with probability 2/3, so E[T] = 2(n−2)/3 and Var =
    // (16n−29)/90 (Kendall & Stuart) — too few peaks means trend/
    // persistence, too many means alternation. T and n are EXACT BIGINTs
    // off one lag/lead window over the calendar-bounded daily frame
    // (ties break strictness on both engines identically — a tied
    // neighbour is not an extremum); z is one closed-form float, n < 3
    // abstains NULL.
    "q_turning_points" -> ((s, dir) => {
      val daily = dailyRevenue(s, dir)
      val w = BoundedWindow.ordered(col("day"), col("day"))
      val lagged = daily
        .withColumn("p", lag(col("rev"), 1).over(w))
        .withColumn("nx", lead(col("rev"), 1).over(w))
      val isTp = when(col("p").isNotNull && col("nx").isNotNull &&
        ((col("p") < col("rev") && col("nx") < col("rev")) ||
          (col("p") > col("rev") && col("nx") > col("rev"))), 1L)
        .otherwise(0L)
      val g = lagged.agg(count(lit(1)).as("n"), sum(isTp).as("t"))
      val nD = col("n").cast("double")
      val e = lit(2.0) * (nD - lit(2.0)) / lit(3.0)
      val v = (lit(16.0) * nD - lit(29.0)) / lit(90.0)
      val z = (col("t").cast("double") - e) / sqrt(v)
      val ok = col("n") >= 3L
      val zR = when(ok, r6(z))
      g.select(col("n").as("n_days"), col("t").as("n_turning"),
        when(ok, r4(e)).as("expected"), zR.as("z_stat"),
        coalesce((abs(zR) > lit(1.959963984540054)).cast("long"), lit(0L))
          .as("reject_95"))
    }),

    "q_drift_psi" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_totalprice").as("v"),
        (to_date(col("o_orderdate")) < lit("1999-01-01").cast("date")).as("is_ref"))
      val cuts = o.where(col("is_ref")).agg(expr(
        "percentile(v, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))").as("bs"))
      val w = BoundedWindow.whole(col("bin")) // ≤10 decile-bin rows
      val binned = o.crossJoin(broadcast(cuts))
        .select(col("is_ref"),
          (size(filter(col("bs"), b => col("v") > b)) + 1).cast("long").as("bin"))
        .groupBy("bin")
        .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
          sum(when(!col("is_ref"), 1L).otherwise(0L)).as("n_cur"))
      val p = (col("n_ref") + lit(0.5)) / (sum(col("n_ref")).over(w) + lit(5.0))
      val q = (col("n_cur") + lit(0.5)) / (sum(col("n_cur")).over(w) + lit(5.0))
      binned.select(col("bin"), col("n_ref"), col("n_cur"),
          (floor((p - q) * log(p / q) * lit(1000000.0) + lit(0.500001))
            / lit(1000000.0)).as("psi_term"))
        .orderBy("bin")
    }),

    // ---- Autocorrelation function -----------------------------------------
    // ACF of daily revenue at lags 1–7 (the weekly-seasonality fingerprint
    // that motivates q_seasonal_decompose's dow model). Lags ride ONE
    // ordered window over the calendar-bounded daily frame; the statistic
    // is assembled from EXACT sums only — Σr·r₋ₖ in decimal(38,0) (the
    // q_regression discipline: day-total cents² is ~1.5e18 per row at
    // sf0.1, past BIGINT one scale-up), pair-window sums Σ'r, Σ'r₋ₖ and
    // counts in BIGINT — expanded as Σ(r−m)(r₋ₖ−m) = p − m·a − m·b + n·m²,
    // so no order-dependent float accumulation exists anywhere; both
    // engines run the identical final float sequence. Denominator is the
    // full-series Σ(r−m)² (the standard ACF normalization).
    "q_acf" -> ((s, dir) => {
      val g = lagMoments(s, dir, 7)
      val nnD = col("nn").cast("double"); val ssD = col("ss").cast("double")
      val m = ssD / nnD
      val den = col("syy").cast("double") - ssD * ssD / nnD
      val terms = (1 to 7).map { k =>
        val num = col(s"p$k").cast("double") - m * col(s"a$k").cast("double") -
          m * col(s"b$k").cast("double") + col(s"n$k").cast("double") * m * m
        struct(lit(k.toLong).as("lag"), col(s"n$k").as("n_pairs"),
          (floor(num / den * lit(1000000.0) + lit(0.500001))
            / lit(1000000.0)).as("acf"))
      }
      g.select(explode(array(terms: _*)).as("t"))
        .select(col("t.lag").as("lag"), col("t.n_pairs").as("n_pairs"),
          col("t.acf").as("acf"))
        .orderBy("lag")
    }),

    // ---- partial autocorrelation (Durbin–Levinson, lags 1–5) (r11) ---------
    // The other half of the Box–Jenkins identification pair: q_acf says
    // WHICH lags correlate, PACF says which correlate DIRECTLY (AR-order
    // reading — φ_kk is lag k's correlation after regressing out lags
    // 1..k−1). Same exact-integer lag moments as q_acf (pair-window sums,
    // decimal products), the raw r₁..r₅ doubles feed the Durbin–Levinson
    // recursion UNROLLED to a fixed dag of named scalar columns on the
    // 1-row moment frame — both engines replay the identical float
    // sequence step for step (each CTE-named intermediate mirrors a
    // withColumn). A constant series (den = 0) or a singular step
    // (d_k = 0, |r|=1 degenerate) abstains that lag and everything
    // after it with NULL on both engines (NULL arithmetic propagates
    // identically through the recursion).
    "q_pacf" -> ((s, dir) => {
      val g = lagMoments(s, dir, 5)
      val nnD = col("nn").cast("double"); val ssD = col("ss").cast("double")
      val m = ssD / nnD
      val den = col("syy").cast("double") - ssD * ssD / nnD
      def rk(k: Int): Column = {
        val num = col(s"p$k").cast("double") - m * col(s"a$k").cast("double") -
          m * col(s"b$k").cast("double") + col(s"n$k").cast("double") * m * m
        when(den > 0.0, num / den)
      }
      val dl = g
        .withColumn("r1", rk(1)).withColumn("r2", rk(2))
        .withColumn("r3", rk(3)).withColumn("r4", rk(4))
        .withColumn("r5", rk(5))
        .withColumn("phi11", col("r1"))
        .withColumn("d2", lit(1.0) - col("phi11") * col("r1"))
        .withColumn("phi22", when(col("d2") =!= 0.0,
          (col("r2") - col("phi11") * col("r1")) / col("d2")))
        .withColumn("phi21",
          col("phi11") - col("phi22") * col("phi11"))
        .withColumn("d3", lit(1.0) -
          (col("phi21") * col("r1") + col("phi22") * col("r2")))
        .withColumn("phi33", when(col("d3") =!= 0.0,
          (col("r3") - (col("phi21") * col("r2") +
            col("phi22") * col("r1"))) / col("d3")))
        .withColumn("phi31", col("phi21") - col("phi33") * col("phi22"))
        .withColumn("phi32", col("phi22") - col("phi33") * col("phi21"))
        .withColumn("d4", lit(1.0) - (col("phi31") * col("r1") +
          col("phi32") * col("r2") + col("phi33") * col("r3")))
        .withColumn("phi44", when(col("d4") =!= 0.0,
          (col("r4") - (col("phi31") * col("r3") + col("phi32") * col("r2") +
            col("phi33") * col("r1"))) / col("d4")))
        .withColumn("phi41", col("phi31") - col("phi44") * col("phi33"))
        .withColumn("phi42", col("phi32") - col("phi44") * col("phi32"))
        .withColumn("phi43", col("phi33") - col("phi44") * col("phi31"))
        .withColumn("d5", lit(1.0) - (col("phi41") * col("r1") +
          col("phi42") * col("r2") + col("phi43") * col("r3") +
          col("phi44") * col("r4")))
        .withColumn("phi55", when(col("d5") =!= 0.0,
          (col("r5") - (col("phi41") * col("r4") + col("phi42") * col("r3") +
            col("phi43") * col("r2") + col("phi44") * col("r1"))) /
            col("d5")))
      val rows = (1 to 5).map(k => struct(lit(k.toLong).as("lag"),
        r6(col(s"phi$k$k")).as("pacf"), r6(col(s"r$k")).as("acf")))
      dl.select(col("nn").as("n_days"), explode(array(rows: _*)).as("t"))
        .select(col("t.lag").as("lag"), col("n_days"),
          col("t.acf").as("acf"), col("t.pacf").as("pacf"))
        .orderBy("lag")
    }),

    // ---- Lo–MacKinlay variance ratio test (r11) ------------------------------
    // The THIRD unit-root angle after q_dickey_fuller (AR root) and
    // q_kpss (level stationarity): under a random walk the variance of
    // q-period changes is exactly q× the 1-period variance, so VR(5) =
    // Var₅/(5·Var₁) ≈ 1; VR < 1 reads mean reversion, VR > 1 trending
    // (Lo & MacKinlay 1988; level differences, stated contract). Every
    // moment is EXACT: daily diffs d_t are BIGINT, the 5-period sums ride
    // one ordered window and stay BIGINT, and both variances expand from
    // Σd/Σd²/Σs/Σs² decimal(38,0) sums — the centered forms are closed
    // floats of exact integers, so parity is structural. z uses the
    // homoskedastic asymptotic √(2(2q−1)(q−1)/(3qn)); degenerate frames
    // (constant series, < q+1 days) abstain NULL.
    "q_variance_ratio" -> ((s, dir) => {
      val q = 5
      val daily = dailyRevenue(s, dir)
      val w = BoundedWindow.ordered(col("day"), col("day"))
      val diffs = daily
        .withColumn("d", col("rev") - lag(col("rev"), 1).over(w))
        .where(col("d").isNotNull)
      val withS = diffs.withColumn("s5",
        when(row_number().over(w) >= q,
          sum(col("d")).over(w.rowsBetween(-(q - 1), 0))))
      val dec = "decimal(38,0)"
      val m = withS.agg(count(lit(1)).as("n"), sum(col("d")).as("sd"),
        sum(col("d").cast(dec) * col("d").cast(dec)).as("sdd"),
        count(col("s5")).as("mm"), sum(col("s5")).as("ss"),
        sum(col("s5").cast(dec) * col("s5").cast(dec)).as("sss"))
      val nD = col("n").cast("double"); val mD = col("mm").cast("double")
      val mu = col("sd").cast("double") / nD
      val var1 = (col("sdd").cast("double") -
        col("sd").cast("double") * col("sd").cast("double") / nD) / nD
      val qmu = lit(q.toDouble) * mu
      val var5 = (col("sss").cast("double") -
        lit(2.0) * qmu * col("ss").cast("double") + mD * qmu * qmu) / mD
      val ok = col("n") > q.toLong && col("mm") > 0L && var1 > 0.0
      val vr = var5 / (lit(q.toDouble) * var1)
      val se = sqrt(lit(2.0 * (2 * q - 1) * (q - 1) / (3.0 * q)) / nD)
      val zR = when(ok, r6((vr - lit(1.0)) / se))
      m.select(col("n").as("n_diffs"),
        when(ok, r6(vr)).as("vr5"), zR.as("z_stat"),
        coalesce((abs(zR) > lit(1.959963984540054)).cast("long"), lit(0L))
          .as("reject_rw_95"))
    }),

    // ---- winsorized mean of daily revenue (r11) -----------------------------
    // The robust-location companion to q_trimmed_mean that KEEPS every
    // observation: clamp the daily series to its own exact [p05, p95]
    // (Ranks.exactQuantileCont — the distributed quickselect, so the
    // fences are the same doubles DuckDB's quantile_cont interpolates,
    // never an approximate sketch) and average the clamped values. Day-
    // ORDERED cumulative sum (the q_anova discipline) keeps the float
    // sequence identical cross-engine; the clip censuses are exact
    // BIGINTs off strict comparisons against the fence literals.
    "q_winsorize" -> ((s, dir) => {
      val daily = dailyRevenue(s, dir)
      val lo = Ranks.exactQuantileCont(daily, col("rev"), 0.05)
      val hi = Ranks.exactQuantileCont(daily, col("rev"), 0.95)
      val wOrd = BoundedWindow.ordered(col("day"), col("day"))
      val wCum = wOrd.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      val wAll = BoundedWindow.whole(col("day"))
      val acc = daily
        .withColumn("cl", least(greatest(col("rev").cast("double"),
          lit(lo)), lit(hi)))
        .withColumn("rn", row_number().over(wOrd))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("s", sum(col("cl")).over(wCum))
        .withColumn("n_lo", sum((col("rev").cast("double") < lit(lo))
          .cast("long")).over(wAll))
        .withColumn("n_hi", sum((col("rev").cast("double") > lit(hi))
          .cast("long")).over(wAll))
      acc.where(col("rn") === col("n"))
        .select(col("n").as("n_days"),
          r2(lit(lo) / lit(100.0)).as("fence_lo"),
          r2(lit(hi) / lit(100.0)).as("fence_hi"),
          col("n_lo"), col("n_hi"),
          r4(col("s") / col("n").cast("double") / lit(100.0))
            .as("winsor_mean"))
    }),

    // ---- seasonal-naive forecast backtest ---------------------------------
    // The q_acf lag-7 signal put to work: hold out the last BacktestDays of
    // the daily revenue series, forecast each held-out day as the revenue 7
    // days earlier (seasonal-naive — the standard forecasting baseline any
    // real model must beat), and score per-day absolute error, APE, and the
    // MASE-scaled error (Hyndman & Koehler 2006: error / in-sample naive-1
    // MAE). Plan shape: ONE orders shuffle to the calendar-bounded daily
    // frame; the 7-day-back and 1-day-back lookups are broadcast self-joins
    // on that tiny frame (date-equi, never window-over-gaps — a sparse
    // calendar just drops unmatched days instead of silently lagging over
    // them); train-scale and max-day attach as broadcast 1-row aggregates.
    // Floats: revenue stays integer cents end-to-end; the MASE denominator
    // Σ|naive-1 error| is BIGINT-exact, so every output float is a single
    // division over exact integers — no accumulation order exists.
    "q_forecast" -> ((s, dir) => {
      val daily = dailyRevenue(s, dir)
      val mx = daily.agg(max(col("day")).as("max_day"))
      val hist7 = daily.select(date_add(col("day"), 7).as("day"),
        col("rev").as("rev_m7"))
      val hist1 = daily.select(date_add(col("day"), 1).as("day"),
        col("rev").as("rev_m1"))
      val tr = daily.crossJoin(broadcast(mx))
        .where(col("day") <= date_sub(col("max_day"), BacktestDays))
        .join(broadcast(hist1), Seq("day"))
        .agg(sum(abs(col("rev") - col("rev_m1"))).as("sum_d"),
          count(lit(1)).as("n_tr"))
      val err = abs(col("rev") - col("rev_m7"))
      daily.crossJoin(broadcast(mx))
        .where(col("day") > date_sub(col("max_day"), BacktestDays))
        .join(broadcast(hist7), Seq("day"))
        .crossJoin(broadcast(tr))
        .select(col("day"), col("rev").as("actual_cents"),
          col("rev_m7").as("forecast_cents"),
          err.as("abs_err_cents"),
          r6(err.cast("double") / col("rev")).as("ape"),
          // A perfectly constant training series gives sum_d = 0: Spark's
          // x/0 would surface Infinity where DuckDB yields NULL. Abstain
          // with NULL on both engines (q_mad_outliers zero-guard
          // discipline; the oracle carries the matching CASE).
          when(col("sum_d") > 0,
            r6(err.cast("double") * col("n_tr") / col("sum_d"))).as("mase"))
        .orderBy("day")
    }),

    // ---- running-peak drawdown (beyond reference, round 9) ----------------
    // The finance-style health metric on the daily revenue series: each
    // day's shortfall from the best day seen SO FAR (running peak), plus
    // the global maximum drawdown — "how far below its own high-water mark
    // did the business trade". One orders shuffle to the calendar-bounded
    // daily frame; running peak and the global max ride two window passes
    // over that bounded frame. Revenue stays integer cents end-to-end; the
    // only float per row is ONE division over exact integers, so the hash
    // oracle is exact.
    "q_drawdown" -> ((s, dir) => {
      val daily = dailyRevenue(s, dir)
      val w = BoundedWindow.ordered(col("day"), col("day"))
      val dd = daily
        .withColumn("peak",
          max(col("rev")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("drawdown_pct",
          when(col("peak") > 0,
            r6((col("peak") - col("rev")).cast("double") /
              col("peak").cast("double"))).otherwise(lit(0.0)))
      dd.select(col("day"), col("rev"), col("peak"), col("drawdown_pct"),
          r6(max(col("drawdown_pct")).over(BoundedWindow.whole(col("day"))))
            .as("max_drawdown"))
        .orderBy("day")
    }),

    // ---- cross-correlation function (beyond reference, round 9) -----------
    // Lead/lag coupling between the funnel's two daily traffic series:
    // Pearson r of (views_t, purchases_{t+k}) for k ∈ [-3, +3]. Positive
    // lags answer "does view traffic LEAD purchases", the causal-direction
    // screen ACF can't give. (The orders and events fixtures live on
    // disjoint calendars — 1995–2001 vs 2024 — so the series pair must
    // come from ONE table.) Shape: two daily rollups off the same events
    // scan (each one shuffle, calendar-bounded), the purchase frame fans
    // out ×7 via explode (still calendar-bounded), ONE broadcast equi-join
    // on day, and a 7-group hash-agg of exact integer moments (decimal-38
    // products — no float accumulation); each output float is the same
    // 3-op expression over those integers on both engines.
    "q_ccf" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val rev = ev.where(col("event_type") === "view")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val evn = ev.where(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("y"))
      val shifted = evn.select(explode(array((-3 to 3).map(k =>
          struct(lit(k.toLong).as("lag"),
            date_add(col("day"), -k).as("day"))): _*)).as("s"), col("y"))
        .select(col("s.lag").as("lag"), col("s.day").as("day"), col("y"))
      val xd = col("x").cast("decimal(38,0)")
      val yd = col("y").cast("decimal(38,0)")
      val m = rev.join(broadcast(shifted), Seq("day"))
        .groupBy(col("lag"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(xd * yd).as("sxy"),
          sum(xd * xd).as("sxx"), sum(yd * yd).as("syy"))
      val nD = col("n_pairs").cast("decimal(38,0)")
      val num = (nD * col("sxy") - col("sx").cast("decimal(38,0)") *
        col("sy").cast("decimal(38,0)")).cast("double")
      val denx = (nD * col("sxx") - col("sx").cast("decimal(38,0)") *
        col("sx").cast("decimal(38,0)")).cast("double")
      val deny = (nD * col("syy") - col("sy").cast("decimal(38,0)") *
        col("sy").cast("decimal(38,0)")).cast("double")
      m.select(col("lag"), col("n_pairs"),
          // constant series ⇒ zero variance: abstain with NULL identically
          when(col("n_pairs") > 1 && denx > 0 && deny > 0,
            r6(num / sqrt(denx) / sqrt(deny))).as("ccf"))
        .orderBy("lag")
    }),

    // ---- Hurst exponent via rescaled-range analysis (beyond ref, r9) ------
    // Mandelbrot–Wallis R/S: is daily revenue mean-reverting (H < ½),
    // a random walk (H ≈ ½), or long-range trending (H > ½)? For block
    // sizes m ∈ {8,16,32,64} the observed-day series splits into
    // consecutive complete blocks; per block the rescaled range R/S
    // reduces to the ALL-INTEGER identity A/√V with A = m·(max Z* − min
    // Z*) and V = m·Σx² − (Σx)² where Z*_j = m·cumsum_j − (j+1)·Σx — the
    // cumulative-deviation and population-std scalings cancel, so each
    // block contributes ONE division and ONE IEEE sqrt over exact
    // integers (x² sums in decimal(38,0): day-cents² ≈ 10¹⁸ × 64 exceeds
    // int64). Block means are exact micro-unit sums (the q_entropy_rate
    // discipline — no float accumulation), and H is the closed-form OLS
    // slope of ln(mean R/S) on ln m over the four sizes, pivoted into one
    // row so every float op has a fixed textual order. Scale shape: one
    // orders shuffle to the calendar-bounded daily frame; the ×4 explode,
    // both window passes and all aggregates live on ≤ 4×|days| rows —
    // bounded by the CALENDAR, not the corpus.
    "q_hurst" -> ((s, dir) => {
      val daily = dailyRevenue(s, dir)
      val idx = row_number().over(BoundedWindow.ordered(col("day"), col("day")))
        .cast("long") - 1L
      val exploded = daily
        .select(col("day"), col("rev"), idx.as("i"))
        .select(col("rev"), col("i"),
          explode(array(Seq(8L, 16L, 32L, 64L).map(lit): _*)).as("m"))
        .select(col("m"), col("rev"),
          floor(col("i") / col("m")).cast("long").as("blk"),
          pmod(col("i"), col("m")).as("pos"))
      val wBlk = Window.partitionBy(col("m"), col("blk"))
      val wCum = wBlk.orderBy(col("pos"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val revD = col("rev").cast("decimal(38,0)")
      val z = exploded
        .withColumn("cnt", count(lit(1)).over(wBlk))
        .withColumn("sb", sum(col("rev")).over(wBlk))
        .withColumn("s2b", sum(revD * revD).over(wBlk))
        .withColumn("mz",
          col("m") * sum(col("rev")).over(wCum) - (col("pos") + 1L) * col("sb"))
      val blocks = z.where(col("cnt") === col("m"))
        .groupBy(col("m"), col("blk"))
        .agg((max(col("mz")) - min(col("mz"))).as("a"),
          (max(col("m").cast("decimal(38,0)") * col("s2b")) -
            max(col("sb").cast("decimal(38,0)") * col("sb"))).as("v"))
      val rs = col("a").cast("double") / sqrt(col("v").cast("double"))
      val per = blocks.where(col("v") > 0)
        .select(col("m"), floor(rs * lit(1000000.0)).cast("long").as("micro"))
        .groupBy("m")
        .agg(count(lit(1)).as("n_blocks"), sum(col("micro")).as("sm"))
        .select(col("m"), col("n_blocks"),
          (col("sm").cast("double") / col("n_blocks") / lit(1000000.0))
            .as("mean_rs"))
      // mean_rs > 0 guard: all-constant blocks give R = 0 → mean_rs = 0,
      // where LN hard-errors on DuckDB vs NULL on Spark (r10 sweep); the
      // NULL y then abstains the slope via the existing isNotNull gate
      def yAt(sz: Long) = max(when(col("m") === sz && col("mean_rs") > 0,
        log(col("mean_rs"))))
      def xAt(sz: Long) = max(when(col("m") === sz, log(col("m").cast("double"))))
      val pv = per.agg(
        xAt(8).as("x1"), xAt(16).as("x2"), xAt(32).as("x3"), xAt(64).as("x4"),
        yAt(8).as("y1"), yAt(16).as("y2"), yAt(32).as("y3"), yAt(64).as("y4"))
      val sx = col("x1") + col("x2") + col("x3") + col("x4")
      val sy = col("y1") + col("y2") + col("y3") + col("y4")
      val sxy = col("x1") * col("y1") + col("x2") * col("y2") +
        col("x3") * col("y3") + col("x4") * col("y4")
      val sxx = col("x1") * col("x1") + col("x2") * col("x2") +
        col("x3") * col("x3") + col("x4") * col("x4")
      val slope = pv.select(
        when(col("y1").isNotNull && col("y2").isNotNull &&
          col("y3").isNotNull && col("y4").isNotNull,
          (lit(4.0) * sxy - sx * sy) / (lit(4.0) * sxx - sx * sx))
          .as("hurst0"))
      per.crossJoin(broadcast(slope))
        .select(col("m"), col("n_blocks"), r6(col("mean_rs")).as("mean_rs"),
          r6(col("hurst0")).as("hurst"))
        .orderBy("m")
    }),

    // ---- Theil's U2 forecast-skill ratio (beyond reference, r10) ----------
    // The number that says whether q_forecast's seasonal-naive model beats
    // the trivial no-change forecast AT ALL: U2 = √(Σ((f_t−a_t)/a_{t−1})²
    // / Σ((a_t−a_{t−1})/a_{t−1})²) over the backtest window — U2 < 1 means
    // the lag-7 model adds skill over lag-1, U2 ≥ 1 means it doesn't
    // (Theil 1966). Same daily frame + broadcast date-equi lookbacks as
    // q_forecast. Float discipline: each squared relative term quantizes
    // to 1e-12 micro-units in BIGINT before summing (the linkPrediction
    // discipline — no order-dependent float accumulation), so U2 is one
    // division + sqrt over two exact integers. Revenue cents are > 0 on
    // any observed day, so the relative denominators are safe.
    "q_theil_u" -> ((s, dir) => {
      val daily = dailyRevenue(s, dir)
      val mx = daily.agg(max(col("day")).as("max_day"))
      val hist7 = daily.select(date_add(col("day"), 7).as("day"),
        col("rev").as("rev_m7"))
      val hist1 = daily.select(date_add(col("day"), 1).as("day"),
        col("rev").as("rev_m1"))
      def sq(num: Column): Column = {
        val rel = num.cast("double") / col("rev_m1").cast("double")
        floor(rel * rel * lit(1000000000000.0)).cast("long")
      }
      daily.crossJoin(broadcast(mx))
        .where(col("day") > date_sub(col("max_day"), BacktestDays))
        .join(broadcast(hist7), Seq("day"))
        .join(broadcast(hist1), Seq("day"))
        .agg(count(lit(1)).as("n_days"),
          sum(sq(col("rev_m7") - col("rev"))).as("num_micro"),
          sum(sq(col("rev") - col("rev_m1"))).as("den_micro"))
        .select(col("n_days"), col("num_micro"), col("den_micro"),
          when(col("den_micro") > 0L,
            r6(sqrt(col("num_micro").cast("double") /
              col("den_micro").cast("double")))).as("theil_u2"),
          coalesce((when(col("den_micro") > 0L,
            sqrt(col("num_micro").cast("double") /
              col("den_micro").cast("double"))) < 1.0).cast("long"),
            lit(0L)).as("model_adds_skill"))
    }),

    // ---- Page–Hinkley drift detector (beyond reference, r10) --------------
    // The sequential mean-shift monitor (Page 1954; Hinkley 1971) the
    // batch q_changepoint can't be: PH_t = m_t − min_{i≤t} m_i with
    // m_t = Σ_{i≤t}(x_i − x̄_i − δ), where x̄_i is the RUNNING mean —
    // designed to run as data arrives, here replayed over the daily
    // revenue series in date order. δ and the alarm bar λ are set from
    // the series itself (δ = 0.05σ, λ = 3σ, σ = population std — both
    // engines compute the identical windows). Scale shape: one orders
    // shuffle to the calendar-bounded daily frame; running mean, the m
    // cumulative and its running min are three ordered windows over that
    // bounded frame, executing in DATE order on both engines (the
    // q_changepoint structural-parity discipline — identical float
    // sequence, no reordering to diverge).
    "q_page_hinkley" -> ((s, dir) => {
      val cents = ColumnOps.cents(col("o_totalprice"))
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg((sum(cents).cast("double") / lit(1000000.0)).as("x"))
      val wAll = BoundedWindow.whole(col("day"))
      val wRun = BoundedWindow.ordered(col("day"), col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val withStats = daily
        .withColumn("sigma", stddev_pop(col("x")).over(wAll))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("runmean",
          sum(col("x")).over(wRun) / count(lit(1)).over(wRun))
      val m = withStats.withColumn("m",
        sum(col("x") - col("runmean") - lit(0.05) * col("sigma")).over(wRun))
      val ph = m.withColumn("ph", col("m") - min(col("m")).over(wRun))
      val ranked = ph.withColumn("rk", row_number().over(
        BoundedWindow.ordered(col("day"), col("ph").desc, col("day"))))
      ranked.where(col("rk") === 1)
        .select(col("n").as("n_days"), col("day").as("peak_day"),
          r4(col("ph")).as("max_ph"),
          r4(lit(3.0) * col("sigma")).as("lambda"),
          (r4(col("ph")) > r4(lit(3.0) * col("sigma"))).cast("long")
            .as("drift_alarm"))
    }),

    // ---- Ljung–Box portmanteau test (r11) ---------------------------------
    // The one-number answer to q_acf's seven: "is there ANY autocorrelation
    // left?" (Ljung & Box 1978) — Q = n(n+2)·Σ_{k≤h} ρ̂_k²/(n−k) vs
    // χ²₀.₀₅,₇ = 14.067140449340169. ρ̂_k comes from the exact q_acf moment
    // algebra and is r6-PINNED before entering Q, so both engines square
    // and sum the IDENTICAL seven doubles in the same literal k=1..7
    // order (a left-fold add chain, not an aggregate) — parity is
    // structural, no micro-quantization needed. Same single shuffle to
    // the calendar-bounded daily frame, seven lag columns in one window
    // pass, one global aggregate.
    "q_ljung_box" -> ((s, dir) => {
      val h = 7
      val g = lagMoments(s, dir, h)
      val nnD = col("nn").cast("double"); val ssD = col("ss").cast("double")
      val m = ssD / nnD
      val den = col("syy").cast("double") - ssD * ssD / nnD
      // den = 0 on a constant series: Spark floor(NaN) is 0 but the oracle's
      // NULL would diverge — the q_pacf/q_durbin_watson den > 0 guard makes
      // both engines abstain NULL on the degenerate input.
      val rho = (1 to h).map { k =>
        val num = col(s"p$k").cast("double") - m * col(s"a$k").cast("double") -
          m * col(s"b$k").cast("double") + col(s"n$k").cast("double") * m * m
        when(den > 0.0,
          floor(num / den * lit(1000000.0) + lit(0.500001)) / lit(1000000.0))
      }
      val q = when(den > 0.0, nnD * (nnD + 2.0) * (1 to h).map(k =>
        rho(k - 1) * rho(k - 1) / (nnD - k.toDouble)).reduce(_ + _))
      g.select(col("nn").as("n_days"), lit(h.toLong).as("h"),
        r6(q).as("q_stat"),
        (r6(q) > 14.067140449340169).cast("long").as("reject_95"))
    }),

    // ---- two-sided CUSUM control chart (r11) ------------------------------
    // Page (1954)'s cumulative-sum chart — the drift detector with the
    // shortest detection delay for small persistent mean shifts, which
    // q_page_hinkley's single-peak summary and q_rolling_anomaly's
    // day-local z both miss. The recursive S_i = max(0, S_{i−1} + w_i)
    // is not window-expressible, but its CLOSED FORM is: with prefix sums
    // P_i = Σ_{j≤i} w_j and P_0 = 0, S_i = P_i − min(0, min_{j≤i} P_j) —
    // two ordered windows over the calendar-bounded daily frame, run in
    // DATE order on both engines (the q_page_hinkley structural-parity
    // discipline: identical float sequence, so no rounding divergence).
    // Standard tuning k = 0.5σ slack, h = 5σ alarm; top 10 days by the
    // r6-ROUNDED two-sided statistic with a day tie-break.
    "q_cusum" -> ((s, dir) => {
      val daily = dailyRevenue(s, dir)
        .withColumn("x", col("rev").cast("double") / lit(1000000.0))
      val wAll = BoundedWindow.whole(col("day"))
      val wRun = BoundedWindow.ordered(col("day"), col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val st = daily
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("mu",
          sum(col("x")).over(wAll) / count(lit(1)).over(wAll))
        .withColumn("sigma", stddev_pop(col("x")).over(wAll))
      val cums = st
        .withColumn("p",
          sum(col("x") - col("mu") - lit(0.5) * col("sigma")).over(wRun))
        .withColumn("q",
          sum(col("mu") - lit(0.5) * col("sigma") - col("x")).over(wRun))
        .withColumn("spos",
          col("p") - least(min(col("p")).over(wRun), lit(0.0)))
        .withColumn("sneg",
          col("q") - least(min(col("q")).over(wRun), lit(0.0)))
      val stat = r6(greatest(col("spos"), col("sneg")))
      val ranked = cums
        .withColumn("stat_r", stat)
        .withColumn("rk", row_number().over(
          BoundedWindow.ordered(col("day"), col("stat_r").desc, col("day"))))
        .where(col("rk") <= 10)
      ranked.select(col("day"),
          (col("rev") / lit(100)).as("rev_dollars"),
          r4(col("spos")).as("cusum_pos"),
          r4(col("sneg")).as("cusum_neg"),
          (col("stat_r") > r6(lit(5.0) * col("sigma"))).cast("long")
            .as("alarm"))
        .orderBy(col("cusum_pos").desc, col("cusum_neg").desc, col("day"))
    }),

    // ---- Durbin–Watson residual autocorrelation (r11) ---------------------
    // The canonical "did my trend fit leave serial structure in the
    // residuals?" check (Durbin & Watson 1950) — the question q_regression
    // cannot answer and q_ljung_box asks of the RAW series, not the
    // detrended one. The daily-revenue OLS line over epoch-day t comes
    // from exact integer moments (n, Σt, Σy, Σt², Σty — BIGINT/DECIMAL all
    // the way), so both engines derive bit-identical slope/intercept
    // doubles; every residual is then a deterministic double of exact
    // inputs, and the squared terms are unit-cents²-quantized before the
    // sum so aggregation ORDER cannot diverge engines (the house
    // micro-quantization discipline, coarse here because DW is scale-
    // free). DW = Σ(eᵢ−eᵢ₋₁)²/Σeᵢ²; verdict cut at the conventional
    // 1.5/2.5 on the r6-pinned value, NULL abstention on a degenerate
    // (<2-day) calendar. One shuffle to the calendar-bounded daily frame;
    // the moment row broadcasts back.
    "q_durbin_watson" -> ((s, dir) => {
      val (daily, m, b, a) = trendFit(s, dir)
      val ab = m.select(col("n"), b.as("b"), a.as("a"))
      val w = BoundedWindow.ordered(col("day"), col("day"))
      val resid = daily.crossJoin(broadcast(ab))
        .withColumn("e",
          col("rev").cast("double") - col("a") -
            col("b") * col("tt").cast("double"))
        .withColumn("d", col("e") - lag(col("e"), 1).over(w))
      val terms = resid.select(col("n"), col("b"),
        ColumnOps.toDec38(
          ColumnOps.floorD(col("e") * col("e") + lit(0.500001)))
          .as("den_t"),
        when(col("d").isNotNull,
          ColumnOps.toDec38(
          ColumnOps.floorD(col("d") * col("d") + lit(0.500001))))
          .as("num_t"))
      val g = terms.groupBy(col("n"), col("b"))
        .agg(sum(col("num_t")).as("num"), sum(col("den_t")).as("den"))
        .withColumn("dw",
          when(col("den").cast("double") > 0.0,
            r6(col("num").cast("double") / col("den").cast("double"))))
      g.select(col("n").as("n_days"),
        r6(col("b")).as("slope_cents_per_day"),
        col("dw"),
        when(col("dw").isNull, lit(null).cast("string"))
          .when(col("dw") < 1.5, "positive")
          .when(col("dw") > 2.5, "negative")
          .otherwise("none").as("serial_corr"))
    }),

    // ---- Cook's distance influence diagnostics (r11) -----------------------
    // WHICH days move the trend line? — the influence question
    // q_durbin_watson's global DW can't localize (Cook 1977): Dᵢ =
    // eᵢ²·hᵢ/(p·s²(1−hᵢ)²) with leverage hᵢ = 1/n + (tᵢ−t̄)²/Sₜₜ, p = 2.
    // Same exact-integer moment row as DW broadcasts back, every residual
    // is the identical deterministic double, e² quantizes to integer
    // cents² BEFORE the RSS sum (the DW discipline — aggregation order
    // cannot diverge engines) and each Dᵢ is then a PER-ROW closed-form
    // float of broadcast scalars. Top 10 by (r6-rounded D, day); the
    // influential flag uses the conventional 4/n cut compared rounded-
    // to-rounded so it cannot flip cross-engine. Degenerate frames
    // (n ≤ 2, flat calendar) drop to empty output identically.
    "q_cooks_distance" -> ((s, dir) => {
      val (daily, m, b, a) = trendFit(s, dir)
      val nD = col("n").cast("double"); val stD = col("st").cast("double")
      val ab = m.select(col("n"), b.as("b"), a.as("a"),
        (col("stt").cast("double") - stD * stD / nD).as("s_tt"),
        (stD / nD).as("tbar"))
      val resid = daily.crossJoin(broadcast(ab))
        .withColumn("e",
          col("rev").cast("double") - col("a") -
            col("b") * col("tt").cast("double"))
        .withColumn("u",
          ColumnOps.toDec38(
          ColumnOps.floorD(col("e") * col("e") + lit(0.500001))))
      val rss = resid.agg(sum(col("u")).as("rss_q"))
      val dt = col("tt").cast("double") - col("tbar")
      val full = resid.crossJoin(broadcast(rss))
        .withColumn("h", lit(1.0) / col("n").cast("double") +
          dt * dt / col("s_tt"))
        .withColumn("s2", col("rss_q").cast("double") /
          (col("n").cast("double") - lit(2.0)))
        .withColumn("dcook", when(col("n") > 2L && col("s_tt") > 0.0,
          col("u").cast("double") * col("h") /
            (lit(2.0) * col("s2") * (lit(1.0) - col("h")) *
              (lit(1.0) - col("h")))))
        .where(col("dcook").isNotNull)
      val dR = r6(col("dcook"))
      val cut = r6(lit(4.0) / col("n").cast("double"))
      full
        .withColumn("d_r", dR)
        .withColumn("rk", row_number().over(
          BoundedWindow.ordered(col("day"), col("d_r").desc, col("day"))))
        .where(col("rk") <= 10)
        .select(col("day"), (col("rev") / lit(100)).as("rev_dollars"),
          r6(col("h")).as("leverage"), col("d_r").as("cook_d"),
          (col("d_r") > cut).cast("long").as("influential"))
        .orderBy(col("cook_d").desc, col("day"))
    }),

    // ---- Breusch–Pagan heteroscedasticity test (r11) -----------------------
    // Does the trend fit's residual VARIANCE drift with time? — the
    // second OLS diagnostic next to DW's serial correlation (Breusch &
    // Pagan 1979, Koenker's studentized form simplified to the LM = n·R²
    // of e² on t): growing daily volume means growing absolute noise,
    // exactly what a homoscedastic forecast interval would understate.
    // The squared residuals are the SAME integer-cents²-quantized u as
    // q_cooks_distance (identical doubles both engines, order-free
    // sums: Σu, Σu², Σt·u all exact in decimal(38,0)); R² is a closed-
    // form float of those exact moments. Degenerate frames (flat u,
    // flat t) abstain NULL via the variance guards (§2.13).
    "q_breusch_pagan" -> ((s, dir) => {
      val (daily, m, b, a) = trendFit(s, dir)
      val nD = col("n").cast("double"); val stD = col("st").cast("double")
      val ab = m.select(col("n"), col("st"), col("stt"), b.as("b"), a.as("a"))
      val resid = daily.crossJoin(broadcast(ab))
        .withColumn("e",
          col("rev").cast("double") - col("a") -
            col("b") * col("tt").cast("double"))
        .withColumn("u",
          ColumnOps.toDec38(
          ColumnOps.floorD(col("e") * col("e") + lit(0.500001))))
        // Σu² overflows decimal(38,0) past ~sf0.5 (u ~ e² grows with the
        // SQUARE of daily volume — the round-13 sf1 run hit ANSI
        // ARITHMETIC_OVERFLOW here). Split u = uh·1e9 + ul and sum the
        // three part-moments exactly instead: Σuh², Σuh·ul, Σul² each
        // stay ≤ ~1e25 at sf100, and suu recomposes as a deterministic
        // double expression mirrored textually in the oracle.
        .withColumn("uh", expr("u div 1000000000"))
        .withColumn("ul",
          (col("u") - col("uh").cast("decimal(38,0)") * lit(1000000000L))
            .cast("long"))
      val uhd = col("uh").cast("decimal(38,0)")
      val uld = col("ul").cast("decimal(38,0)")
      val g = resid.groupBy(col("n"), col("st"), col("stt"))
        .agg(sum(col("u")).as("su"),
          sum(uhd * uhd).as("shh"),
          sum(uhd * uld).as("shl"),
          sum(uld * uld).as("sll"),
          sum(col("tt").cast("decimal(38,0)") * col("u")).as("stu"))
      val suD = col("su").cast("double")
      val sut = col("stu").cast("double") - stD * suD / nD
      val suuRaw = col("shh").cast("double") * lit(1.0e18) +
        lit(2.0) * col("shl").cast("double") * lit(1.0e9) +
        col("sll").cast("double")
      val suu = suuRaw - suD * suD / nD
      val sttC = col("stt").cast("double") - stD * stD / nD
      val ok = suu > 0.0 && sttC > 0.0
      val lm = when(ok, nD * (sut * sut / (suu * sttC)))
      val lmR = r4(lm)
      g.select(col("n").as("n_days"),
        when(ok, r6(sut / sttC)).as("het_slope"),
        lmR.as("lm_stat"),
        coalesce((lmR > lit(3.8415)).cast("long"), lit(0L)).as("reject_95"))
    }),

    // ---- Chow structural-break test (r11) ----------------------------------
    // The KNOWN-date counterpart of q_changepoint/q_pettitt's searched
    // break (Chow 1960): did the trend line CHANGE at 1998-01-01 (the
    // same regime boundary q_drift_psi monitors)? F = ((RSS_full −
    // RSS₁ − RSS₂)/2) / ((RSS₁+RSS₂)/(n−4)) over the daily OLS. ONE
    // conditional aggregate produces both segments' exact integer moments
    // (n, Σt, Σy, Σt², Σty, Σy² — decimal(38,0) products); the FULL
    // moments are their exact integer sums, so all three RSS values are
    // closed-form doubles of exact integers — no residual pass at all,
    // parity structural. Simplified critical: F(2,∞) = χ²₂/2 = 2.9957
    // (the q_dickey_fuller asymptotic-critical stance). Degenerate
    // segments (n < 3, flat t, zero pooled RSS) abstain NULL. Also
    // reports the break's effect size (RSS reduction share).
    "q_chow" -> ((s, dir) => {
      val daily = dailyRevenue(s, dir)
        .withColumn("tt",
          datediff(col("day"), lit("1992-01-01").cast("date")).cast("long"))
        .withColumn("pre",
          (col("day") < lit("1998-01-01").cast("date")).cast("long"))
      val revd = col("rev").cast("decimal(38,0)")
      val ttd = col("tt").cast("decimal(38,0)")
      def seg(p: Int, nm: String): Seq[Column] = {
        val in = col("pre") === p.toLong
        Seq(sum(when(in, 1L).otherwise(0L)).as(s"n$nm"),
          sum(when(in, col("tt")).otherwise(0L)).as(s"st$nm"),
          sum(when(in, col("rev")).otherwise(0L)).as(s"sy$nm"),
          sum(when(in, ttd * ttd).otherwise(lit(0).cast("decimal(38,0)")))
            .as(s"stt$nm"),
          sum(when(in, ttd * revd).otherwise(lit(0).cast("decimal(38,0)")))
            .as(s"sty$nm"),
          sum(when(in, revd * revd).otherwise(lit(0).cast("decimal(38,0)")))
            .as(s"syy$nm"))
      }
      val aggs = seg(1, "1") ++ seg(0, "2")
      val m = daily.agg(aggs.head, aggs.tail: _*)
      def rss(n: Column, st: Column, sy: Column, stt: Column, sty: Column,
          syy: Column): (Column, Column) = {
        val nD = n.cast("double"); val stD = st.cast("double")
        val syD = sy.cast("double")
        val sxx = stt.cast("double") - stD * stD / nD
        val sxy = sty.cast("double") - stD * syD / nD
        val syyC = syy.cast("double") - syD * syD / nD
        (sxx, syyC - sxy * sxy / sxx)
      }
      def c(nm: String, f: String): Column = col(s"$f$nm")
      val (sxx1, rss1) = rss(c("1", "n"), c("1", "st"), c("1", "sy"),
        c("1", "stt"), c("1", "sty"), c("1", "syy"))
      val (sxx2, rss2) = rss(c("2", "n"), c("2", "st"), c("2", "sy"),
        c("2", "stt"), c("2", "sty"), c("2", "syy"))
      val (sxxF, rssF) = rss(c("1", "n") + c("2", "n"),
        c("1", "st") + c("2", "st"), c("1", "sy") + c("2", "sy"),
        c("1", "stt") + c("2", "stt"), c("1", "sty") + c("2", "sty"),
        c("1", "syy") + c("2", "syy"))
      val nD = (c("1", "n") + c("2", "n")).cast("double")
      val ok = c("1", "n") >= 3L && c("2", "n") >= 3L &&
        sxx1 > 0.0 && sxx2 > 0.0 && sxxF > 0.0 && (rss1 + rss2) > 0.0
      val f = ((rssF - rss1 - rss2) / lit(2.0)) /
        ((rss1 + rss2) / (nD - lit(4.0)))
      val fR = r4(when(ok, f))
      m.select(c("1", "n").as("n_pre"), c("2", "n").as("n_post"),
        fR.as("f_stat"),
        when(ok, r6((rssF - rss1 - rss2) / rssF)).as("break_share"),
        coalesce((fR > lit(2.9957)).cast("long"), lit(0L)).as("reject_95"))
    }),

    // ---- sharp regression discontinuity at the 1998 boundary (r12) ---------
    // The LOCAL causal estimand q_chow's global F-test doesn't deliver
    // (Thistlethwaite & Campbell 1960; Imbens & Lemieux 2008): fit a local
    // linear trend on each side of the 1998-01-01 cutoff inside a ±365-day
    // bandwidth and read the JUMP — the difference of the two intercepts
    // at the cutoff — as the discontinuity effect, with the classic
    // parametric SE from each side's OLS intercept variance. With the
    // running variable centered at the cutoff (t = day − cutoff), each
    // side's intercept IS its limit at the boundary, so the estimate is
    // two closed-form OLS fits — and like q_chow, ONE conditional
    // aggregate produces both sides' exact integer moments (t is a
    // ±365-bounded BIGINT, revenue stays cents, products decimal(38,0)),
    // making every output a literal-order float compose of exact
    // integers. Degenerate sides (n < 3, flat t, zero RSS) abstain NULL.
    "q_rdd" -> ((s, dir) => {
      val cut = lit("1998-01-01").cast("date")
      val daily = dailyRevenue(s, dir)
        .withColumn("tt", datediff(col("day"), cut).cast("long"))
        .where(col("tt") >= -365L && col("tt") <= 364L)
        .withColumn("rgt", (col("tt") >= 0L).cast("long"))
      val revd = col("rev").cast("decimal(38,0)")
      val ttd = col("tt").cast("decimal(38,0)")
      def seg(p: Int, nm: String): Seq[Column] = {
        val in = col("rgt") === p.toLong
        Seq(sum(when(in, 1L).otherwise(0L)).as(s"n$nm"),
          sum(when(in, col("tt")).otherwise(0L)).as(s"st$nm"),
          sum(when(in, col("rev")).otherwise(0L)).as(s"sy$nm"),
          sum(when(in, ttd * ttd).otherwise(lit(0).cast("decimal(38,0)")))
            .as(s"stt$nm"),
          sum(when(in, ttd * revd).otherwise(lit(0).cast("decimal(38,0)")))
            .as(s"sty$nm"),
          sum(when(in, revd * revd).otherwise(lit(0).cast("decimal(38,0)")))
            .as(s"syy$nm"))
      }
      val aggsLR = seg(0, "L") ++ seg(1, "R")
      val m = daily.agg(aggsLR.head, aggsLR.tail: _*)
      // per-side closed-form local-linear fit off the exact moments; the
      // intercept a is the side's limit at the cutoff (t centered there)
      def fit(nm: String) = {
        // NULL (not 0.0) when the side is degenerate: the ok guards below
        // mask every output, but Spark's subexpression elimination hoists
        // shared divisions OUT of the CaseWhen branches and evaluates them
        // eagerly — under ANSI a hoisted x/0.0 throws where x/NULL
        // abstains. n < 3 is already the abstain threshold.
        val nD = when(col(s"n$nm") >= 3L, col(s"n$nm").cast("double"))
        val stD = col(s"st$nm").cast("double")
        val syD = col(s"sy$nm").cast("double")
        val sxx = col(s"stt$nm").cast("double") - stD * stD / nD
        val sxy = col(s"sty$nm").cast("double") - stD * syD / nD
        val syyC = col(s"syy$nm").cast("double") - syD * syD / nD
        val b = sxy / sxx
        val a = (syD - b * stD) / nD
        val rss = syyC - sxy * sxy / sxx
        val s2 = rss / (nD - lit(2.0))
        val mt = stD / nD
        val va = s2 * (lit(1.0) / nD + mt * mt / sxx)
        (sxx, b, a, rss, va)
      }
      val (sxxL, bL, aL, rssL, vaL) = fit("L")
      val (sxxR, bR, aR, rssR, vaR) = fit("R")
      val okL = col("nL") >= 3L && sxxL > 0.0
      val okR = col("nR") >= 3L && sxxR > 0.0
      val effect = aR - aL
      val se = sqrt(vaL + vaR)
      val ok = okL && okR && rssL > 0.0 && rssR > 0.0
      val zR = when(ok, r4(effect / se))
      m.select(col("nL").as("n_left"), col("nR").as("n_right"),
        when(okL, r2(aL / lit(100.0))).as("limit_left"),
        when(okR, r2(aR / lit(100.0))).as("limit_right"),
        when(okL && okR, r2(effect / lit(100.0))).as("effect"),
        when(okL, r6(bL / lit(100.0))).as("slope_left"),
        when(okR, r6(bR / lit(100.0))).as("slope_right"),
        zR.as("z_stat"),
        coalesce((abs(zR) > lit(1.959963984540054)).cast("long"), lit(0L))
          .as("reject_95"))
    }),

    // ---- binary transfer entropy (r11) -------------------------------------
    // The information-theoretic complement of q_granger's LINEAR one-lag
    // F-test (Schreiber 2000): TE(X→Y) = Σ p(y_t, y_{t−1}, x_{t−1}) ·
    // ln[ p(y_t|y_{t−1},x_{t−1}) / p(y_t|y_{t−1}) ] over the BINARIZED
    // daily moves (up vs not, strict — ties are "not up" on both
    // engines), which catches nonlinear lead-lag Granger's F misses. The
    // corpus reduces to TWO ≤8-cell exact-BIGINT censuses (orders→revenue
    // and the reverse); every marginal is a window sum over the bounded
    // cell frame, every ln argument is a ratio of positive exact integers
    // (groupBy cells have c ≥ 1 so the terms are total — no guards
    // needed), and each TE is the ordered cumulative term sum (identical
    // float sequence both engines). Net direction flags on the ROUNDED
    // pair so it cannot flip cross-engine.
    "q_transfer_entropy" -> ((s, dir) => {
      val cents = ColumnOps.cents(col("o_totalprice"))
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(cents).as("rev"), count(lit(1)).as("cnt"))
      val w = BoundedWindow.ordered(col("day"), col("day"))
      val moves = daily
        .withColumn("rp", lag(col("rev"), 1).over(w))
        .withColumn("cp", lag(col("cnt"), 1).over(w))
        .where(col("rp").isNotNull)
        .select(col("day"), (col("rev") > col("rp")).cast("long").as("u"),
          (col("cnt") > col("cp")).cast("long").as("v"))
      val lagged = moves
        .withColumn("u1", lag(col("u"), 1).over(w))
        .withColumn("v1", lag(col("v"), 1).over(w))
        .where(col("u1").isNotNull)
        .localCheckpoint()
      // one ≤8-cell census + window marginals per direction, each
      // reduced to a 1-row frame; the two directions cross-join
      def teFrame(yt: String, y1: String, x1: String,
          out: String): DataFrame = {
        val cells = lagged
          .select(col(yt).as("yt"), col(y1).as("y1"), col(x1).as("x1"))
          .groupBy("yt", "y1", "x1").agg(count(lit(1)).as("c"))
        val cellsM = cells
          .withColumn("nn", sum(col("c")).over(
            BoundedWindow.whole(col("yt"))))
          .withColumn("n_y1", sum(col("c")).over(
            Window.partitionBy(col("y1"))))
          .withColumn("n_y1x1", sum(col("c")).over(
            Window.partitionBy(col("y1"), col("x1"))))
          .withColumn("n_yty1", sum(col("c")).over(
            Window.partitionBy(col("yt"), col("y1"))))
        val term = (col("c").cast("double") / col("nn").cast("double")) *
          log(col("c").cast("double") * col("n_y1").cast("double") /
            (col("n_y1x1").cast("double") * col("n_yty1").cast("double")))
        val wOrd = BoundedWindow.ordered(col("yt"),
          col("yt"), col("y1"), col("x1"))
        cellsM.select(
            row_number().over(wOrd).as("rn"),
            count(lit(1)).over(BoundedWindow.whole(col("yt")))
              .as("n_cells"),
            sum(term).over(wOrd.rowsBetween(Window.unboundedPreceding,
              Window.currentRow)).as(out),
            col("nn"))
          .where(col("rn") === col("n_cells"))
          .select(col("nn"), col(out))
      }
      val xy = teFrame("u", "u1", "v1", "te_xy")
      val yx = teFrame("v", "v1", "u1", "te_yx").drop("nn")
      val teXy = r6(col("te_xy")); val teYx = r6(col("te_yx"))
      xy.crossJoin(broadcast(yx))
        .select(col("nn").as("n_days"), teXy.as("te_orders_to_rev"),
          teYx.as("te_rev_to_orders"),
          (teXy > teYx).cast("long").as("orders_lead"))
    }),

    // ---- Granger causality, 1 lag (r11) -----------------------------------
    // The predictive-causality upgrade of q_ccf's symmetric correlation
    // (Granger 1969): does yesterday's ORDER COUNT improve today's
    // REVENUE forecast beyond yesterday's revenue itself? Restricted
    // y_t ~ y_{t−1} vs unrestricted y_t ~ y_{t−1} + x_{t−1}, F = (RSS_r −
    // RSS_u)(n−3)/RSS_u against the asymptotic F(1,∞) = χ²₁ cut (literal
    // 3.8414…, the q_dickey_fuller simplified-critical-value stance).
    // Every moment is an exact integer on the calendar-bounded daily
    // frame (products in decimal-38/HUGEINT); the centered moments,
    // Cramer solve, and RSS algebra are literal-order doubles of those
    // exact integers — parity structural. Degenerate frames (constant
    // regressors, det ≤ 0, RSS_u ≤ 0) abstain with NULLs identically.
    // "Previous day" = previous OBSERVED day (row lag on the date-ordered
    // calendar frame), stated contract.
    "q_granger" -> ((s, dir) => {
      val cents = ColumnOps.cents(col("o_totalprice"))
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(cents).as("y"), count(lit(1)).as("x"))
      val w = BoundedWindow.ordered(col("day"), col("day"))
      val lagged = daily
        .withColumn("y1", lag(col("y"), 1).over(w))
        .withColumn("x1", lag(col("x"), 1).over(w))
        .where(col("y1").isNotNull)
      val m = lagged.agg(count(lit(1)).as("n"),
        sum(col("y")).as("sy"), sum(col("y1")).as("sy1"),
        sum(col("x1")).as("sx1"),
        sum(dec(col("y")) * col("y")).as("syy"),
        sum(dec(col("y")) * col("y1")).as("syy1"),
        sum(dec(col("y")) * col("x1")).as("syx1"),
        sum(dec(col("y1")) * col("y1")).as("sy1y1"),
        sum(dec(col("y1")) * col("x1")).as("sy1x1"),
        sum(dec(col("x1")) * col("x1")).as("sx1x1"))
      val nD = d(col("n"))
      val c11 = d(col("sy1y1")) - d(col("sy1")) * d(col("sy1")) / nD
      val c12 = d(col("sy1x1")) - d(col("sy1")) * d(col("sx1")) / nD
      val c22 = d(col("sx1x1")) - d(col("sx1")) * d(col("sx1")) / nD
      val c1y = d(col("syy1")) - d(col("sy1")) * d(col("sy")) / nD
      val c2y = d(col("syx1")) - d(col("sx1")) * d(col("sy")) / nD
      val cyy = d(col("syy")) - d(col("sy")) * d(col("sy")) / nD
      val det = c11 * c22 - c12 * c12
      val bR = when(c11 > 0.0, c1y / c11)
      val rssR = cyy - bR * c1y
      val bU = when(det > 0.0, (c1y * c22 - c2y * c12) / det)
      val cU = when(det > 0.0, (c2y * c11 - c1y * c12) / det)
      val rssU = cyy - bU * c1y - cU * c2y
      val f = when(rssU > 0.0 && nD > 3.0,
        (rssR - rssU) * (nD - 3.0) / rssU)
      m.select(col("n").as("n_days"),
        r6(bU).as("b_ylag"), r6(cU).as("c_xlag"),
        r6(f).as("f_stat"),
        coalesce((r6(f) > 3.8414588206941245).cast("long"), lit(0L))
          .as("x_causes_y_95"))
    }),

    // ---- fixed-frequency periodogram (r11) --------------------------------
    // The frequency-domain seasonality readout behind q_seasonal_strength's
    // time-domain ratio: the DFT power of daily revenue at the three
    // calendar periods that matter (7 / 30 / 91 days), reported as the
    // harmonic's variance fraction 2·|DFT|²/(n·SS) and its amplitude.
    // Cross-engine trig is avoided ENTIRELY: cos/sin of the p fixed
    // phases are computed ONCE in Scala on the 1e-6 grid and embedded as
    // the SAME literal tables in the Spark plan and the oracle SQL —
    // both engines only ever multiply exact integers (cents × micro-trig,
    // decimal-38/HUGEINT sums), and the final dozen doubles run in
    // literal order. Shape: one shuffle to the daily frame, one global
    // aggregate carrying all 12 moment sums, three output rows.
    "q_periodogram" -> ((s, dir) => {
      val cents = ColumnOps.cents(col("o_totalprice"))
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(cents).as("x"))
        .withColumn("tt",
          datediff(col("day"), lit("1992-01-01").cast("date")).cast("long"))
      val aggCols = Seq(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(dec(col("x")) * col("x")).as("sx2")) ++
        Periods.flatMap { p =>
          val idx = (pmod(col("tt"), lit(p.toLong)) + lit(1L)).cast("int")
          val ct = element_at(
            array((0 until p).map(k => lit(cosMicro(k, p))): _*), idx)
          val st = element_at(
            array((0 until p).map(k => lit(sinMicro(k, p))): _*), idx)
          Seq(sum(dec(col("x")) * ct).as(s"sxc$p"),
            sum(dec(col("x")) * st).as(s"sxs$p"),
            sum(ct).as(s"sc$p"), sum(st).as(s"ss$p"))
        }
      val g = daily.agg(aggCols.head, aggCols.tail: _*)
      val nD = d(col("n")); val mu = d(col("sx")) / nD
      val varsum = d(col("sx2")) - d(col("sx")) * mu
      val rows = Periods.map { p =>
        val cC = (d(col(s"sxc$p")) - mu * d(col(s"sc$p"))) / lit(1000000.0)
        val sS = (d(col(s"sxs$p")) - mu * d(col(s"ss$p"))) / lit(1000000.0)
        val pw = cC * cC + sS * sS
        struct(lit(p.toLong).as("period"), col("n").as("n_days"),
          r6(when(varsum > 0.0, pw * lit(2.0) / nD / varsum)).as("var_frac"),
          r2(when(varsum > 0.0, sqrt(pw) * lit(2.0) / nD / lit(100.0)))
            .as("amp_dollars"))
      }
      g.select(explode(array(rows: _*)).as("r"))
        .select(col("r.period"), col("r.n_days"), col("r.var_frac"),
          col("r.amp_dollars"))
        .orderBy("period")
    }),

    // ---- rolling-window z-score anomaly days (r10) ------------------------
    // The monitoring workhorse q_changepoint (single global shift) and
    // q_page_hinkley (sequential drift) both assume ONE regime change;
    // this is the day-level alert rule ops teams actually run: each day's
    // revenue scored against its OWN trailing 28 observed days (rolling
    // mean/std, current day excluded), top 10 by |z|. Windows are
    // date-ordered rowsBetween(−28, −1) over the calendar-bounded daily
    // frame; the rolling std clamps its raw moment difference (§2.13) and
    // z abstains on a constant window via try_divide; ranking on the
    // r6-ROUNDED |z| with a day tie-break so the top-10 cut can't flip.
    "q_rolling_anomaly" -> ((s, dir) => {
      val daily = dailyRevenue(s, dir)
      val wTrail = BoundedWindow.ordered(col("day"), col("day"))
        .rowsBetween(-28, -1)
      val scored = daily
        .withColumn("n_w", count(lit(1)).over(wTrail))
        .withColumn("s1", sum(col("rev")).over(wTrail))
        .withColumn("s2",
          sum(col("rev").cast("decimal(19,0)") *
            col("rev").cast("decimal(19,0)")).over(wTrail))
        .where(col("n_w") === 28L)
      val mu = d(col("s1")) / d(col("n_w"))
      val sd = sqrt(greatest(d(col("s2")) - d(col("s1")) * d(col("s1")) /
        d(col("n_w")), lit(0.0)) / (d(col("n_w")) - 1))
      val z = try_divide(d(col("rev")) - mu, sd)
      val zR = r6(z)
      scored.select(col("day"), col("rev"),
          r2(mu / 100.0).as("trail_mean_dollars"), zR.as("z"))
        .where(col("z").isNotNull)
        .orderBy(abs(col("z")).desc, col("day"))
        .limit(10)
        .select(col("day"), (col("rev") / lit(100)).as("rev_dollars"),
          col("trail_mean_dollars"), col("z"),
          (abs(col("z")) > lit(3.0)).cast("long").as("is_anomaly"))
        .orderBy(abs(col("z")).desc, col("day"))
    }),

    // ---- SAX symbolization (r10) ------------------------------------------
    // Lin et al. (2003)'s Symbolic Aggregate approXimation — the
    // dimensionality reduction under a whole family of time-series
    // mining tools (motif discovery, HOT SAX anomaly ranking): the daily
    // revenue series z-normalized by its GLOBAL moments, averaged into
    // 16-day PAA segments, each mapped to one of 4 symbols by the
    // standard-normal quartile breakpoints (±0.6744897501960817, 0 —
    // written-out literals, never an engine quantile). Output: one row
    // per segment with its PAA value and symbol, plus the alphabet
    // distribution a scale-out consumer would index on. All windows ride
    // the calendar-bounded daily frame; segment means use exact integer
    // cents sums; symbol boundaries compare the r6-ROUNDED z so a 1-ulp
    // division difference cannot relabel a segment.
    "q_sax_symbols" -> ((s, dir) => {
      val daily = dailyRevenue(s, dir)
      val wAll = BoundedWindow.whole(col("day"))
      val idx = row_number().over(BoundedWindow.ordered(col("day"), col("day")))
        .cast("long") - 1L
      val seg = daily
        .withColumn("i", idx)
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("s1", sum(col("rev")).over(wAll))
        .withColumn("s2", sum(col("rev").cast("decimal(19,0)") *
          col("rev").cast("decimal(19,0)")).over(wAll))
        .withColumn("segment", floor(col("i") / 16L))
      val bySeg = seg.groupBy("segment")
        .agg(count(lit(1)).as("seg_days"), sum(col("rev")).as("seg_sum"),
          max(col("n")).as("n"), max(col("s1")).as("s1"), max(col("s2")).as("s2"))
        .where(col("seg_days") === 16L)
      val mu = d(col("s1")) / d(col("n"))
      val sd = sqrt(greatest(d(col("s2")) - d(col("s1")) * d(col("s1")) /
        d(col("n")), lit(0.0)) / (d(col("n")) - 1))
      val paa = try_divide(d(col("seg_sum")) / 16.0 - mu, sd)
      val paaR = r6(paa)
      val bp = lit(0.6744897501960817)
      val sym = when(paaR.isNull, lit(null).cast("string"))
        .when(paaR < -bp, "a").when(paaR < 0, "b")
        .when(paaR < bp, "c").otherwise(lit("d"))
      bySeg.select(col("segment"), paaR.as("paa_z"), sym.as("symbol"))
        .orderBy("segment")
    }),

    // ---- Wald–Wolfowitz runs test (beyond reference, r10) -----------------
    // "Are the daily up/down moves RANDOM, or do they streak?" — the
    // nonparametric serial-dependence check under q_acf: classify each
    // day vs the previous (up/down, zero-diffs dropped), count runs R of
    // consecutive same signs, compare with E[R] = 2n₊n₋/n + 1 and
    // Var[R] = (E−1)(E−2)/(n−1). Everything reduces to THREE exact
    // BIGINTs (n₊, n₋, R) off one lag window over the calendar-bounded
    // daily frame; z is a closed float sequence, degenerate one-sided
    // series abstain via try_divide.
    "q_runs_test" -> ((s, dir) => {
      val daily = dailyRevenue(s, dir)
      val wOrd = BoundedWindow.ordered(col("day"), col("day"))
      val signs = daily
        .withColumn("d", col("rev") - lag(col("rev"), 1).over(wOrd))
        .where(col("d").isNotNull && col("d") =!= 0L)
        .select(col("day"), (col("d") > 0L).cast("long").as("s"))
      val runs = signs
        .withColumn("chg",
          when(lag(col("s"), 1).over(wOrd).isNull ||
            lag(col("s"), 1).over(wOrd) =!= col("s"), 1L).otherwise(0L))
      val g = runs.agg(sum(col("s")).as("np"),
        sum(lit(1L) - col("s")).as("nm"), sum(col("chg")).as("r"))
      val nD = d(col("np")) + d(col("nm"))
      val eR = lit(2.0) * d(col("np")) * d(col("nm")) / nD + 1.0
      val vR = (eR - 1.0) * (eR - 2.0) / (nD - 1.0)
      val z = try_divide(d(col("r")) - eR, sqrt(greatest(vR, lit(0.0))))
      g.select(col("np").as("n_up"), col("nm").as("n_down"),
        col("r").as("n_runs"), r4(eR).as("expected_runs"),
        r6(z).as("z_stat"),
        coalesce((abs(z) > lit(1.959963984540054)).cast("long"), lit(0L))
          .as("reject_95"))
    }),

    // ---- simplified Dickey–Fuller unit-root check (r10) -------------------
    // The random-walk-vs-mean-reverting read that q_hurst approaches from
    // rescaled ranges, here from the AR(1) regression Δx_t = α + γ·x_{t−1}
    // + ε: γ = 0 is a unit root (random walk), γ < 0 mean-reverts. OLS on
    // the calendar-bounded daily frame via FIVE exact moment integers
    // (the q_regression discipline — cents in BIGINT, squares/products in
    // decimal(38,0), lag via the ordered window); the DF statistic
    // t = γ̂/se(γ̂) compares against the asymptotic 5% constant-only
    // critical −2.86 (Fuller 1976; reported as the documented constant,
    // not an engine computation). Degenerate constant series abstain.
    "q_dickey_fuller" -> ((s, dir) => {
      val daily = dailyRevenue(s, dir)
      val wOrd = BoundedWindow.ordered(col("day"), col("day"))
      val pairs = daily
        .withColumn("xl", lag(col("rev"), 1).over(wOrd))
        .where(col("xl").isNotNull)
        .select((col("rev") - col("xl")).as("dy"), col("xl").as("x"))
        .select(col("dy"), col("x"), col("dy").cast("decimal(19,0)").as("dyd"),
          col("x").cast("decimal(19,0)").as("xd"))
      val m = pairs.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("dy")).as("sy"),
        sum(col("xd") * col("xd")).as("sxx"),
        sum(col("xd") * col("dyd")).as("sxy"),
        sum(col("dyd") * col("dyd")).as("syy"))
      val nD = d(col("n"))
      val vx = d(col("sxx")) - d(col("sx")) * d(col("sx")) / nD
      val cxy = d(col("sxy")) - d(col("sx")) * d(col("sy")) / nD
      val gamma = try_divide(cxy, vx)
      val alpha = d(col("sy")) / nD - gamma * d(col("sx")) / nD
      // residual variance via the OLS identity: SSE = Syy − γ̂·Sxy (both
      // centered), s² = SSE/(n−2), se(γ̂) = √(s²/Sxx_centered)
      val syyC = d(col("syy")) - d(col("sy")) * d(col("sy")) / nD
      val sse = greatest(syyC - gamma * cxy, lit(0.0))
      val se = sqrt(try_divide(try_divide(sse, nD - 2.0), vx))
      val tStat = try_divide(gamma, se)
      m.select(col("n").as("n_days"),
        r6(gamma).as("gamma"), r6(alpha / lit(100.0)).as("alpha_dollars"),
        r6(tStat).as("df_stat"),
        coalesce((r6(tStat) < lit(-2.86)).cast("long"), lit(0L))
          .as("mean_reverting_95"))
    }),

    // ---- simplified KPSS level-stationarity test (r11) --------------------
    // The COMPLEMENT of q_dickey_fuller: DF's null is a unit root (reject ⇒
    // mean-reverting), KPSS's null is level stationarity (reject ⇒
    // nonstationary) — running both brackets the series from each side
    // (Kwiatkowski–Phillips–Schmidt–Shin 1992). Lag-0 long-run variance
    // (no Newey–West bandwidth — the same simplified-critical-value stance
    // as DF's constant-only −2.86): η = Σ_t S_t² / (n²·σ̂²) with
    // S_t = Σ_{i≤t}(x_i − x̄), σ̂² = (1/n)Σ(x_t − x̄)², 5% critical 0.463.
    // Exactness: residual and partial sum are scaled by n so both stay
    // INTEGER — d_t = n·x_t − Σx and S̃_t = n·PS_t − t·Σx (BIGINT; ANSI
    // overflow is the loud guard) — then η = A/(n·B) with A = ΣS̃² and
    // B = Σd² exact in decimal(38,0)/HUGEINT on the two engines; the n²
    // scale factors cancel. Calendar-bounded frame, so the ordered window
    // is a BoundedWindow; a constant series has B = 0 and abstains NULL on
    // both engines (predicate on the raw factor, the §2.13 discipline).
    "q_kpss" -> ((s, dir) => {
      val daily = dailyRevenue(s, dir)
      val wOrd = BoundedWindow.ordered(col("day"), col("day"))
      val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = BoundedWindow.whole(col("day"))
      val scaled = daily
        .withColumn("t", row_number().over(wOrd).cast("long"))
        .withColumn("ps", sum(col("rev")).over(wRun))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("sx", sum(col("rev")).over(wAll))
        .select(col("n"),
          (col("n") * col("rev") - col("sx")).cast("decimal(19,0)").as("dd"),
          (col("n") * col("ps") - col("t") * col("sx"))
            .cast("decimal(19,0)").as("sp"))
      val m = scaled.agg(max(col("n")).as("n"),
        sum(col("sp") * col("sp")).as("a"),
        sum(col("dd") * col("dd")).as("b"))
      val eta = when(col("b") > lit(0),
        d(col("a")) / (d(col("n")) * d(col("b"))))
      m.select(col("n").as("n_days"), r6(eta).as("kpss_stat"),
        coalesce((r6(eta) > lit(0.463)).cast("long"), lit(0L))
          .as("nonstationary_95"))
    })
  )

  /** DuckDB oracle for q_holt_winters — generated so the 7 seasonal-slot
    * CASE chains stay textually identical to the Spark when-chains and the
    * recurrence is the same duplicated-lv float sequence.
    */
  private def holtWintersOracle: String = {
    val sCols = (0 until 7).map(i => s"s$i").mkString(", ")
    val sdCase = "CASE " + (0 until 6).map(i =>
      s"WHEN d.dow = $i THEN h.s$i").mkString(" ") + " ELSE h.s6 END"
    val sUpd = (0 until 7).map(i =>
      s"CASE WHEN dow = $i THEN sn ELSE s$i END").mkString(",\n    ")
    val sOut = (0 until 7).map(i =>
      s"FLOOR(s$i * 10000.0 + 0.500001) / 10000.0 AS season_$i")
      .mkString(",\n  ")
    val sLast = "CASE " + (0 until 6).map(i =>
      s"WHEN dow = $i THEN s$i").mkString(" ") + " ELSE s6 END"
    s"""WITH RECURSIVE daily AS (
       |  SELECT DATEDIFF('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
       |    AS x,
       |    CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT))
       |      AS BIGINT) AS yc
       |  FROM orders GROUP BY 1
       |), idx AS (
       |  SELECT CAST(yc AS DOUBLE) / 100.0 AS y, x % 7 AS dow,
       |    ROW_NUMBER() OVER (ORDER BY x) AS i
       |  FROM daily
       |), hw(i, l, b, $sCols) AS (
       |  SELECT CAST(1 AS BIGINT), y, CAST(0.0 AS DOUBLE),
       |    CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
       |    CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
       |    CAST(0.0 AS DOUBLE)
       |  FROM idx WHERE i = 1
       |  UNION ALL
       |  SELECT i, lv, 0.1 * (lv - l) + 0.9 * b,
       |    $sUpd
       |  FROM (
       |    SELECT z.*, 0.3 * (y - lv) + 0.7 * sd AS sn FROM (
       |      SELECT w.*, 0.2 * (y - sd) + 0.8 * (l + b) AS lv FROM (
       |        SELECT d.i, d.y, d.dow, h.l, h.b, $sCols,
       |          $sdCase AS sd
       |        FROM hw h JOIN idx d ON d.i = h.i + 1
       |      ) w
       |    ) z
       |  ) q
       |), f AS (SELECT * FROM hw ORDER BY i DESC LIMIT 1),
       |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily),
       |ld AS (SELECT dow FROM idx ORDER BY i DESC LIMIT 1)
       |SELECT n_days,
       |  FLOOR(l * 10000.0 + 0.500001) / 10000.0 AS level,
       |  FLOOR(b * 1000000.0 + 0.500001) / 1000000.0 AS trend,
       |  $sOut,
       |  FLOOR((l + 7.0 * b + $sLast) * 10000.0 + 0.500001) / 10000.0
       |    AS forecast_7
       |FROM f, n, ld""".stripMargin
  }

  /** DuckDB oracle for q_acf, one UNION ALL branch per lag — generated so
    * the 7 branches stay textually identical to the Spark float sequence.
    */
  private def acfOracle: String = {
    val branches = (1 to 7).map(k =>
      s"""SELECT CAST($k AS BIGINT) AS lag, n$k AS n_pairs,
         |  FLOOR((p$k - mu * CAST(a$k AS DOUBLE) - mu * CAST(b$k AS DOUBLE)
         |    + CAST(n$k AS DOUBLE) * mu * mu) / den * 1000000.0 + 0.500001)
         |    / 1000000.0 AS acf
         |FROM m""".stripMargin).mkString("\nUNION ALL\n")
    s"""WITH ${lagMomentsCte(7)}
       |$branches
       |ORDER BY lag""".stripMargin
  }

  /** The acfOracle moment frame (5 lags) feeding the Durbin–Levinson
    * recursion unrolled CTE-for-withColumn: every named intermediate
    * (r_k, d_k, φ_kj) is the textually-identical float expression in the
    * identical order, so the engines replay the same sequence; the
    * den > 0 / d_k ≠ 0 guards mirror and NULLs propagate identically.
    */
  private def pacfOracle: String = {
    val rks = (1 to 5).map(k =>
      s"""    CASE WHEN den > 0.0 THEN
         |      (p$k - mu * CAST(a$k AS DOUBLE) - mu * CAST(b$k AS DOUBLE)
         |       + CAST(n$k AS DOUBLE) * mu * mu) / den END AS r$k""".stripMargin)
      .mkString(",\n")
    def out(k: Int): String =
      s"""SELECT CAST($k AS BIGINT) AS lag, nn AS n_days,
         |  FLOOR(r$k * 1000000.0 + 0.500001) / 1000000.0 AS acf,
         |  FLOOR(phi$k$k * 1000000.0 + 0.500001) / 1000000.0 AS pacf
         |FROM l5""".stripMargin
    s"""WITH ${lagMomentsCte(5)}, rr AS (
       |  SELECT nn,
       |$rks
       |  FROM m
       |), l2 AS (
       |  SELECT *, r1 AS phi11,
       |    1.0 - r1 * r1 AS d2
       |  FROM rr
       |), l2b AS (
       |  SELECT *, CASE WHEN d2 <> 0.0 THEN
       |    (r2 - phi11 * r1) / d2 END AS phi22
       |  FROM l2
       |), l3 AS (
       |  SELECT *, phi11 - phi22 * phi11 AS phi21
       |  FROM l2b
       |), l3b AS (
       |  SELECT *, 1.0 - (phi21 * r1 + phi22 * r2) AS d3
       |  FROM l3
       |), l3c AS (
       |  SELECT *, CASE WHEN d3 <> 0.0 THEN
       |    (r3 - (phi21 * r2 + phi22 * r1)) / d3 END AS phi33
       |  FROM l3b
       |), l4 AS (
       |  SELECT *, phi21 - phi33 * phi22 AS phi31,
       |    phi22 - phi33 * phi21 AS phi32
       |  FROM l3c
       |), l4b AS (
       |  SELECT *,
       |    1.0 - (phi31 * r1 + phi32 * r2 + phi33 * r3) AS d4
       |  FROM l4
       |), l4c AS (
       |  SELECT *, CASE WHEN d4 <> 0.0 THEN
       |    (r4 - (phi31 * r3 + phi32 * r2 + phi33 * r1)) / d4 END AS phi44
       |  FROM l4b
       |), l5a AS (
       |  SELECT *, phi31 - phi44 * phi33 AS phi41,
       |    phi32 - phi44 * phi32 AS phi42,
       |    phi33 - phi44 * phi31 AS phi43
       |  FROM l4c
       |), l5b AS (
       |  SELECT *,
       |    1.0 - (phi41 * r1 + phi42 * r2 + phi43 * r3 + phi44 * r4) AS d5
       |  FROM l5a
       |), l5 AS (
       |  SELECT *, CASE WHEN d5 <> 0.0 THEN
       |    (r5 - (phi41 * r4 + phi42 * r3 + phi43 * r2 + phi44 * r1)) / d5
       |    END AS phi55
       |  FROM l5b
       |)
       |${(1 to 5).map(out).mkString("\nUNION ALL\n")}
       |ORDER BY lag""".stripMargin
  }

  /** The acfOracle moment frame ending in the single Ljung–Box row: the
    * r6-pinned ρ̂_k's square-sum in the same literal k order as the Spark
    * left-fold, so Q is the identical float sequence.
    */
  private def ljungBoxOracle: String = {
    // den > 0 guard mirrors the Spark when(den > 0.0, ...): both engines
    // abstain NULL on a constant series (rho NULLs propagate into q_stat
    // and reject identically)
    val rhos = (1 to 7).map(k =>
      s"""    CASE WHEN den > 0.0 THEN
         |      FLOOR((p$k - mu * CAST(a$k AS DOUBLE) - mu * CAST(b$k AS DOUBLE)
         |      + CAST(n$k AS DOUBLE) * mu * mu) / den * 1000000.0 + 0.500001)
         |      / 1000000.0 END AS r$k""".stripMargin).mkString(",\n")
    val chain = (1 to 7).map(k =>
      s"r$k * r$k / (CAST(nn AS DOUBLE) - $k.0)").mkString(" + ")
    s"""WITH ${lagMomentsCte(7)}, r AS (
       |  SELECT nn,
       |$rhos
       |  FROM m
       |)
       |SELECT nn AS n_days, CAST(7 AS BIGINT) AS h,
       |  FLOOR(CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 2.0)
       |    * ($chain) * 1000000.0 + 0.500001) / 1000000.0 AS q_stat,
       |  CAST(FLOOR(CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 2.0)
       |    * ($chain) * 1000000.0 + 0.500001) / 1000000.0
       |    > 14.067140449340169 AS BIGINT) AS reject_95
       |FROM r""".stripMargin
  }

  /** Mirrors q_durbin_watson exactly: same integer moments, same literal
    * double-op order for a/b, same unit-quantized squared terms, same
    * den > 0 guard (Spark 0.0/0.0 is NaN, DuckDB NULL — the guard makes
    * both abstain), same r6 pins.
    */
  private def durbinWatsonOracle: String =
    s"""WITH $TrendMomentsCte, ab0 AS (
       |  SELECT n, st, sy,
       |    CASE WHEN CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
       |        - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) <> 0.0
       |      THEN (CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)
       |        - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
       |        / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
       |        - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
       |      END AS b
       |  FROM m
       |), ab AS (
       |  SELECT n, b,
       |    (CAST(sy AS DOUBLE) - b * CAST(st AS DOUBLE)) / CAST(n AS DOUBLE)
       |      AS a
       |  FROM ab0
       |), resid AS (
       |  SELECT dd.day, ab.n, ab.b,
       |    CAST(dd.rev AS DOUBLE) - ab.a - ab.b * CAST(dd.tt AS DOUBLE) AS e
       |  FROM dd CROSS JOIN ab
       |), diffs AS (
       |  SELECT day, n, b, e, e - LAG(e, 1) OVER (ORDER BY day) AS d
       |  FROM resid
       |), terms AS (
       |  SELECT n, b,
       |    CAST(FLOOR(e * e + 0.500001) AS HUGEINT) AS den_t,
       |    CASE WHEN d IS NOT NULL
       |      THEN CAST(FLOOR(d * d + 0.500001) AS HUGEINT) END AS num_t
       |  FROM diffs
       |), g AS (
       |  SELECT n, b, SUM(num_t) AS num, SUM(den_t) AS den
       |  FROM terms GROUP BY n, b
       |), fin AS (
       |  SELECT n, b,
       |    CASE WHEN CAST(den AS DOUBLE) > 0.0
       |      THEN FLOOR(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
       |        * 1000000.0 + 0.500001) / 1000000.0 END AS dw
       |  FROM g
       |)
       |SELECT n AS n_days,
       |  FLOOR(b * 1000000.0 + 0.500001) / 1000000.0 AS slope_cents_per_day,
       |  dw,
       |  CASE WHEN dw IS NULL THEN NULL
       |       WHEN dw < 1.5 THEN 'positive'
       |       WHEN dw > 2.5 THEN 'negative'
       |       ELSE 'none' END AS serial_corr
       |FROM fin""".stripMargin

  /** Mirrors q_periodogram: the SAME Scala-computed micro-trig literal
    * tables (no engine trig anywhere), identical integer moments, and the
    * identical literal-order final doubles per period row.
    */
  private def periodogramOracle: String = {
    def list(f: (Int, Int) => Long, p: Int): String =
      (0 until p).map(k => f(k, p)).mkString("list_value(", ", ", ")")
    val moments = Periods.map { p =>
      s"""    SUM(CAST(x AS HUGEINT) * list_extract(${list(cosMicro, p)},
         |      CAST(tt % $p AS INTEGER) + 1)) AS sxc$p,
         |    SUM(CAST(x AS HUGEINT) * list_extract(${list(sinMicro, p)},
         |      CAST(tt % $p AS INTEGER) + 1)) AS sxs$p,
         |    CAST(SUM(list_extract(${list(cosMicro, p)},
         |      CAST(tt % $p AS INTEGER) + 1)) AS BIGINT) AS sc$p,
         |    CAST(SUM(list_extract(${list(sinMicro, p)},
         |      CAST(tt % $p AS INTEGER) + 1)) AS BIGINT) AS ss$p""".stripMargin
    }.mkString(",\n")
    val rows = Periods.map { p =>
      s"""  SELECT CAST($p AS BIGINT) AS period, n AS n_days,
         |    CASE WHEN varsum > 0.0 THEN
         |      FLOOR(((CAST(sxc$p AS DOUBLE) - mu * CAST(sc$p AS DOUBLE))
         |          / 1000000.0 * ((CAST(sxc$p AS DOUBLE)
         |          - mu * CAST(sc$p AS DOUBLE)) / 1000000.0)
         |        + (CAST(sxs$p AS DOUBLE) - mu * CAST(ss$p AS DOUBLE))
         |          / 1000000.0 * ((CAST(sxs$p AS DOUBLE)
         |          - mu * CAST(ss$p AS DOUBLE)) / 1000000.0))
         |        * 2.0 / CAST(n AS DOUBLE) / varsum
         |        * 1000000.0 + 0.500001) / 1000000.0 END AS var_frac,
         |    CASE WHEN varsum > 0.0 THEN
         |      FLOOR(sqrt((CAST(sxc$p AS DOUBLE) - mu * CAST(sc$p AS DOUBLE))
         |          / 1000000.0 * ((CAST(sxc$p AS DOUBLE)
         |          - mu * CAST(sc$p AS DOUBLE)) / 1000000.0)
         |        + (CAST(sxs$p AS DOUBLE) - mu * CAST(ss$p AS DOUBLE))
         |          / 1000000.0 * ((CAST(sxs$p AS DOUBLE)
         |          - mu * CAST(ss$p AS DOUBLE)) / 1000000.0))
         |        * 2.0 / CAST(n AS DOUBLE) / 100.0
         |        * 100.0 + 0.500001) / 100.0 END AS amp_dollars
         |  FROM f""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |    CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT))
       |      AS BIGINT) AS x
       |  FROM orders GROUP BY 1
       |), dd AS (
       |  SELECT x, CAST(datediff('day', DATE '1992-01-01', day) AS BIGINT)
       |    AS tt
       |  FROM daily
       |), g AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
       |    SUM(CAST(x AS HUGEINT) * x) AS sx2,
       |$moments
       |  FROM dd
       |), f AS (
       |  SELECT *, CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
       |    CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE)
       |      * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS varsum
       |  FROM g
       |)
       |SELECT * FROM (
       |$rows
       |) ORDER BY period""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(

    "q_acf" -> acfOracle,
    "q_pacf" -> pacfOracle,

    // quantile_cont interpolates the same fences as exactQuantileCont
    // (the q_theil_sen precedent); identical clamp, strict censuses, and
    // day-ordered cumulative mean
    "q_winsorize" ->
      s"""WITH $DailyRevenueCte, q AS (
        |  SELECT quantile_cont(CAST(rev AS DOUBLE), 0.05) AS lo,
        |    quantile_cont(CAST(rev AS DOUBLE), 0.95) AS hi
        |  FROM daily
        |), c AS (
        |  SELECT day, lo, hi,
        |    LEAST(GREATEST(CAST(rev AS DOUBLE), lo), hi) AS cl,
        |    CASE WHEN CAST(rev AS DOUBLE) < lo THEN 1 ELSE 0 END AS is_lo,
        |    CASE WHEN CAST(rev AS DOUBLE) > hi THEN 1 ELSE 0 END AS is_hi
        |  FROM daily CROSS JOIN q
        |), acc AS (
        |  SELECT ROW_NUMBER() OVER (ORDER BY day) AS rn,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS n,
        |    SUM(cl) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
        |    CAST(SUM(is_lo) OVER () AS BIGINT) AS n_lo,
        |    CAST(SUM(is_hi) OVER () AS BIGINT) AS n_hi,
        |    lo, hi
        |  FROM c
        |)
        |SELECT n AS n_days,
        |  FLOOR(lo / 100.0 * 100.0 + 0.500001) / 100.0 AS fence_lo,
        |  FLOOR(hi / 100.0 * 100.0 + 0.500001) / 100.0 AS fence_hi,
        |  n_lo, n_hi,
        |  FLOOR(s / CAST(n AS DOUBLE) / 100.0 * 10000.0 + 0.500001)
        |    / 10000.0 AS winsor_mean
        |FROM acc WHERE rn = n""".stripMargin,

    // identical BIGINT daily diffs + 5-period rolling sums, HUGEINT exact
    // squares, and the same literal-order mu/var1/var5/vr/se compose; the
    // constant Spark folds from 2.0*(2q-1)(q-1)/(3.0q) is spelled as its
    // folded double 4.8 so SQRT sees the same bits
    "q_variance_ratio" ->
      s"""WITH $DailyRevenueCte, lagd AS (
        |  SELECT day, rev - LAG(rev, 1) OVER (ORDER BY day) AS d
        |  FROM daily
        |), diffs AS (
        |  SELECT day, d FROM lagd WHERE d IS NOT NULL
        |), withs AS (
        |  SELECT d,
        |    CASE WHEN ROW_NUMBER() OVER (ORDER BY day) >= 5 THEN
        |      CAST(SUM(d) OVER (ORDER BY day
        |        ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT)
        |    END AS s5
        |  FROM diffs
        |), m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(d) AS BIGINT) AS sd,
        |    SUM(CAST(d AS HUGEINT) * d) AS sdd,
        |    CAST(COUNT(s5) AS BIGINT) AS mm,
        |    CAST(SUM(s5) AS BIGINT) AS ss,
        |    SUM(CAST(s5 AS HUGEINT) * s5) AS sss
        |  FROM withs
        |), f1 AS (
        |  SELECT n, sd, sdd, mm, ss, sss,
        |    CAST(n AS DOUBLE) AS nd, CAST(mm AS DOUBLE) AS md,
        |    CAST(sd AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
        |    (CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)
        |      / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS var1
        |  FROM m
        |), f2 AS (
        |  SELECT n, mm, nd, md, var1, 5.0 * mu AS qmu, ss, sss FROM f1
        |), f3 AS (
        |  SELECT n, mm, nd, var1,
        |    (CAST(sss AS DOUBLE) - 2.0 * qmu * CAST(ss AS DOUBLE)
        |      + md * qmu * qmu) / md AS var5
        |  FROM f2
        |), f4 AS (
        |  SELECT n,
        |    (n > 5 AND mm > 0 AND var1 > 0.0) AS ok,
        |    var5 / (5.0 * var1) AS vr,
        |    SQRT(4.8 / nd) AS se
        |  FROM f3
        |), f5 AS (
        |  SELECT n, ok, vr, se,
        |    CASE WHEN ok THEN
        |      FLOOR((vr - 1.0) / se * 1000000.0 + 0.500001) / 1000000.0
        |    END AS zr
        |  FROM f4
        |)
        |SELECT n AS n_diffs,
        |  CASE WHEN ok THEN
        |    FLOOR(vr * 1000000.0 + 0.500001) / 1000000.0 END AS vr5,
        |  zr AS z_stat,
        |  CAST(COALESCE(CASE WHEN ABS(zr) > 1.959963984540054
        |    THEN 1 ELSE 0 END, 0) AS BIGINT) AS reject_rw_95
        |FROM f5""".stripMargin,

    // Scala-generated shared micro-trig literals, exact integer moments,
    // identical literal-order finals
    "q_periodogram" -> periodogramOracle,

    // exact integer OLS moments → identical a/b doubles, unit-quantized
    // squared residual terms, den > 0 both-engines-abstain guard
    "q_durbin_watson" -> durbinWatsonOracle,

    // identical exact integer moments, staged centered moments, Cramer
    // solve and RSS algebra in the same literal order, same abstentions
    "q_granger" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT))
        |      AS BIGINT) AS y,
        |    CAST(COUNT(*) AS BIGINT) AS x
        |  FROM orders GROUP BY 1
        |), lagged AS (
        |  SELECT y,
        |    LAG(y, 1) OVER (ORDER BY day) AS y1,
        |    LAG(x, 1) OVER (ORDER BY day) AS x1
        |  FROM daily
        |), lg AS (
        |  SELECT * FROM lagged WHERE y1 IS NOT NULL
        |), m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(y1) AS BIGINT) AS sy1,
        |    CAST(SUM(x1) AS BIGINT) AS sx1,
        |    SUM(CAST(y AS HUGEINT) * y) AS syy,
        |    SUM(CAST(y AS HUGEINT) * y1) AS syy1,
        |    SUM(CAST(y AS HUGEINT) * x1) AS syx1,
        |    SUM(CAST(y1 AS HUGEINT) * y1) AS sy1y1,
        |    SUM(CAST(y1 AS HUGEINT) * x1) AS sy1x1,
        |    SUM(CAST(x1 AS HUGEINT) * x1) AS sx1x1
        |  FROM lg
        |), cm AS (
        |  SELECT n,
        |    CAST(sy1y1 AS DOUBLE) - CAST(sy1 AS DOUBLE) * CAST(sy1 AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS c11,
        |    CAST(sy1x1 AS DOUBLE) - CAST(sy1 AS DOUBLE) * CAST(sx1 AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS c12,
        |    CAST(sx1x1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS c22,
        |    CAST(syy1 AS DOUBLE) - CAST(sy1 AS DOUBLE) * CAST(sy AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS c1y,
        |    CAST(syx1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sy AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS c2y,
        |    CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS cyy
        |  FROM m
        |), sv AS (
        |  SELECT n, c1y, c2y, cyy,
        |    c11 * c22 - c12 * c12 AS det,
        |    CASE WHEN c11 > 0.0 THEN c1y / c11 END AS br,
        |    c11, c12, c22
        |  FROM cm
        |), sv2 AS (
        |  SELECT n, c1y, c2y, cyy,
        |    cyy - br * c1y AS rssr,
        |    CASE WHEN det > 0.0 THEN (c1y * c22 - c2y * c12) / det END AS bu,
        |    CASE WHEN det > 0.0 THEN (c2y * c11 - c1y * c12) / det END AS cu
        |  FROM sv
        |), sv3 AS (
        |  SELECT n, bu, cu, rssr,
        |    cyy - bu * c1y - cu * c2y AS rssu
        |  FROM sv2
        |), fin AS (
        |  SELECT n, bu, cu,
        |    CASE WHEN rssu > 0.0 AND CAST(n AS DOUBLE) > 3.0
        |      THEN (rssr - rssu) * (CAST(n AS DOUBLE) - 3.0) / rssu
        |      END AS f
        |  FROM sv3
        |)
        |SELECT n AS n_days,
        |  FLOOR(bu * 1000000.0 + 0.500001) / 1000000.0 AS b_ylag,
        |  FLOOR(cu * 1000000.0 + 0.500001) / 1000000.0 AS c_xlag,
        |  FLOOR(f * 1000000.0 + 0.500001) / 1000000.0 AS f_stat,
        |  COALESCE(CAST(FLOOR(f * 1000000.0 + 0.500001) / 1000000.0
        |    > 3.8414588206941245 AS BIGINT), 0) AS x_causes_y_95
        |FROM fin""".stripMargin,

    // the acfOracle moments, ρ̂ r6-pinned before Q, literal k-order chain
    "q_ljung_box" -> ljungBoxOracle,

    // identical integer-cents series, date-equi lookbacks (a.day - 7 / - 1),
    // BIGINT-exact MASE denominator, single-division floats
    "q_forecast" ->
      s"""WITH $DailyRevenueCte, mx AS (
        |  SELECT MAX(day) AS max_day FROM daily
        |), tr AS (
        |  SELECT CAST(SUM(ABS(a.rev - b.rev)) AS BIGINT) AS sum_d,
        |    CAST(COUNT(*) AS BIGINT) AS n_tr
        |  FROM daily a JOIN daily b ON b.day = a.day - 1, mx
        |  WHERE a.day <= max_day - 28
        |)
        |SELECT a.day, a.rev AS actual_cents, f.rev AS forecast_cents,
        |  CAST(ABS(a.rev - f.rev) AS BIGINT) AS abs_err_cents,
        |  FLOOR(CAST(ABS(a.rev - f.rev) AS DOUBLE) / a.rev * 1000000.0
        |    + 0.500001) / 1000000.0 AS ape,
        |  CASE WHEN sum_d > 0 THEN
        |    FLOOR(CAST(ABS(a.rev - f.rev) AS DOUBLE) * n_tr / sum_d
        |      * 1000000.0 + 0.500001) / 1000000.0 END AS mase
        |FROM daily a JOIN daily f ON f.day = a.day - 7, mx, tr
        |WHERE a.day > max_day - 28
        |ORDER BY a.day""".stripMargin,

    // identical bounded-window unrolling and dyadic weights; r2 absorbs
    // summation-order float drift
    "q_ewma_smooth" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, SUM(o_totalprice) AS rev
        |  FROM orders GROUP BY 1
        |)
        |SELECT a.day,
        |  FLOOR((MAX(CASE WHEN b.day = a.day THEN b.rev END)) * 100.0
        |    + 0.500001) / 100.0 AS revenue,
        |  FLOOR((SUM(POWER(0.5, date_diff('day', b.day, a.day)) * b.rev)
        |       / SUM(POWER(0.5, date_diff('day', b.day, a.day)))) * 100.0
        |    + 0.500001) / 100.0 AS ewma
        |FROM daily a JOIN daily b
        |  ON b.day BETWEEN a.day - 15 AND a.day
        |GROUP BY a.day ORDER BY a.day""".stripMargin,

    // identical unique-ordered lag gaps in exact integer microseconds,
    // HUGEINT squares, identical single float sequence for mu/sigma/B
    "q_burstiness" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
        |), gaps AS (
        |  SELECT user_id,
        |    us - LAG(us) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) AS gap
        |  FROM e
        |), g AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
        |    CAST(SUM(gap) AS BIGINT) AS sg,
        |    SUM(CAST(gap AS HUGEINT) * gap) AS ssq
        |  FROM gaps WHERE gap IS NOT NULL GROUP BY user_id
        |  HAVING COUNT(*) >= 2
        |), f AS (
        |  SELECT user_id, n_gaps,
        |    CAST(sg AS DOUBLE) / n_gaps AS mean,
        |    sqrt(GREATEST(CAST(ssq AS DOUBLE)
        |        - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
        |          / CAST(n_gaps AS DOUBLE), 0.0)
        |      / (CAST(n_gaps AS DOUBLE) - 1)) AS sd
        |  FROM g
        |)
        |SELECT user_id, n_gaps,
        |  FLOOR(mean / 1000000.0 * 10000.0 + 0.500001) / 10000.0
        |    AS mean_gap_s,
        |  FLOOR(sd / 1000000.0 * 10000.0 + 0.500001) / 10000.0 AS sd_gap_s,
        |  CASE WHEN sd + mean > 0 THEN
        |    FLOOR((sd - mean) / (sd + mean) * 1000000.0 + 0.500001)
        |      / 1000000.0 END AS burstiness
        |FROM f ORDER BY user_id""".stripMargin,

    // the identical day-ordered fold as a RECURSIVE CTE advancing one
    // observation per step — NOT list_reduce: DuckDB 1.0's list_reduce
    // evaluates a struct lambda's fields sequentially against a MUTATING
    // accumulator (the t-field expression sees the already-updated l —
    // measured), so the recursion runs in standard SQL where h.l/h.t are
    // unambiguously the previous state; the step arithmetic mirrors the
    // Spark lambda term for term
    "q_holt_trend" ->
      """WITH RECURSIVE daily AS (
        |  SELECT DATEDIFF('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
        |    AS x,
        |    CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT))
        |      AS BIGINT) AS yc
        |  FROM orders GROUP BY 1
        |), idx AS (
        |  SELECT CAST(yc AS DOUBLE) / 100.0 AS y,
        |    ROW_NUMBER() OVER (ORDER BY x) AS i
        |  FROM daily
        |), holt(i, l, t) AS (
        |  SELECT CAST(1 AS BIGINT), y, CAST(0.0 AS DOUBLE)
        |  FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT d.i,
        |    0.2 * d.y + 0.8 * (h.l + h.t),
        |    0.1 * ((0.2 * d.y + 0.8 * (h.l + h.t)) - h.l) + 0.9 * h.t
        |  FROM holt h JOIN idx d ON d.i = h.i + 1
        |), f AS (
        |  SELECT l, t FROM holt ORDER BY i DESC LIMIT 1
        |), n AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily
        |)
        |SELECT n_days,
        |  FLOOR(l * 10000.0 + 0.500001) / 10000.0 AS level,
        |  FLOOR(t * 1000000.0 + 0.500001) / 1000000.0 AS trend,
        |  FLOOR((l + 7.0 * t) * 10000.0 + 0.500001) / 10000.0 AS forecast_7,
        |  FLOOR((l + 28.0 * t) * 10000.0 + 0.500001) / 10000.0 AS forecast_28
        |FROM f, n""".stripMargin,

    "q_window_timerange" ->
      """WITH e AS (
        |  SELECT event_id, user_id, value,
        |    CAST(FLOOR(extract(epoch FROM ts)) AS BIGINT) AS sec
        |  FROM events
        |)
        |SELECT event_id, user_id,
        |  FLOOR((SUM(value) OVER w) * 100.0 + 0.500001) / 100.0 AS trail_sum,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS trail_n
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY sec
        |  RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "q_outlier_stats" ->
      """WITH s AS (
        |  SELECT event_type, AVG(value) AS mu, STDDEV_SAMP(value) AS sd
        |  FROM events GROUP BY event_type
        |)
        |SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CASE WHEN ABS((e.value - s.mu) / s.sd) > 3.0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  FLOOR((MAX(ABS((e.value - s.mu) / s.sd))) * 100.0 + 0.500001)
        |    / 100.0 AS max_abs_z
        |FROM events e JOIN s USING (event_type)
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,

    "q_mad_outliers" ->
      """WITH m AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY event_type
        |), d AS (
        |  SELECT e.event_type,
        |    quantile_cont(ABS(e.value - m.med), 0.5) AS mad
        |  FROM events e JOIN m USING (event_type)
        |  GROUP BY e.event_type
        |)
        |SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CASE WHEN d.mad <> 0
        |    AND ABS(0.6745 * (e.value - m.med) / d.mad) > 3.5
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  FLOOR((MAX(m.med)) * 100.0 + 0.500001) / 100.0 AS med,
        |  FLOOR((MAX(d.mad)) * 100.0 + 0.500001) / 100.0 AS mad
        |FROM events e JOIN m USING (event_type) JOIN d USING (event_type)
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,

    "q_seasonal_decompose" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT))
        |      AS BIGINT) AS rev,
        |    CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS BIGINT) AS dow
        |  FROM orders GROUP BY 1
        |), detr AS (
        |  SELECT day, rev, dow,
        |    AVG(rev) OVER (ORDER BY day
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend,
        |    rev - AVG(rev) OVER (ORDER BY day
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS d
        |  FROM daily
        |), seas AS (
        |  SELECT dow, quantile_cont(d, 0.5) AS seasonal FROM detr GROUP BY dow
        |)
        |SELECT detr.day, detr.rev,
        |  FLOOR(detr.trend * 10000.0 + 0.500001) / 10000.0 AS trend,
        |  FLOOR(seas.seasonal * 10000.0 + 0.500001) / 10000.0 AS seasonal,
        |  FLOOR((detr.d - seas.seasonal) * 10000.0 + 0.500001) / 10000.0 AS resid
        |FROM detr JOIN seas USING (dow)
        |ORDER BY day""".stripMargin,

    // identical calendar windows, the same exact order-statistic rank
    // ceil(0.9(n+1)) clamped to n, exact coverage counts
    "q_conformal_forecast" ->
      s"""WITH $DailyRevenueCte, mx AS (SELECT MAX(day) AS max_day FROM daily),
        |scored AS (
        |  SELECT d.day, m.max_day, ABS(d.rev - h.rev) AS abs_err
        |  FROM daily d
        |  JOIN daily h ON h.day = d.day - 7
        |  CROSS JOIN mx m
        |), calib AS (
        |  SELECT abs_err,
        |    ROW_NUMBER() OVER (ORDER BY abs_err, day) AS rk,
        |    COUNT(*) OVER () AS n_cal
        |  FROM scored
        |  WHERE day > max_day - 28 AND day <= max_day - 14
        |), q AS (
        |  SELECT abs_err AS q_cents, CAST(n_cal AS BIGINT) AS n_cal
        |  FROM calib
        |  WHERE rk = LEAST(n_cal,
        |    CAST(CEIL(0.9 * CAST(n_cal + 1 AS DOUBLE)) AS BIGINT))
        |), hold AS (
        |  SELECT abs_err FROM scored WHERE day > max_day - 14
        |)
        |SELECT q.n_cal AS n_calibration,
        |  CAST(COUNT(*) AS BIGINT) AS n_holdout,
        |  q.q_cents AS half_width_cents,
        |  CAST(SUM(CASE WHEN abs_err <= q.q_cents THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_covered,
        |  FLOOR(CAST(SUM(CASE WHEN abs_err <= q.q_cents THEN 1 ELSE 0 END)
        |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    * 1000000.0 + 0.500001) / 1000000.0 AS coverage,
        |  0.9 AS nominal
        |FROM hold, q GROUP BY q.n_cal, q.q_cents""".stripMargin,

    // the same decomposition, milli-unit quantized components, exact
    // HUGEINT moment variances, identical strength sequence
    "q_seasonal_strength" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT))
        |      AS BIGINT) AS rev,
        |    CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS BIGINT) AS dow
        |  FROM orders GROUP BY 1
        |), detr AS (
        |  SELECT day, rev, dow,
        |    rev - AVG(rev) OVER (ORDER BY day
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS d
        |  FROM daily
        |), seas AS (
        |  SELECT dow, quantile_cont(d, 0.5) AS seasonal FROM detr GROUP BY dow
        |), comp AS (
        |  SELECT
        |    CAST(FLOOR((detr.d - seas.seasonal) * 1000.0) AS BIGINT) AS rm,
        |    CAST(FLOOR(detr.d * 1000.0) AS BIGINT) AS sr,
        |    CAST(FLOOR((detr.rev - seas.seasonal) * 1000.0) AS BIGINT) AS tr
        |  FROM detr JOIN seas USING (dow)
        |), g AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(rm) AS BIGINT) AS s_rm,
        |    SUM(CAST(rm AS HUGEINT) * rm) AS q_rm,
        |    CAST(SUM(sr) AS BIGINT) AS s_sr,
        |    SUM(CAST(sr AS HUGEINT) * sr) AS q_sr,
        |    CAST(SUM(tr) AS BIGINT) AS s_tr,
        |    SUM(CAST(tr AS HUGEINT) * tr) AS q_tr
        |  FROM comp
        |), e AS (
        |  SELECT n,
        |    CAST(q_rm AS DOUBLE) / CAST(n AS DOUBLE)
        |      - (CAST(s_rm AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (CAST(s_rm AS DOUBLE) / CAST(n AS DOUBLE)) AS v_rm,
        |    CAST(q_sr AS DOUBLE) / CAST(n AS DOUBLE)
        |      - (CAST(s_sr AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (CAST(s_sr AS DOUBLE) / CAST(n AS DOUBLE)) AS v_sr,
        |    CAST(q_tr AS DOUBLE) / CAST(n AS DOUBLE)
        |      - (CAST(s_tr AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (CAST(s_tr AS DOUBLE) / CAST(n AS DOUBLE)) AS v_tr
        |  FROM g
        |)
        |SELECT n AS n_days,
        |  CASE WHEN v_tr > 0 THEN
        |    FLOOR(GREATEST(0.0, 1.0 - v_rm / v_tr)
        |      * 1000000.0 + 0.500001) / 1000000.0 END AS strength_trend,
        |  CASE WHEN v_sr > 0 THEN
        |    FLOOR(GREATEST(0.0, 1.0 - v_rm / v_sr)
        |      * 1000000.0 + 0.500001) / 1000000.0 END AS strength_seasonal
        |FROM e""".stripMargin,

    "q_changepoint" ->
      s"""WITH $DailyRevenueCte, stats AS (
        |  SELECT day, rev,
        |    AVG(rev) OVER () AS mu,
        |    stddev_pop(rev) OVER () AS sd,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS n
        |  FROM daily
        |), cum AS (
        |  SELECT *, SUM(rev - mu) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
        |  FROM stats
        |), ranked AS (
        |  SELECT *, row_number() OVER (ORDER BY ABS(cusum) DESC, day) AS rn
        |  FROM cum
        |)
        |SELECT n AS n_days, day AS cp_day,
        |  FLOOR(ABS(cusum) / 100.0 * 100.0 + 0.500001) / 100.0 AS max_cusum,
        |  FLOOR(ABS(cusum) / (sd * sqrt(n)) * 10000.0 + 0.500001) / 10000.0 AS stat
        |FROM ranked WHERE rn = 1""".stripMargin,

    // identical daily cents frame, the same two strict RANGE frames of the
    // value-ordered window (ties in neither — exact sgn census), exact
    // BIGINT U_t, and the identical closed-form p sequence on the single
    // surviving row
    "q_pettitt" ->
      s"""WITH $DailyRevenueCte, cnt AS (
        |  SELECT day,
        |    CAST(COUNT(*) OVER (ORDER BY rev
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT)
        |      AS below,
        |    CAST(COUNT(*) OVER (ORDER BY rev
        |      RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS BIGINT)
        |      AS above
        |  FROM daily
        |), u AS (
        |  SELECT day,
        |    CAST(SUM(below - above) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS ut,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS n
        |  FROM cnt
        |), ranked AS (
        |  SELECT *, row_number() OVER (ORDER BY ABS(ut) DESC, day) AS rn
        |  FROM u
        |), fin AS (
        |  SELECT n, day, ut,
        |    FLOOR(LEAST(1.0, 2.0 * EXP(-6.0
        |        * CAST(ABS(ut) AS DOUBLE) * CAST(ABS(ut) AS DOUBLE)
        |        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |           + CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
        |      * 1000000.0 + 0.500001) / 1000000.0 AS p_approx
        |  FROM ranked WHERE rn = 1
        |)
        |SELECT n AS n_days, day AS cp_day, ABS(ut) AS k_stat,
        |  ut AS u_at_cp, p_approx,
        |  CAST(CASE WHEN p_approx < 0.05 THEN 1 ELSE 0 END AS BIGINT)
        |    AS reject_95
        |FROM fin""".stripMargin,

    // identical daily frame, the same strict-extremum census (ties are
    // not extrema on either engine), and the identical closed-form
    // moment sequence
    "q_turning_points" ->
      s"""WITH $DailyRevenueCte, lagged AS (
        |  SELECT rev,
        |    LAG(rev, 1) OVER (ORDER BY day) AS p,
        |    LEAD(rev, 1) OVER (ORDER BY day) AS nx
        |  FROM daily
        |), g AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN p IS NOT NULL AND nx IS NOT NULL
        |      AND ((p < rev AND nx < rev) OR (p > rev AND nx > rev))
        |      THEN 1 ELSE 0 END) AS BIGINT) AS t
        |  FROM lagged
        |)
        |SELECT n AS n_days, t AS n_turning,
        |  CASE WHEN n >= 3 THEN
        |    FLOOR(2.0 * (CAST(n AS DOUBLE) - 2.0) / 3.0
        |      * 10000.0 + 0.500001) / 10000.0 END AS expected,
        |  CASE WHEN n >= 3 THEN
        |    FLOOR((CAST(t AS DOUBLE)
        |        - 2.0 * (CAST(n AS DOUBLE) - 2.0) / 3.0)
        |      / SQRT((16.0 * CAST(n AS DOUBLE) - 29.0) / 90.0)
        |      * 1000000.0 + 0.500001) / 1000000.0 END AS z_stat,
        |  CAST(COALESCE(CASE WHEN n >= 3 THEN
        |    CASE WHEN ABS(FLOOR((CAST(t AS DOUBLE)
        |        - 2.0 * (CAST(n AS DOUBLE) - 2.0) / 3.0)
        |      / SQRT((16.0 * CAST(n AS DOUBLE) - 29.0) / 90.0)
        |      * 1000000.0 + 0.500001) / 1000000.0) > 1.959963984540054
        |    THEN 1 ELSE 0 END END, 0) AS BIGINT) AS reject_95
        |FROM g""".stripMargin,

    // identical daily OLS chain as q_durbin_watson (same moment CTEs,
    // same deterministic residual doubles, same integer-cents²
    // quantization before the RSS sum); leverage/D are the identical
    // per-row closed forms of broadcast scalars, ranking on the ROUNDED
    // D with day tie-break, the 4/n cut compared rounded-to-rounded
    "q_cooks_distance" ->
      s"""WITH $TrendFitCte, ab AS (
        |  SELECT n, b,
        |    (CAST(sy AS DOUBLE) - b * CAST(st AS DOUBLE)) / CAST(n AS DOUBLE)
        |      AS a,
        |    CAST(stt AS DOUBLE)
        |      - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(n AS DOUBLE)
        |      AS s_tt,
        |    CAST(st AS DOUBLE) / CAST(n AS DOUBLE) AS tbar
        |  FROM ab0
        |), uq AS (
        |  SELECT dd.day, dd.rev, dd.tt, ab.n, ab.s_tt, ab.tbar,
        |    CAST(FLOOR(
        |      (CAST(dd.rev AS DOUBLE) - ab.a - ab.b * CAST(dd.tt AS DOUBLE))
        |      * (CAST(dd.rev AS DOUBLE) - ab.a - ab.b * CAST(dd.tt AS DOUBLE))
        |      + 0.500001) AS HUGEINT) AS u
        |  FROM dd CROSS JOIN ab
        |), rss AS (SELECT SUM(u) AS rss_q FROM uq),
        |dk AS (
        |  SELECT uq.day, uq.rev, uq.n,
        |    1.0 / CAST(uq.n AS DOUBLE)
        |      + (CAST(uq.tt AS DOUBLE) - uq.tbar)
        |        * (CAST(uq.tt AS DOUBLE) - uq.tbar) / uq.s_tt AS h,
        |    CASE WHEN uq.n > 2 AND uq.s_tt > 0.0 THEN
        |      CAST(uq.u AS DOUBLE)
        |        * (1.0 / CAST(uq.n AS DOUBLE)
        |           + (CAST(uq.tt AS DOUBLE) - uq.tbar)
        |             * (CAST(uq.tt AS DOUBLE) - uq.tbar) / uq.s_tt)
        |        / (2.0 * (CAST(rss.rss_q AS DOUBLE)
        |                  / (CAST(uq.n AS DOUBLE) - 2.0))
        |           * (1.0 - (1.0 / CAST(uq.n AS DOUBLE)
        |                + (CAST(uq.tt AS DOUBLE) - uq.tbar)
        |                  * (CAST(uq.tt AS DOUBLE) - uq.tbar) / uq.s_tt))
        |           * (1.0 - (1.0 / CAST(uq.n AS DOUBLE)
        |                + (CAST(uq.tt AS DOUBLE) - uq.tbar)
        |                  * (CAST(uq.tt AS DOUBLE) - uq.tbar) / uq.s_tt)))
        |      END AS dcook
        |  FROM uq CROSS JOIN rss
        |), rk AS (
        |  SELECT day, rev, n, h,
        |    FLOOR(dcook * 1000000.0 + 0.500001) / 1000000.0 AS d_r,
        |    ROW_NUMBER() OVER (
        |      ORDER BY FLOOR(dcook * 1000000.0 + 0.500001) / 1000000.0 DESC,
        |        day) AS rk
        |  FROM dk WHERE dcook IS NOT NULL
        |)
        |SELECT day, rev / 100 AS rev_dollars,
        |  FLOOR(h * 1000000.0 + 0.500001) / 1000000.0 AS leverage,
        |  d_r AS cook_d,
        |  CAST(CASE WHEN d_r >
        |      FLOOR(4.0 / CAST(n AS DOUBLE) * 1000000.0 + 0.500001)
        |        / 1000000.0
        |    THEN 1 ELSE 0 END AS BIGINT) AS influential
        |FROM rk WHERE rk <= 10 ORDER BY cook_d DESC, day""".stripMargin,

    // identical one-pass conditional moment census (both segments' exact
    // integers, FULL = their exact sums), the same closed-form RSS
    // algebra per segment, and the same left-associated F compose;
    // guards mirror exactly
    "q_chow" ->
      s"""WITH $DailyRevenueCte, dd AS (
        |  SELECT rev,
        |    CAST(datediff('day', DATE '1992-01-01', day) AS BIGINT) AS tt,
        |    CASE WHEN day < DATE '1998-01-01' THEN 1 ELSE 0 END AS pre
        |  FROM daily
        |), m AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN pre = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN pre = 1 THEN tt ELSE 0 END) AS BIGINT)
        |      AS st1,
        |    CAST(SUM(CASE WHEN pre = 1 THEN rev ELSE 0 END) AS BIGINT)
        |      AS sy1,
        |    SUM(CASE WHEN pre = 1 THEN CAST(tt AS HUGEINT) * tt
        |      ELSE 0 END) AS stt1,
        |    SUM(CASE WHEN pre = 1 THEN CAST(tt AS HUGEINT) * rev
        |      ELSE 0 END) AS sty1,
        |    SUM(CASE WHEN pre = 1 THEN CAST(rev AS HUGEINT) * rev
        |      ELSE 0 END) AS syy1,
        |    CAST(SUM(CASE WHEN pre = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(SUM(CASE WHEN pre = 0 THEN tt ELSE 0 END) AS BIGINT)
        |      AS st2,
        |    CAST(SUM(CASE WHEN pre = 0 THEN rev ELSE 0 END) AS BIGINT)
        |      AS sy2,
        |    SUM(CASE WHEN pre = 0 THEN CAST(tt AS HUGEINT) * tt
        |      ELSE 0 END) AS stt2,
        |    SUM(CASE WHEN pre = 0 THEN CAST(tt AS HUGEINT) * rev
        |      ELSE 0 END) AS sty2,
        |    SUM(CASE WHEN pre = 0 THEN CAST(rev AS HUGEINT) * rev
        |      ELSE 0 END) AS syy2
        |  FROM dd
        |), r AS (
        |  SELECT n1, n2,
        |    CAST(stt1 AS DOUBLE) - CAST(st1 AS DOUBLE) * CAST(st1 AS DOUBLE)
        |      / CAST(n1 AS DOUBLE) AS sxx1,
        |    CAST(sty1 AS DOUBLE) - CAST(st1 AS DOUBLE) * CAST(sy1 AS DOUBLE)
        |      / CAST(n1 AS DOUBLE) AS sxy1,
        |    CAST(syy1 AS DOUBLE) - CAST(sy1 AS DOUBLE) * CAST(sy1 AS DOUBLE)
        |      / CAST(n1 AS DOUBLE) AS syc1,
        |    CAST(stt2 AS DOUBLE) - CAST(st2 AS DOUBLE) * CAST(st2 AS DOUBLE)
        |      / CAST(n2 AS DOUBLE) AS sxx2,
        |    CAST(sty2 AS DOUBLE) - CAST(st2 AS DOUBLE) * CAST(sy2 AS DOUBLE)
        |      / CAST(n2 AS DOUBLE) AS sxy2,
        |    CAST(syy2 AS DOUBLE) - CAST(sy2 AS DOUBLE) * CAST(sy2 AS DOUBLE)
        |      / CAST(n2 AS DOUBLE) AS syc2,
        |    CAST(stt1 + stt2 AS DOUBLE)
        |      - CAST(st1 + st2 AS DOUBLE) * CAST(st1 + st2 AS DOUBLE)
        |      / CAST(n1 + n2 AS DOUBLE) AS sxxf,
        |    CAST(sty1 + sty2 AS DOUBLE)
        |      - CAST(st1 + st2 AS DOUBLE) * CAST(sy1 + sy2 AS DOUBLE)
        |      / CAST(n1 + n2 AS DOUBLE) AS sxyf,
        |    CAST(syy1 + syy2 AS DOUBLE)
        |      - CAST(sy1 + sy2 AS DOUBLE) * CAST(sy1 + sy2 AS DOUBLE)
        |      / CAST(n1 + n2 AS DOUBLE) AS sycf
        |  FROM m
        |), rs AS (
        |  SELECT n1, n2, sxx1, sxx2, sxxf,
        |    syc1 - sxy1 * sxy1 / sxx1 AS rss1,
        |    syc2 - sxy2 * sxy2 / sxx2 AS rss2,
        |    sycf - sxyf * sxyf / sxxf AS rssf
        |  FROM r
        |), fin AS (
        |  SELECT n1, n2, rss1, rss2, rssf,
        |    n1 >= 3 AND n2 >= 3 AND sxx1 > 0.0 AND sxx2 > 0.0
        |      AND sxxf > 0.0 AND (rss1 + rss2) > 0.0 AS ok,
        |    ((rssf - rss1 - rss2) / 2.0)
        |      / ((rss1 + rss2) / (CAST(n1 + n2 AS DOUBLE) - 4.0)) AS f
        |  FROM rs
        |), fin2 AS (
        |  SELECT n1, n2, rss1, rss2, rssf, ok,
        |    CASE WHEN ok THEN
        |      FLOOR(f * 10000.0 + 0.500001) / 10000.0 END AS f_stat
        |  FROM fin
        |)
        |SELECT n1 AS n_pre, n2 AS n_post, f_stat,
        |  CASE WHEN ok THEN
        |    FLOOR((rssf - rss1 - rss2) / rssf * 1000000.0 + 0.500001)
        |      / 1000000.0 END AS break_share,
        |  CAST(COALESCE(CASE WHEN f_stat > 2.9957 THEN 1 ELSE 0 END, 0)
        |    AS BIGINT) AS reject_95
        |FROM fin2""".stripMargin,

    // identical cutoff-centered BIGINT running variable and ±365 bandwidth,
    // the q_chow exact-integer side moments, and the same staged
    // b/a/rss/s2/va literal-order float compose per side
    "q_rdd" ->
      s"""WITH $DailyRevenueCte, dd AS (
        |  SELECT rev,
        |    CAST(datediff('day', DATE '1998-01-01', day) AS BIGINT) AS tt
        |  FROM daily
        |  WHERE datediff('day', DATE '1998-01-01', day) BETWEEN -365 AND 364
        |), dd2 AS (
        |  SELECT rev, tt, CASE WHEN tt >= 0 THEN 1 ELSE 0 END AS rgt
        |  FROM dd
        |), m AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN rgt = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nl,
        |    CAST(SUM(CASE WHEN rgt = 0 THEN tt ELSE 0 END) AS BIGINT) AS stl,
        |    CAST(SUM(CASE WHEN rgt = 0 THEN rev ELSE 0 END) AS BIGINT) AS syl,
        |    SUM(CASE WHEN rgt = 0 THEN CAST(tt AS HUGEINT) * tt
        |      ELSE 0 END) AS sttl,
        |    SUM(CASE WHEN rgt = 0 THEN CAST(tt AS HUGEINT) * rev
        |      ELSE 0 END) AS styl,
        |    SUM(CASE WHEN rgt = 0 THEN CAST(rev AS HUGEINT) * rev
        |      ELSE 0 END) AS syyl,
        |    CAST(SUM(CASE WHEN rgt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nr,
        |    CAST(SUM(CASE WHEN rgt = 1 THEN tt ELSE 0 END) AS BIGINT) AS str,
        |    CAST(SUM(CASE WHEN rgt = 1 THEN rev ELSE 0 END) AS BIGINT) AS syr,
        |    SUM(CASE WHEN rgt = 1 THEN CAST(tt AS HUGEINT) * tt
        |      ELSE 0 END) AS sttr,
        |    SUM(CASE WHEN rgt = 1 THEN CAST(tt AS HUGEINT) * rev
        |      ELSE 0 END) AS styr,
        |    SUM(CASE WHEN rgt = 1 THEN CAST(rev AS HUGEINT) * rev
        |      ELSE 0 END) AS syyr
        |  FROM dd2
        |), c AS (
        |  SELECT nl, nr,
        |    CAST(sttl AS DOUBLE) - CAST(stl AS DOUBLE) * CAST(stl AS DOUBLE)
        |      / CAST(nl AS DOUBLE) AS sxxl,
        |    CAST(styl AS DOUBLE) - CAST(stl AS DOUBLE) * CAST(syl AS DOUBLE)
        |      / CAST(nl AS DOUBLE) AS sxyl,
        |    CAST(syyl AS DOUBLE) - CAST(syl AS DOUBLE) * CAST(syl AS DOUBLE)
        |      / CAST(nl AS DOUBLE) AS sycl,
        |    CAST(sttr AS DOUBLE) - CAST(str AS DOUBLE) * CAST(str AS DOUBLE)
        |      / CAST(nr AS DOUBLE) AS sxxr,
        |    CAST(styr AS DOUBLE) - CAST(str AS DOUBLE) * CAST(syr AS DOUBLE)
        |      / CAST(nr AS DOUBLE) AS sxyr,
        |    CAST(syyr AS DOUBLE) - CAST(syr AS DOUBLE) * CAST(syr AS DOUBLE)
        |      / CAST(nr AS DOUBLE) AS sycr,
        |    stl, syl, str, syr
        |  FROM m
        |), f AS (
        |  SELECT nl, nr, sxxl, sxxr, sxyl, sxyr, sycl, sycr,
        |    stl, syl, str, syr,
        |    sxyl / sxxl AS bl, sxyr / sxxr AS br
        |  FROM c
        |), f2 AS (
        |  SELECT nl, nr, sxxl, sxxr, bl, br,
        |    (CAST(syl AS DOUBLE) - bl * CAST(stl AS DOUBLE))
        |      / CAST(nl AS DOUBLE) AS al,
        |    (CAST(syr AS DOUBLE) - br * CAST(str AS DOUBLE))
        |      / CAST(nr AS DOUBLE) AS ar,
        |    sycl - sxyl * sxyl / sxxl AS rssl,
        |    sycr - sxyr * sxyr / sxxr AS rssr,
        |    CAST(stl AS DOUBLE) / CAST(nl AS DOUBLE) AS mtl,
        |    CAST(str AS DOUBLE) / CAST(nr AS DOUBLE) AS mtr
        |  FROM f
        |), f3 AS (
        |  SELECT nl, nr, sxxl, sxxr, bl, br, al, ar, rssl, rssr,
        |    rssl / (CAST(nl AS DOUBLE) - 2.0)
        |      * (1.0 / CAST(nl AS DOUBLE) + mtl * mtl / sxxl) AS vl,
        |    rssr / (CAST(nr AS DOUBLE) - 2.0)
        |      * (1.0 / CAST(nr AS DOUBLE) + mtr * mtr / sxxr) AS vr
        |  FROM f2
        |), f4 AS (
        |  SELECT nl, nr, bl, br, al, ar,
        |    nl >= 3 AND sxxl > 0.0 AS okl,
        |    nr >= 3 AND sxxr > 0.0 AS okr,
        |    nl >= 3 AND sxxl > 0.0 AND nr >= 3 AND sxxr > 0.0
        |      AND rssl > 0.0 AND rssr > 0.0 AS ok,
        |    ar - al AS effect, SQRT(vl + vr) AS se
        |  FROM f3
        |), f5 AS (
        |  SELECT *, CASE WHEN ok THEN
        |      FLOOR(effect / se * 10000.0 + 0.500001) / 10000.0
        |    END AS z_stat
        |  FROM f4
        |)
        |SELECT nl AS n_left, nr AS n_right,
        |  CASE WHEN okl THEN
        |    FLOOR(al / 100.0 * 100.0 + 0.500001) / 100.0 END AS limit_left,
        |  CASE WHEN okr THEN
        |    FLOOR(ar / 100.0 * 100.0 + 0.500001) / 100.0 END AS limit_right,
        |  CASE WHEN okl AND okr THEN
        |    FLOOR(effect / 100.0 * 100.0 + 0.500001) / 100.0 END AS effect,
        |  CASE WHEN okl THEN
        |    FLOOR(bl / 100.0 * 1000000.0 + 0.500001) / 1000000.0
        |    END AS slope_left,
        |  CASE WHEN okr THEN
        |    FLOOR(br / 100.0 * 1000000.0 + 0.500001) / 1000000.0
        |    END AS slope_right,
        |  z_stat,
        |  CAST(COALESCE(CASE WHEN ABS(z_stat) > 1.959963984540054
        |    THEN 1 ELSE 0 END, 0) AS BIGINT) AS reject_95
        |FROM f5""".stripMargin,

    // identical binarized moves (strict >, ties are "not up"), the same
    // two ≤8-cell exact censuses with window marginals, and the same
    // cell-ORDERED cumulative ln-term sums; the direction flag compares
    // rounded-to-rounded
    "q_transfer_entropy" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT))
        |      AS BIGINT) AS rev,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM orders GROUP BY 1
        |), mv0 AS (
        |  SELECT day, rev, cnt,
        |    LAG(rev, 1) OVER (ORDER BY day) AS rp,
        |    LAG(cnt, 1) OVER (ORDER BY day) AS cp
        |  FROM daily
        |), moves AS (
        |  SELECT day,
        |    CAST(CASE WHEN rev > rp THEN 1 ELSE 0 END AS BIGINT) AS u,
        |    CAST(CASE WHEN cnt > cp THEN 1 ELSE 0 END AS BIGINT) AS v
        |  FROM mv0 WHERE rp IS NOT NULL
        |), lagged0 AS (
        |  SELECT u, v,
        |    LAG(u, 1) OVER (ORDER BY day) AS u1,
        |    LAG(v, 1) OVER (ORDER BY day) AS v1
        |  FROM moves
        |), lagged AS (SELECT * FROM lagged0 WHERE u1 IS NOT NULL),
        |ca AS (
        |  SELECT u AS yt, u1 AS y1, v1 AS x1, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM lagged GROUP BY 1, 2, 3
        |), cam AS (
        |  SELECT *, CAST(SUM(c) OVER () AS BIGINT) AS nn,
        |    CAST(SUM(c) OVER (PARTITION BY y1) AS BIGINT) AS n_y1,
        |    CAST(SUM(c) OVER (PARTITION BY y1, x1) AS BIGINT) AS n_y1x1,
        |    CAST(SUM(c) OVER (PARTITION BY yt, y1) AS BIGINT) AS n_yty1
        |  FROM ca
        |), ta AS (
        |  SELECT ROW_NUMBER() OVER (ORDER BY yt, y1, x1) AS rn,
        |    COUNT(*) OVER () AS n_cells, nn,
        |    SUM((CAST(c AS DOUBLE) / CAST(nn AS DOUBLE))
        |      * LN(CAST(c AS DOUBLE) * CAST(n_y1 AS DOUBLE)
        |        / (CAST(n_y1x1 AS DOUBLE) * CAST(n_yty1 AS DOUBLE))))
        |      OVER (ORDER BY yt, y1, x1
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS te_xy
        |  FROM cam
        |), fa AS (SELECT nn, te_xy FROM ta WHERE rn = n_cells),
        |cb AS (
        |  SELECT v AS yt, v1 AS y1, u1 AS x1, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM lagged GROUP BY 1, 2, 3
        |), cbm AS (
        |  SELECT *, CAST(SUM(c) OVER () AS BIGINT) AS nn,
        |    CAST(SUM(c) OVER (PARTITION BY y1) AS BIGINT) AS n_y1,
        |    CAST(SUM(c) OVER (PARTITION BY y1, x1) AS BIGINT) AS n_y1x1,
        |    CAST(SUM(c) OVER (PARTITION BY yt, y1) AS BIGINT) AS n_yty1
        |  FROM cb
        |), tb AS (
        |  SELECT ROW_NUMBER() OVER (ORDER BY yt, y1, x1) AS rn,
        |    COUNT(*) OVER () AS n_cells,
        |    SUM((CAST(c AS DOUBLE) / CAST(nn AS DOUBLE))
        |      * LN(CAST(c AS DOUBLE) * CAST(n_y1 AS DOUBLE)
        |        / (CAST(n_y1x1 AS DOUBLE) * CAST(n_yty1 AS DOUBLE))))
        |      OVER (ORDER BY yt, y1, x1
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS te_yx
        |  FROM cbm
        |), fb AS (SELECT te_yx FROM tb WHERE rn = n_cells)
        |SELECT fa.nn AS n_days,
        |  FLOOR(fa.te_xy * 1000000.0 + 0.500001) / 1000000.0
        |    AS te_orders_to_rev,
        |  FLOOR(fb.te_yx * 1000000.0 + 0.500001) / 1000000.0
        |    AS te_rev_to_orders,
        |  CAST(CASE WHEN FLOOR(fa.te_xy * 1000000.0 + 0.500001) / 1000000.0
        |      > FLOOR(fb.te_yx * 1000000.0 + 0.500001) / 1000000.0
        |    THEN 1 ELSE 0 END AS BIGINT) AS orders_lead
        |FROM fa CROSS JOIN fb""".stripMargin,

    // same OLS + quantized-u chain; the LM compose is the identical
    // left-associated float sequence of the exact moments, guards mirror
    // (flat u / flat t abstain NULL, reject pinned 0)
    "q_breusch_pagan" ->
      s"""WITH $TrendFitCte, ab AS (
        |  SELECT n, st, stt, b,
        |    (CAST(sy AS DOUBLE) - b * CAST(st AS DOUBLE)) / CAST(n AS DOUBLE)
        |      AS a
        |  FROM ab0
        |), uq AS (
        |  SELECT dd.tt, ab.n, ab.st, ab.stt,
        |    CAST(FLOOR(
        |      (CAST(dd.rev AS DOUBLE) - ab.a - ab.b * CAST(dd.tt AS DOUBLE))
        |      * (CAST(dd.rev AS DOUBLE) - ab.a - ab.b * CAST(dd.tt AS DOUBLE))
        |      + 0.500001) AS HUGEINT) AS u
        |  FROM dd CROSS JOIN ab
        |), uq2 AS (
        |  SELECT tt, n, st, stt, u,
        |    u // 1000000000 AS uh, u % 1000000000 AS ul
        |  FROM uq
        |), g AS (
        |  SELECT n, st, stt, SUM(u) AS su,
        |    SUM(uh * uh) AS shh, SUM(uh * ul) AS shl, SUM(ul * ul) AS sll,
        |    SUM(CAST(tt AS HUGEINT) * u) AS stu
        |  FROM uq2 GROUP BY n, st, stt
        |), fin AS (
        |  SELECT n,
        |    CAST(stu AS DOUBLE)
        |      - CAST(st AS DOUBLE) * CAST(su AS DOUBLE) / CAST(n AS DOUBLE)
        |      AS sut,
        |    CAST(shh AS DOUBLE) * 1.0e18 + 2.0 * CAST(shl AS DOUBLE) * 1.0e9
        |      + CAST(sll AS DOUBLE)
        |      - CAST(su AS DOUBLE) * CAST(su AS DOUBLE) / CAST(n AS DOUBLE)
        |      AS suu_c,
        |    CAST(stt AS DOUBLE)
        |      - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(n AS DOUBLE)
        |      AS sttc
        |  FROM g
        |), fin2 AS (
        |  SELECT n, sut, suu_c, sttc,
        |    CASE WHEN suu_c > 0.0 AND sttc > 0.0 THEN
        |      FLOOR(CAST(n AS DOUBLE) * (sut * sut / (suu_c * sttc))
        |        * 10000.0 + 0.500001) / 10000.0 END AS lm
        |  FROM fin
        |)
        |SELECT n AS n_days,
        |  CASE WHEN suu_c > 0.0 AND sttc > 0.0 THEN
        |    FLOOR(sut / sttc * 1000000.0 + 0.500001) / 1000000.0 END
        |    AS het_slope,
        |  lm AS lm_stat,
        |  CAST(COALESCE(CASE WHEN lm > 3.8415 THEN 1 ELSE 0 END, 0)
        |    AS BIGINT) AS reject_95
        |FROM fin2""".stripMargin,

    "q_drift_psi" ->
      """WITH o AS (
        |  SELECT o_totalprice AS v,
        |    CAST(o_orderdate AS DATE) < DATE '1999-01-01' AS is_ref
        |  FROM orders
        |), cuts AS (
        |  SELECT quantile_cont(v, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bs
        |  FROM o WHERE is_ref
        |), binned AS (
        |  SELECT CAST(1 + len(list_filter(bs, x -> v > x)) AS BIGINT) AS bin,
        |    CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
        |    CAST(SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
        |  FROM o, cuts GROUP BY 1
        |)
        |SELECT bin, n_ref, n_cur,
        |  FLOOR((((n_ref + 0.5) / (SUM(n_ref) OVER () + 5.0)
        |        - (n_cur + 0.5) / (SUM(n_cur) OVER () + 5.0))
        |    * ln(((n_ref + 0.5) / (SUM(n_ref) OVER () + 5.0))
        |       / ((n_cur + 0.5) / (SUM(n_cur) OVER () + 5.0))))
        |    * 1000000.0 + 0.500001) / 1000000.0 AS psi_term
        |FROM binned ORDER BY bin""".stripMargin,

    // integer-cents running peak; one float division per row
    "q_drawdown" ->
      s"""WITH $DailyRevenueCte, p AS (
        |  SELECT day, rev, MAX(rev) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |  FROM daily
        |), d AS (
        |  SELECT day, rev, peak,
        |    CASE WHEN peak > 0 THEN
        |      FLOOR(CAST(peak - rev AS DOUBLE) / CAST(peak AS DOUBLE)
        |        * 1000000.0 + 0.500001) / 1000000.0
        |    ELSE 0.0 END AS drawdown_pct
        |  FROM p
        |)
        |SELECT day, rev, peak, drawdown_pct,
        |  FLOOR(MAX(drawdown_pct) OVER () * 1000000.0 + 0.500001)
        |    / 1000000.0 AS max_drawdown
        |FROM d ORDER BY day""".stripMargin,

    // exact integer moments (HUGEINT ≡ Spark decimal-38); identical 3-op
    // float expression per lag on both engines
    "q_ccf" ->
      """WITH rev AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events WHERE event_type = 'view' GROUP BY 1
        |), evn AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS y
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1
        |), shifted AS (
        |  SELECT CAST(k.lag AS BIGINT) AS lag,
        |    evn.day - CAST(k.lag AS INTEGER) AS day, y
        |  FROM evn CROSS JOIN
        |    (SELECT UNNEST([-3,-2,-1,0,1,2,3]) AS lag) k
        |), m AS (
        |  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |    SUM(CAST(y AS HUGEINT) * y) AS syy
        |  FROM rev JOIN shifted USING (day) GROUP BY lag
        |)
        |SELECT lag, n_pairs,
        |  CASE WHEN n_pairs > 1 AND n_pairs * sxx - sx * sx > 0
        |      AND n_pairs * syy - sy * sy > 0 THEN
        |    FLOOR(CAST(n_pairs * sxy - sx * sy AS DOUBLE)
        |        / sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE))
        |        / sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE))
        |      * 1000000.0 + 0.500001) / 1000000.0
        |  ELSE NULL END AS ccf
        |FROM m ORDER BY lag""".stripMargin,

    // identical user-day frame, 30-way window-day explode, exact counts
    "q_dau_mau" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |), dau AS (
        |  SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY 1
        |), win AS (
        |  SELECT DISTINCT user_id, CAST(u.w AS DATE) AS day
        |  FROM ud, LATERAL unnest(generate_series(CAST(day AS TIMESTAMP),
        |    CAST(day AS TIMESTAMP) + INTERVAL 29 DAY, INTERVAL 1 DAY))
        |    AS u(w)
        |), mau AS (
        |  SELECT day, CAST(COUNT(*) AS BIGINT) AS mau FROM win GROUP BY 1
        |)
        |SELECT d.day, d.dau, m.mau,
        |  FLOOR(CAST(d.dau AS DOUBLE) / CAST(m.mau AS DOUBLE)
        |    * 1000000.0 + 0.500001) / 1000000.0 AS stickiness
        |FROM dau d JOIN mau m ON m.day = d.day
        |ORDER BY d.day""".stripMargin,

    // the recursive-CTE replay of the 6-field Viterbi fold: identical
    // <=-tie predecessors, emissions and transition penalties
    "q_kleinberg_burst" ->
      """WITH RECURSIVE daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM orders GROUP BY 1
        |), meta AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(cnt) AS BIGINT) AS n_total,
        |    CAST(SUM(cnt) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS lam
        |  FROM daily
        |), idx AS (
        |  SELECT CAST(cnt AS DOUBLE) AS x,
        |    ROW_NUMBER() OVER (ORDER BY day) AS i
        |  FROM daily
        |), kb(i, c0, c1, bd0, bd1, nb0, nb1) AS (
        |  SELECT CAST(1 AS BIGINT),
        |    lam - x * LN(lam),
        |    2.0 + (2.0 * lam - x * LN(2.0 * lam)),
        |    CAST(0 AS BIGINT), CAST(1 AS BIGINT),
        |    CAST(0 AS BIGINT), CAST(1 AS BIGINT)
        |  FROM idx, meta WHERE i = 1
        |  UNION ALL
        |  SELECT d.i,
        |    CASE WHEN k.c0 <= k.c1 THEN k.c0 ELSE k.c1 END
        |      + (m.lam - d.x * LN(m.lam)),
        |    CASE WHEN k.c0 + 2.0 <= k.c1 THEN k.c0 + 2.0 ELSE k.c1 END
        |      + (2.0 * m.lam - d.x * LN(2.0 * m.lam)),
        |    CASE WHEN k.c0 <= k.c1 THEN k.bd0 ELSE k.bd1 END,
        |    CASE WHEN k.c0 + 2.0 <= k.c1 THEN k.bd0 ELSE k.bd1 END + 1,
        |    CASE WHEN k.c0 <= k.c1 THEN k.nb0 ELSE k.nb1 END,
        |    CASE WHEN k.c0 + 2.0 <= k.c1 THEN k.nb0 + 1 ELSE k.nb1 END
        |  FROM kb k JOIN idx d ON d.i = k.i + 1 CROSS JOIN meta m
        |), fin AS (SELECT * FROM kb ORDER BY i DESC LIMIT 1)
        |SELECT m.n_days, m.n_total,
        |  FLOOR(m.lam * 1000000.0 + 0.500001) / 1000000.0 AS base_rate,
        |  CAST(CASE WHEN f.c0 <= f.c1 THEN f.bd0 ELSE f.bd1 END AS BIGINT)
        |    AS burst_days,
        |  CAST(CASE WHEN f.c0 <= f.c1 THEN f.nb0 ELSE f.nb1 END AS BIGINT)
        |    AS n_bursts,
        |  FLOOR((CASE WHEN f.c0 <= f.c1 THEN f.c0 ELSE f.c1 END)
        |    * 10000.0 + 0.500001) / 10000.0 AS path_cost
        |FROM fin f, meta m""".stripMargin,

    // the same exact pair census, integer S and tie terms, identical
    // continuity-corrected z
    "q_mann_kendall" ->
      s"""WITH $DailyRevenueCte, pairs AS (
        |  SELECT CAST(SUM(SIGN(b.rev - a.rev)) AS BIGINT) AS s,
        |    CAST(COUNT(*) AS BIGINT) AS n_pairs
        |  FROM daily a JOIN daily b ON a.day < b.day
        |), ties AS (
        |  SELECT CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term,
        |    CAST(SUM(t) AS BIGINT) AS n
        |  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily
        |    GROUP BY rev)
        |), g AS (
        |  SELECT *, CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE)
        |    / 18.0 AS var_s
        |  FROM pairs, ties
        |)
        |SELECT n AS n_days, n_pairs, s,
        |  FLOOR(CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) / sqrt(var_s)
        |    WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) / sqrt(var_s)
        |    ELSE 0.0 END * 1000000.0 + 0.500001) / 1000000.0 AS z_stat,
        |  CAST(CASE WHEN ABS(CASE WHEN s > 0
        |      THEN CAST(s - 1 AS DOUBLE) / sqrt(var_s)
        |      WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) / sqrt(var_s)
        |      ELSE 0.0 END) > 1.959963984540054
        |    THEN 1 ELSE 0 END AS BIGINT) AS trending
        |FROM g""".stripMargin,

    // same-weekday pair census (Spark dayofweek = DuckDB dayofweek + 1),
    // identical per-season exact tie terms summed to one BIGINT var18,
    // the same continuity-corrected z
    "q_mk_seasonal" ->
      s"""WITH $DailyRevenueCte, dd AS (
        |  SELECT day, rev, CAST(dayofweek(day) + 1 AS BIGINT) AS dow
        |  FROM daily
        |), pairs AS (
        |  SELECT CAST(SUM(SIGN(b.rev - a.rev)) AS BIGINT) AS s,
        |    CAST(COUNT(*) AS BIGINT) AS n_pairs
        |  FROM dd a JOIN dd b ON a.dow = b.dow AND a.day < b.day
        |), per AS (
        |  SELECT dow, CAST(SUM(t) AS BIGINT) AS ns,
        |    CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_s
        |  FROM (SELECT dow, CAST(COUNT(*) AS BIGINT) AS t FROM dd
        |    GROUP BY dow, rev)
        |  GROUP BY dow
        |), vp AS (
        |  SELECT CAST(SUM(ns) AS BIGINT) AS n,
        |    CAST(COUNT(*) AS BIGINT) AS n_seasons,
        |    CAST(SUM(ns * (ns - 1) * (2 * ns + 5) - tie_s) AS BIGINT)
        |      AS var18
        |  FROM per
        |), g AS (
        |  SELECT *, CAST(var18 AS DOUBLE) / 18.0 AS var_s
        |  FROM pairs, vp
        |)
        |SELECT n AS n_days, n_seasons, n_pairs, s,
        |  FLOOR(CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) / sqrt(var_s)
        |    WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) / sqrt(var_s)
        |    ELSE 0.0 END * 1000000.0 + 0.500001) / 1000000.0 AS z_stat,
        |  CAST(CASE WHEN ABS(CASE WHEN s > 0
        |      THEN CAST(s - 1 AS DOUBLE) / sqrt(var_s)
        |      WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) / sqrt(var_s)
        |      ELSE 0.0 END) > 1.959963984540054
        |    THEN 1 ELSE 0 END AS BIGINT) AS trending
        |FROM g""".stripMargin,

    // identical doubled midranks (2·RANK + ties − 1), exact HUGEINT
    // Σ(ΔD)² / ΣD² moments (ΣD = N(N+1) identically, so no mean pass),
    // the same closed-form Bartels variance and NULL-den abstention
    "q_bartels_rank" ->
      s"""WITH $DailyRevenueCte, ranked AS (
        |  SELECT day,
        |    CAST(2 * RANK() OVER (ORDER BY rev)
        |      + COUNT(*) OVER (PARTITION BY rev) - 1 AS BIGINT) AS dd
        |  FROM daily
        |), diffed AS (
        |  SELECT dd, LEAD(dd, 1) OVER (ORDER BY day) AS dn FROM ranked
        |), m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(dd AS HUGEINT) * dd) AS sdd,
        |    SUM(CASE WHEN dn IS NOT NULL
        |      THEN CAST(dd - dn AS HUGEINT) * (dd - dn) ELSE 0 END) AS snum
        |  FROM diffed
        |), f1 AS (
        |  SELECT n, snum, CAST(n AS DOUBLE) AS nd,
        |    CAST(sdd AS DOUBLE) - CAST(n AS DOUBLE)
        |      * (CAST(n AS DOUBLE) + 1.0) * (CAST(n AS DOUBLE) + 1.0) AS den0
        |  FROM m
        |), f2 AS (
        |  SELECT n, nd, den0,
        |    n >= 10 AND den0 > 0.0 AS ok,
        |    CAST(snum AS DOUBLE) / CASE WHEN den0 > 0.0 THEN den0 END AS rvn,
        |    4.0 * (nd - 2.0) * (5.0 * nd * nd - 2.0 * nd - 9.0)
        |      / (5.0 * nd * (nd + 1.0) * (nd - 1.0) * (nd - 1.0)) AS varr
        |  FROM f1
        |), f3 AS (
        |  SELECT n, ok, rvn,
        |    CASE WHEN ok THEN
        |      FLOOR((rvn - 2.0) / SQRT(varr) * 1000000.0 + 0.500001)
        |        / 1000000.0 END AS zr
        |  FROM f2
        |)
        |SELECT n AS n_days,
        |  CASE WHEN ok THEN
        |    FLOOR(rvn * 1000000.0 + 0.500001) / 1000000.0 END AS rvn,
        |  zr AS z_stat,
        |  CAST(COALESCE(CASE WHEN zr < -1.6448536269514722
        |    THEN 1 ELSE 0 END, 0) AS BIGINT) AS sticky_95,
        |  CAST(COALESCE(CASE WHEN zr > 1.6448536269514722
        |    THEN 1 ELSE 0 END, 0) AS BIGINT) AS alternating_95
        |FROM f3""".stripMargin,

    // identical monthly block maxima, exact BIGINT/HUGEINT moments, and
    // the Scala-shared √6/π, γ, ln(−ln(·)) literals composed in the same
    // order
    "q_gumbel_max" ->
      s"""WITH $DailyRevenueCte, blocks AS (
         |  SELECT date_trunc('month', day) AS mon,
         |    CAST(MAX(rev) AS BIGINT) AS m
         |  FROM daily GROUP BY 1
         |), g AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(m) AS BIGINT) AS sm,
         |    SUM(CAST(m AS HUGEINT) * m) AS smm
         |  FROM blocks
         |), f1 AS (
         |  SELECT n,
         |    CAST(sm AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
         |    (CAST(smm AS DOUBLE) - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE)
         |      / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS svar
         |  FROM g
         |), f2 AS (
         |  SELECT n, mean, svar, SQRT(svar) * $Sqrt6OverPi AS beta
         |  FROM f1
         |), f3 AS (
         |  SELECT n, mean, svar, beta, mean - $EulerGamma * beta AS mu
         |  FROM f2
         |), f4 AS (
         |  SELECT n, svar, mean, mu, beta,
         |    mu - beta * $GumbelC12 AS rl12,
         |    mu - beta * $GumbelC120 AS rl120,
         |    n >= 12 AND svar > 0.0 AS ok
         |  FROM f3
         |)
         |SELECT n AS n_blocks,
         |  CASE WHEN ok THEN
         |    FLOOR(mean / 100.0 * 100.0 + 0.500001) / 100.0 END AS block_mean,
         |  CASE WHEN ok THEN
         |    FLOOR(mu / 100.0 * 100.0 + 0.500001) / 100.0 END AS location,
         |  CASE WHEN ok THEN
         |    FLOOR(beta / 100.0 * 100.0 + 0.500001) / 100.0 END AS scale,
         |  CASE WHEN ok THEN
         |    FLOOR(rl12 / 100.0 * 100.0 + 0.500001) / 100.0 END AS rl_1y,
         |  CASE WHEN ok THEN
         |    FLOOR(rl120 / 100.0 * 100.0 + 0.500001) / 100.0 END AS rl_10y
         |FROM f4""".stripMargin,

    // the recursive-CTE replay of the same 9-field recurrence: identical
    // seasonal CASE chains, the same duplicated-lv float sequence
    "q_holt_winters" -> holtWintersOracle,

    // identical per-user running high-water mark (event_id arrival order),
    // the same integer band edges, one share division
    "q_watermark_lateness" ->
      """WITH e AS (
        |  SELECT user_id, event_id,
        |    CAST(FLOOR(extract(epoch FROM ts)) AS BIGINT) AS sec,
        |    CAST(FLOOR(extract(epoch FROM ts)) AS BIGINT)
        |      + CAST('0x' || substr(md5('lat#' || CAST(event_id AS VARCHAR)),
        |          1, 8) AS BIGINT) % 7201 AS arr
        |  FROM events
        |), lat AS (
        |  SELECT MAX(sec) OVER (PARTITION BY user_id ORDER BY arr, event_id
        |    ROWS UNBOUNDED PRECEDING) - sec AS late
        |  FROM e
        |), banded AS (
        |  SELECT CASE WHEN late <= 0 THEN '0_on_time'
        |    WHEN late <= 60 THEN '1_le_1m'
        |    WHEN late <= 3600 THEN '2_le_1h'
        |    WHEN late <= 21600 THEN '3_le_6h'
        |    WHEN late <= 86400 THEN '4_le_24h'
        |    ELSE '5_gt_24h' END AS band, late
        |  FROM lat
        |), g AS (
        |  SELECT band, CAST(COUNT(*) AS BIGINT) AS n_events,
        |    CAST(MAX(late) AS BIGINT) AS max_late_s
        |  FROM banded GROUP BY 1
        |)
        |SELECT band, n_events, max_late_s,
        |  FLOOR(CAST(n_events AS DOUBLE) / SUM(n_events) OVER ()
        |    * 1000000.0 + 0.500001) / 1000000.0 AS share
        |FROM g ORDER BY band""".stripMargin,

    // the same all-integer A/√V block identity (HUGEINT mirrors the
    // decimal-38 sums), micro-unit block means, and the identical pivoted
    // OLS float sequence for the slope
    "q_hurst" ->
      s"""WITH $DailyRevenueCte, ix AS (
        |  SELECT rev, ROW_NUMBER() OVER (ORDER BY day) - 1 AS i FROM daily
        |), ex AS (
        |  SELECT CAST(mm.m AS BIGINT) AS m, ix.rev,
        |    ix.i // mm.m AS blk, ix.i % mm.m AS pos
        |  FROM ix, (SELECT UNNEST([8, 16, 32, 64]) AS m) mm
        |), z AS (
        |  SELECT m, blk, pos,
        |    COUNT(*) OVER (PARTITION BY m, blk) AS cnt,
        |    SUM(rev) OVER (PARTITION BY m, blk) AS sb,
        |    SUM(CAST(rev AS HUGEINT) * rev) OVER (PARTITION BY m, blk) AS s2b,
        |    m * SUM(rev) OVER (PARTITION BY m, blk ORDER BY pos)
        |      - (pos + 1) * SUM(rev) OVER (PARTITION BY m, blk) AS mz
        |  FROM ex
        |), blocks AS (
        |  SELECT m, blk, MAX(mz) - MIN(mz) AS a,
        |    MAX(CAST(m AS HUGEINT) * s2b) - MAX(CAST(sb AS HUGEINT) * sb) AS v
        |  FROM z WHERE cnt = m GROUP BY 1, 2
        |), per AS (
        |  SELECT m, CAST(COUNT(*) AS BIGINT) AS n_blocks,
        |    CAST(SUM(CAST(FLOOR(CAST(a AS DOUBLE) / sqrt(CAST(v AS DOUBLE))
        |      * 1000000.0) AS BIGINT)) AS BIGINT) AS sm
        |  FROM blocks WHERE v > 0 GROUP BY 1
        |), pm AS (
        |  SELECT m, n_blocks,
        |    CAST(sm AS DOUBLE) / n_blocks / 1000000.0 AS mean_rs
        |  FROM per
        |), pv AS (
        |  SELECT
        |    MAX(CASE WHEN m = 8 THEN LN(CAST(m AS DOUBLE)) END) AS x1,
        |    MAX(CASE WHEN m = 16 THEN LN(CAST(m AS DOUBLE)) END) AS x2,
        |    MAX(CASE WHEN m = 32 THEN LN(CAST(m AS DOUBLE)) END) AS x3,
        |    MAX(CASE WHEN m = 64 THEN LN(CAST(m AS DOUBLE)) END) AS x4,
        |    MAX(CASE WHEN m = 8 AND mean_rs > 0 THEN LN(mean_rs) END) AS y1,
        |    MAX(CASE WHEN m = 16 AND mean_rs > 0 THEN LN(mean_rs) END) AS y2,
        |    MAX(CASE WHEN m = 32 AND mean_rs > 0 THEN LN(mean_rs) END) AS y3,
        |    MAX(CASE WHEN m = 64 AND mean_rs > 0 THEN LN(mean_rs) END) AS y4
        |  FROM pm
        |), sl AS (
        |  SELECT CASE WHEN y1 IS NOT NULL AND y2 IS NOT NULL
        |      AND y3 IS NOT NULL AND y4 IS NOT NULL THEN
        |    (4.0 * (x1 * y1 + x2 * y2 + x3 * y3 + x4 * y4)
        |        - (x1 + x2 + x3 + x4) * (y1 + y2 + y3 + y4))
        |      / (4.0 * (x1 * x1 + x2 * x2 + x3 * x3 + x4 * x4)
        |        - (x1 + x2 + x3 + x4) * (x1 + x2 + x3 + x4)) END AS hurst0
        |  FROM pv
        |)
        |SELECT m, n_blocks,
        |  FLOOR(mean_rs * 1000000.0 + 0.500001) / 1000000.0 AS mean_rs,
        |  FLOOR(hurst0 * 1000000.0 + 0.500001) / 1000000.0 AS hurst
        |FROM pm, sl ORDER BY m""".stripMargin,

    // identical daily frame, date-equi lookbacks, and the same 1e-12
    // micro-unit quantization of each squared relative term
    "q_theil_u" ->
      s"""WITH $DailyRevenueCte, mx AS (SELECT MAX(day) AS max_day FROM daily
        |), j AS (
        |  SELECT d.day, d.rev, h7.rev AS rev_m7, h1.rev AS rev_m1
        |  FROM daily d, mx
        |  JOIN daily h7 ON d.day = h7.day + INTERVAL 7 DAY
        |  JOIN daily h1 ON d.day = h1.day + INTERVAL 1 DAY
        |  WHERE d.day > mx.max_day - INTERVAL 28 DAY
        |), q AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(CAST(FLOOR(
        |      (CAST(rev_m7 - rev AS DOUBLE) / CAST(rev_m1 AS DOUBLE))
        |      * (CAST(rev_m7 - rev AS DOUBLE) / CAST(rev_m1 AS DOUBLE))
        |      * 1000000000000.0) AS BIGINT)) AS BIGINT) AS num_micro,
        |    CAST(SUM(CAST(FLOOR(
        |      (CAST(rev - rev_m1 AS DOUBLE) / CAST(rev_m1 AS DOUBLE))
        |      * (CAST(rev - rev_m1 AS DOUBLE) / CAST(rev_m1 AS DOUBLE))
        |      * 1000000000000.0) AS BIGINT)) AS BIGINT) AS den_micro
        |  FROM j
        |)
        |SELECT n_days, num_micro, den_micro,
        |  CASE WHEN den_micro > 0 THEN
        |    FLOOR(sqrt(CAST(num_micro AS DOUBLE) / CAST(den_micro AS DOUBLE))
        |      * 1000000.0 + 0.500001) / 1000000.0 END AS theil_u2,
        |  CAST(COALESCE(CASE WHEN den_micro > 0 THEN
        |    CASE WHEN sqrt(CAST(num_micro AS DOUBLE)
        |      / CAST(den_micro AS DOUBLE)) < 1.0 THEN 1 ELSE 0 END END, 0)
        |    AS BIGINT) AS model_adds_skill
        |FROM q""".stripMargin,

    // the identical date-ordered running mean / cumulative m / running
    // min — the same float sequence on both engines
    "q_page_hinkley" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT))
        |      AS DOUBLE) / 1000000.0 AS x
        |  FROM orders GROUP BY 1
        |), s AS (
        |  SELECT day, x,
        |    STDDEV_POP(x) OVER () AS sigma,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS n,
        |    SUM(x) OVER (ORDER BY day) / COUNT(*) OVER (ORDER BY day)
        |      AS runmean
        |  FROM daily
        |), m AS (
        |  SELECT day, n, sigma,
        |    SUM(x - runmean - 0.05 * sigma) OVER (ORDER BY day) AS m
        |  FROM s
        |), ph AS (
        |  SELECT day, n, sigma, m - MIN(m) OVER (ORDER BY day) AS ph
        |  FROM m
        |), top AS (
        |  SELECT day, n, sigma, ph,
        |    ROW_NUMBER() OVER (ORDER BY ph DESC, day) AS rk
        |  FROM ph
        |)
        |SELECT n AS n_days, day AS peak_day,
        |  FLOOR(ph * 10000.0 + 0.500001) / 10000.0 AS max_ph,
        |  FLOOR(3.0 * sigma * 10000.0 + 0.500001) / 10000.0 AS lambda,
        |  CAST(CASE WHEN FLOOR(ph * 10000.0 + 0.500001) / 10000.0
        |      > FLOOR(3.0 * sigma * 10000.0 + 0.500001) / 10000.0
        |    THEN 1 ELSE 0 END AS BIGINT) AS drift_alarm
        |FROM top WHERE rk = 1""".stripMargin,

    // identical prefix-sum closed form in date order, the same r6-rounded
    // two-sided ranking and 5σ alarm line
    "q_cusum" ->
      s"""WITH $DailyRevenueCte, d2 AS (
        |  SELECT day, rev, CAST(rev AS DOUBLE) / 1000000.0 AS x FROM daily
        |), s AS (
        |  SELECT day, rev, x,
        |    SUM(x) OVER () / COUNT(*) OVER () AS mu,
        |    STDDEV_POP(x) OVER () AS sigma
        |  FROM d2
        |), c AS (
        |  SELECT day, rev, sigma,
        |    SUM(x - mu - 0.5 * sigma) OVER (ORDER BY day) AS p,
        |    SUM(mu - 0.5 * sigma - x) OVER (ORDER BY day) AS q
        |  FROM s
        |), c2 AS (
        |  SELECT day, rev, sigma,
        |    p - LEAST(MIN(p) OVER (ORDER BY day), 0.0) AS spos,
        |    q - LEAST(MIN(q) OVER (ORDER BY day), 0.0) AS sneg
        |  FROM c
        |), r AS (
        |  SELECT day, rev, sigma, spos, sneg,
        |    FLOOR(GREATEST(spos, sneg) * 1000000.0 + 0.500001) / 1000000.0
        |      AS stat_r,
        |    ROW_NUMBER() OVER (ORDER BY
        |      FLOOR(GREATEST(spos, sneg) * 1000000.0 + 0.500001) / 1000000.0
        |      DESC, day) AS rk
        |  FROM c2
        |)
        |SELECT day, CAST(rev AS DOUBLE) / 100 AS rev_dollars,
        |  FLOOR(spos * 10000.0 + 0.500001) / 10000.0 AS cusum_pos,
        |  FLOOR(sneg * 10000.0 + 0.500001) / 10000.0 AS cusum_neg,
        |  CAST(stat_r > FLOOR(5.0 * sigma * 1000000.0 + 0.500001)
        |    / 1000000.0 AS BIGINT) AS alarm
        |FROM r WHERE rk <= 10
        |ORDER BY cusum_pos DESC, cusum_neg DESC, day""".stripMargin,

    // identical trailing frame, clamped rolling moments, r6-rounded |z|
    // ranking with the same day tie-break
    "q_rolling_anomaly" ->
      s"""WITH $DailyRevenueCte, w AS (
        |  SELECT day, rev,
        |    CAST(COUNT(*) OVER tw AS BIGINT) AS n_w,
        |    CAST(SUM(rev) OVER tw AS BIGINT) AS s1,
        |    SUM(CAST(rev AS HUGEINT) * rev) OVER tw AS s2
        |  FROM daily
        |  WINDOW tw AS (ORDER BY day ROWS BETWEEN 28 PRECEDING
        |    AND 1 PRECEDING)
        |), z AS (
        |  SELECT day, rev,
        |    FLOOR(CAST(s1 AS DOUBLE) / CAST(n_w AS DOUBLE) / 100.0
        |      * 100.0 + 0.500001) / 100.0 AS trail_mean_dollars,
        |    FLOOR((CAST(rev AS DOUBLE) - CAST(s1 AS DOUBLE)
        |        / CAST(n_w AS DOUBLE))
        |      / sqrt(GREATEST(CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
        |          * CAST(s1 AS DOUBLE) / CAST(n_w AS DOUBLE), 0.0)
        |        / (CAST(n_w AS DOUBLE) - 1))
        |      * 1000000.0 + 0.500001) / 1000000.0 AS zz
        |  FROM w WHERE n_w = 28
        |), top AS (
        |  SELECT day, rev, trail_mean_dollars, zz,
        |    ROW_NUMBER() OVER (ORDER BY ABS(zz) DESC, day) AS rk
        |  FROM z WHERE zz IS NOT NULL
        |)
        |SELECT day, CAST(rev AS DOUBLE) / 100 AS rev_dollars,
        |  trail_mean_dollars, zz AS z,
        |  CAST(CASE WHEN ABS(zz) > 3.0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS is_anomaly
        |FROM top WHERE rk <= 10 ORDER BY ABS(zz) DESC, day""".stripMargin,

    // identical global moments, 16-day PAA means on exact cents, the
    // written-out quartile breakpoints on the r6-rounded z
    "q_sax_symbols" ->
      s"""WITH $DailyRevenueCte, idx AS (
        |  SELECT rev,
        |    CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) - 1 AS i,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS n,
        |    CAST(SUM(rev) OVER () AS BIGINT) AS s1,
        |    SUM(CAST(rev AS HUGEINT) * rev) OVER () AS s2
        |  FROM daily
        |), seg AS (
        |  SELECT i // 16 AS segment, CAST(COUNT(*) AS BIGINT) AS seg_days,
        |    CAST(SUM(rev) AS BIGINT) AS seg_sum,
        |    CAST(MAX(n) AS BIGINT) AS n, CAST(MAX(s1) AS BIGINT) AS s1,
        |    MAX(s2) AS s2
        |  FROM idx GROUP BY 1
        |), p AS (
        |  SELECT segment,
        |    FLOOR((CAST(seg_sum AS DOUBLE) / 16.0
        |      - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |      / sqrt(GREATEST(CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
        |          * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE), 0.0)
        |        / (CAST(n AS DOUBLE) - 1))
        |      * 1000000.0 + 0.500001) / 1000000.0 AS paa_z
        |  FROM seg WHERE seg_days = 16
        |)
        |SELECT segment, paa_z,
        |  CASE WHEN paa_z IS NULL THEN NULL
        |    WHEN paa_z < -0.6744897501960817 THEN 'a'
        |    WHEN paa_z < 0 THEN 'b'
        |    WHEN paa_z < 0.6744897501960817 THEN 'c'
        |    ELSE 'd' END AS symbol
        |FROM p ORDER BY segment""".stripMargin,

    // identical day-ordered sign lags, run-start counting, closed z
    "q_runs_test" ->
      s"""WITH $DailyRevenueCte, ds AS (
        |  SELECT day, rev - LAG(rev) OVER (ORDER BY day) AS d FROM daily
        |), signs AS (
        |  SELECT day, CASE WHEN d > 0 THEN 1 ELSE 0 END AS s
        |  FROM ds WHERE d IS NOT NULL AND d <> 0
        |), runs AS (
        |  SELECT s, CASE WHEN LAG(s) OVER (ORDER BY day) IS NULL
        |    OR LAG(s) OVER (ORDER BY day) <> s THEN 1 ELSE 0 END AS chg
        |  FROM signs
        |), g AS (
        |  SELECT CAST(SUM(s) AS BIGINT) AS np,
        |    CAST(SUM(1 - s) AS BIGINT) AS nm,
        |    CAST(SUM(chg) AS BIGINT) AS r
        |  FROM runs
        |), f AS (
        |  SELECT np, nm, r,
        |    2.0 * CAST(np AS DOUBLE) * CAST(nm AS DOUBLE)
        |      / (CAST(np AS DOUBLE) + CAST(nm AS DOUBLE)) + 1.0 AS er
        |  FROM g
        |), z AS (
        |  SELECT np, nm, r, er,
        |    (CAST(r AS DOUBLE) - er)
        |      / sqrt(GREATEST((er - 1.0) * (er - 2.0)
        |        / (CAST(np AS DOUBLE) + CAST(nm AS DOUBLE) - 1.0), 0.0)) AS zz
        |  FROM f
        |)
        |SELECT np AS n_up, nm AS n_down, r AS n_runs,
        |  FLOOR(er * 10000.0 + 0.500001) / 10000.0 AS expected_runs,
        |  FLOOR(zz * 1000000.0 + 0.500001) / 1000000.0 AS z_stat,
        |  CAST(COALESCE(CASE WHEN ABS(zz) > 1.959963984540054
        |    THEN 1 ELSE 0 END, 0) AS BIGINT) AS reject_95
        |FROM z""".stripMargin,

    // identical lagged pairs, exact HUGEINT moments, the same OLS/SSE
    // identity and the documented -2.86 asymptotic critical
    "q_dickey_fuller" ->
      s"""WITH $DailyRevenueCte, pairs AS (
        |  SELECT rev - xl AS dy, xl AS x
        |  FROM (SELECT rev, LAG(rev) OVER (ORDER BY day) AS xl FROM daily)
        |  WHERE xl IS NOT NULL
        |), m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(dy) AS BIGINT) AS sy,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |    SUM(CAST(x AS HUGEINT) * dy) AS sxy,
        |    SUM(CAST(dy AS HUGEINT) * dy) AS syy
        |  FROM pairs
        |), f AS (
        |  SELECT n,
        |    CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS vx,
        |    CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS cxy,
        |    CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS syyc,
        |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
        |  FROM m
        |), o AS (
        |  SELECT n, cxy / vx AS gamma,
        |    syd / CAST(n AS DOUBLE)
        |      - (cxy / vx) * sxd / CAST(n AS DOUBLE) AS alpha,
        |    sqrt((GREATEST(syyc - (cxy / vx) * cxy, 0.0)
        |      / (CAST(n AS DOUBLE) - 2.0)) / vx) AS se
        |  FROM f
        |)
        |SELECT n AS n_days,
        |  FLOOR(gamma * 1000000.0 + 0.500001) / 1000000.0 AS gamma,
        |  FLOOR(alpha / 100.0 * 1000000.0 + 0.500001) / 1000000.0
        |    AS alpha_dollars,
        |  FLOOR(gamma / se * 1000000.0 + 0.500001) / 1000000.0 AS df_stat,
        |  CAST(COALESCE(CASE WHEN
        |      FLOOR(gamma / se * 1000000.0 + 0.500001) / 1000000.0 < -2.86
        |    THEN 1 ELSE 0 END, 0) AS BIGINT) AS mean_reverting_95
        |FROM o""".stripMargin,

    // identical n-scaled integer residual / partial sum, exact HUGEINT
    // squares, the same lag-0 eta = A/(n*B) and documented 0.463 critical
    "q_kpss" ->
      s"""WITH $DailyRevenueCte, w AS (
        |  SELECT rev,
        |    CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS t,
        |    CAST(SUM(rev) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS ps,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS n,
        |    CAST(SUM(rev) OVER () AS BIGINT) AS sx
        |  FROM daily
        |), s AS (
        |  SELECT n, n * rev - sx AS dd, n * ps - t * sx AS sp FROM w
        |), m AS (
        |  SELECT MAX(n) AS n,
        |    SUM(CAST(sp AS HUGEINT) * sp) AS a,
        |    SUM(CAST(dd AS HUGEINT) * dd) AS b
        |  FROM s
        |), o AS (
        |  SELECT n, CASE WHEN b > 0 THEN
        |      CAST(a AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(b AS DOUBLE))
        |    END AS eta
        |  FROM m
        |)
        |SELECT n AS n_days,
        |  FLOOR(eta * 1000000.0 + 0.500001) / 1000000.0 AS kpss_stat,
        |  CAST(COALESCE(CASE WHEN
        |      FLOOR(eta * 1000000.0 + 0.500001) / 1000000.0 > 0.463
        |    THEN 1 ELSE 0 END, 0) AS BIGINT) AS nonstationary_95
        |FROM o""".stripMargin
  )
}
