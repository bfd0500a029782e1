package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.Sources.{table => t}
import graft.functions.ColumnOps
import graft.functions.ColumnOps.{d, dec, r2, r4, r6}

/** Inferential-statistics operator family — the hypothesis-testing layer a
  * data pipeline runs over its own segments before trusting a difference:
  * Welch's two-sample t-test on a hash-split experiment, the chi-square
  * independence test (+ Cramér's V effect size) over a contingency table,
  * mutual information / normalized MI over the same table, and the
  * two-sample Kolmogorov–Smirnov test over binned distributions.
  *
  * Every query reduces the corpus to a BOUNDED frame first — per-arm
  * moment aggregates (2 rows), a (priority × status) contingency table
  * (≤ 15 cells), a fixed-width bin histogram (≤ value-range/width bins) —
  * with map-side partial aggregation, so the shuffle payload is constant
  * in corpus size and every downstream window runs on a frame whose size
  * is set by the SCHEMA, not the data. That is the whole 100 TB story:
  * one scan, integer partial aggregates, driver-sized tail math.
  *
  * Cross-engine exactness: counts stay BIGINT end-to-end; the only float
  * ops are final divisions / ln / sqrt on aggregated integers, rounded
  * through the shared floor idiom (r4/r6) that absorbs libm ulps.
  * StatsSpec pins the algebra on closed-form fixtures (identical arms ⇒
  * t = 0, planted independence ⇒ chi2 = MI = 0, identical samples ⇒
  * D = 0) and the bounded-frame plan shapes.
  */
object Stats {

  /** q_prop_ztest conversion threshold: a user whose purchase-event total
    * reaches these integer cents ($500) counts as a high-value conversion. */
  val ConvCents = 50000L

  /** Deterministic 50/50 arm from the id's md5 — the q_hash_split idiom:
    * content-addressed, reproducible across engines and partitionings.
    */
  private def arm(id: Column): Column =
    pmod(conv(substring(md5(id.cast("string").cast("binary")), 1, 4), 16, 10)
      .cast("long"), lit(2L))

  /** The (priority × status) contingency cells with both margins and the
    * grand total as windows over the ≤15-row cell frame — ONE corpus-scan
    * Exchange, then schema-bounded work.
    */
  private def contingency(orders: DataFrame): DataFrame = {
    val cells = orders
      .groupBy(col("o_orderpriority").as("px"), col("o_orderstatus").as("sy"))
      .agg(count(lit(1)).as("c"))
    cells.select(col("px"), col("sy"), col("c"),
      sum(col("c")).over(Window.partitionBy(col("px"))).as("rt"),
      sum(col("c")).over(Window.partitionBy(col("sy"))).as("ct"),
      sum(col("c")).over(BoundedWindow.whole(col("px"))).as("n"),
      row_number().over(Window.partitionBy(col("px")).orderBy(col("sy"))).as("rnx"),
      row_number().over(Window.partitionBy(col("sy")).orderBy(col("px"))).as("rny"))
  }

  /** The cells CTE of [[ContingencyCte]], for the oracle that builds its own
    * margins. */
  private val CellsCte =
    """cells AS (
      |  SELECT o_orderpriority AS px, o_orderstatus AS sy,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM orders GROUP BY 1, 2
      |)""".stripMargin

  /** The DuckDB mirror of [[contingency]]: the (priority x status) cells with
    * both margins, the grand total and the per-margin row numbers. */
  private val ContingencyCte =
    s"""$CellsCte, cont AS (
       |  SELECT px, sy, c,
       |    SUM(c) OVER (PARTITION BY px) AS rt,
       |    SUM(c) OVER (PARTITION BY sy) AS ct,
       |    SUM(c) OVER () AS n,
       |    row_number() OVER (PARTITION BY px ORDER BY sy) AS rnx,
       |    row_number() OVER (PARTITION BY sy ORDER BY px) AS rny
       |  FROM cells
       |)""".stripMargin

  /** Each purchasing user's mean purchase value x with its arm g — the
    * unit of randomization of the A/B tests (one user-keyed groupBy). */
  private def armMeans(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .where(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(avg(col("value")).as("x"))
      .select(arm(col("user_id")).as("g"), col("x"))

  /** The DuckDB mirror of [[armMeans]]: each purchasing user's mean purchase
    * value x and md5 arm g (u). */
  private val ArmMeansCte =
    """u AS (
      |  SELECT user_id, AVG(value) AS x,
      |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4) AS BIGINT) % 2 AS g
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id
      |)""".stripMargin

  /** [[ArmMeansCte]] with the per-arm count, mean and sample variance (m: na,
    * nb, ma, mb, va, vb). */
  private val ArmMomentsCte =
    s"""$ArmMeansCte, m AS (
       |  SELECT
       |    CAST(COUNT(x) FILTER (WHERE g = 0) AS BIGINT) AS na,
       |    CAST(COUNT(x) FILTER (WHERE g = 1) AS BIGINT) AS nb,
       |    AVG(x) FILTER (WHERE g = 0) AS ma,
       |    AVG(x) FILTER (WHERE g = 1) AS mb,
       |    VAR_SAMP(x) FILTER (WHERE g = 0) AS va,
       |    VAR_SAMP(x) FILTER (WHERE g = 1) AS vb
       |  FROM u
       |)""".stripMargin

  /** Per weekday wd (0 = the weekday of 1995-01-01) the sum rj of the
    * daily-revenue midranks within each complete 7-day week, and the
    * number of weeks b. Midranks are RANK() + (ties−1)/2 inside each week,
    * so every sum is exact in double. */
  private def weekdayRankSums(s: SparkSession, dir: String): DataFrame = {
    val daily = Timeseries.dailyRevenue(s, dir)
      .select(col("day"), col("rev"),
        floor(datediff(col("day"), lit("1995-01-01").cast("date")) / 7)
          .cast("long").as("wk"),
        pmod(datediff(col("day"), lit("1995-01-01").cast("date"))
          .cast("long"), lit(7L)).as("wd"))
    val complete = daily
      .withColumn("wn", count(lit(1)).over(Window.partitionBy(col("wk"))))
      .where(col("wn") === 7)
    val ranked = complete
      .withColumn("rk", rank().over(
        Window.partitionBy(col("wk")).orderBy(col("rev"))))
      .withColumn("ties", count(lit(1)).over(
        Window.partitionBy(col("wk"), col("rev"))))
      .withColumn("midrank",
        col("rk").cast("double") +
          (col("ties") - 1L).cast("double") / 2.0)
    ranked.groupBy("wd")
      .agg(sum(col("midrank")).as("rj"), count(lit(1)).as("b"))
  }

  /** The DuckDB mirror of [[weekdayRankSums]]: the complete-week daily series
    * (d2, complete), its within-week midranks (ranked) and their per-weekday
    * sums (bywd: wd, rj, b). */
  private val WeekdayRankSumsCte =
    s"""${Timeseries.DailyRevenueCte}, d2 AS (
       |  SELECT rev,
       |    CAST(FLOOR((day - DATE '1995-01-01') / 7.0) AS BIGINT) AS wk,
       |    CAST(((day - DATE '1995-01-01') % 7 + 7) % 7 AS BIGINT) AS wd
       |  FROM daily
       |), complete AS (
       |  SELECT * FROM (
       |    SELECT *, COUNT(*) OVER (PARTITION BY wk) AS wn FROM d2)
       |  WHERE wn = 7
       |), ranked AS (
       |  SELECT wd,
       |    CAST(RANK() OVER (PARTITION BY wk ORDER BY rev) AS DOUBLE)
       |      + CAST(COUNT(*) OVER (PARTITION BY wk, rev) - 1 AS DOUBLE)
       |        / 2.0 AS midrank
       |  FROM complete
       |), bywd AS (
       |  SELECT wd, SUM(midrank) AS rj, CAST(COUNT(*) AS BIGINT) AS b
       |  FROM ranked GROUP BY wd
       |)""".stripMargin

  /** Per market segment the exact account-balance moments in integer
    * cents: ng = count, sg = Σv, ssqg = Σv² (decimal). */
  private def segmentBalanceMoments(s: SparkSession, dir: String): DataFrame = {
    val v = ColumnOps.cents(col("c_acctbal"))
    t(s, dir, "customer")
      .select(col("c_mktsegment").as("seg"), v.as("v"),
        v.cast("decimal(18,0)").as("vd"))
      .groupBy("seg")
      .agg(count(lit(1)).as("ng"), sum(col("v")).as("sg"),
        sum(col("vd") * col("vd")).as("ssqg"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Welch's two-sample t-test over a deterministic hash-split experiment,
    // at the correct unit of randomization: users, not events — each user's
    // purchase values collapse to one mean first (assignment is per-user,
    // so event-level variance would understate the standard error). Scale
    // shape: one user-keyed groupBy (map-side combine), then conditional
    // moment aggregates partial-reduce to 1 row — the arm never shuffles
    // as a key. Welch, not Student: no equal-variance assumption, df from
    // Welch–Satterthwaite.
    "q_ab_ttest" -> ((s, dir) => {
      val byUser = armMeans(s, dir)
      val xa = when(col("g") === 0L, col("x"))
      val xb = when(col("g") === 1L, col("x"))
      val g = byUser.agg(
        count(xa).as("na"), count(xb).as("nb"),
        avg(xa).as("ma"), avg(xb).as("mb"),
        var_samp(xa).as("va"), var_samp(xb).as("vb"))
      val sea = col("va") / col("na")
      val seb = col("vb") / col("nb")
      val tStat = (col("ma") - col("mb")) / sqrt(sea + seb)
      val df = pow(sea + seb, 2) /
        (pow(sea, 2) / (col("na") - 1) + pow(seb, 2) / (col("nb") - 1))
      // two-sided 5% critical value of Student-t at the Welch df, via the
      // Cornish–Fisher expansion around z = Φ⁻¹(0.975) (Fisher 1925's
      // classic series; |error| < 1e-4 for df ≥ 5, → z as df → ∞) — plain
      // arithmetic, so the oracle reproduces it term for term. The r7 flag
      // compared against fixed 1.96, overstating significance at small df.
      val z = lit(1.959963984540054)
      val tCrit = z + (pow(z, 3) + z) / (lit(4.0) * df) +
        (lit(5.0) * pow(z, 5) + lit(16.0) * pow(z, 3) + lit(3.0) * z) /
          (lit(96.0) * df * df)
      g.select(col("na").as("n_a"), col("nb").as("n_b"),
        r6(col("ma")).as("mean_a"), r6(col("mb")).as("mean_b"),
        r6(tStat).as("t_stat"), r4(df).as("df"),
        (abs(tStat) > tCrit).cast("long").as("significant"))
    }),

    // Chi-square test of independence (priority ⟂ status?) + Cramér's V.
    // All inputs to the statistic are exact BIGINT counts off one bounded
    // aggregate; expected counts and the quadratic form are the only float
    // math, over ≤15 rows.
    "q_chi_square" -> ((s, dir) => {
      val cont = contingency(t(s, dir, "orders"))
      val exp = col("rt").cast("double") * col("ct") / col("n")
      val g = cont.agg(
        max(col("n")).as("nn"),
        count(lit(1)).as("n_cells"),
        sum(when(col("rnx") === 1, 1L).otherwise(0L)).as("r"),
        sum(when(col("rny") === 1, 1L).otherwise(0L)).as("cc"),
        sum(pow(col("c") - exp, 2) / exp).as("chi2"))
      g.select(col("nn").as("n"), col("n_cells"),
        r4(col("chi2")).as("chi2"),
        ((col("r") - 1) * (col("cc") - 1)).cast("long").as("dof"),
        r6(sqrt(col("chi2") / (col("nn") * least(col("r") - 1, col("cc") - 1))))
          .as("cramers_v"))
    }),

    // Mutual information + marginal entropies + normalized MI over the
    // same contingency frame: MI = Σ p(x,y)·ln(p(x,y)/(p(x)p(y))), with
    // H(X)/H(Y) summed once per distinct margin via the row_number guard
    // (no second scan, no distinct aggregate). Same bounded shape as
    // q_chi_square; ln runs on ratios of exact integers.
    "q_mutual_info" -> ((s, dir) => {
      val cont = contingency(t(s, dir, "orders"))
      val nD = col("n").cast("double")
      val mi = (col("c") / nD) *
        log(col("c") * nD / (col("rt").cast("double") * col("ct")))
      val hx = when(col("rnx") === 1,
        (col("rt") / nD) * log(nD / col("rt"))).otherwise(0.0)
      val hy = when(col("rny") === 1,
        (col("ct") / nD) * log(nD / col("ct"))).otherwise(0.0)
      val g = cont.agg(max(col("n")).as("nn"), sum(mi).as("mi"),
        sum(hx).as("hx"), sum(hy).as("hy"))
      g.select(col("nn").as("n"), r6(col("mi")).as("mi"),
        r6(col("hx")).as("h_x"), r6(col("hy")).as("h_y"),
        r6(col("mi") / sqrt(col("hx") * col("hy"))).as("nmi"))
    }),

    // Conditional entropy H(next | current) + information gain over the
    // event-transition table — "how predictable is the next event given
    // this one", the sequence-level diversity signal next to
    // q_token_entropy and the evaluation face of q_markov_transitions'
    // estimated chain. The lead() successor pairing rides ONE user_id
    // Exchange; transition cells reduce map-side to a ≤|types|² frame and
    // every entropy term is a ratio of exact BIGINT counts through ln.
    "q_cond_entropy" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val nxt = lead(col("event_type"), 1).over(
        Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id")))
      val cells = ev.select(col("event_type").as("cur"), nxt.as("nxt"))
        .where(col("nxt").isNotNull)
        .groupBy("cur", "nxt").agg(count(lit(1)).as("c"))
      val cont = cells.select(col("cur"), col("nxt"), col("c"),
        sum(col("c")).over(Window.partitionBy(col("cur"))).as("rt"),
        sum(col("c")).over(Window.partitionBy(col("nxt"))).as("ct"),
        sum(col("c")).over(BoundedWindow.whole(col("cur"))).as("n"),
        row_number().over(Window.partitionBy(col("nxt")).orderBy(col("cur")))
          .as("rny"))
      val nD = col("n").cast("double")
      val hCond = (col("c") / nD) * log(col("rt").cast("double") / col("c"))
      val hNext = when(col("rny") === 1,
        (col("ct") / nD) * log(nD / col("ct"))).otherwise(0.0)
      val g = cont.agg(max(col("n")).cast("long").as("nn"),
        sum(hCond).as("hc"), sum(hNext).as("hn"))
      g.select(col("nn").as("n_transitions"), r6(col("hn")).as("h_next"),
        r6(col("hc")).as("h_cond"), r6(col("hn") - col("hc")).as("info_gain"),
        r6((col("hn") - col("hc")) / col("hn")).as("gain_ratio"))
    }),

    // Benford first-digit goodness-of-fit — the data-quality / fraud
    // screen for amount columns. The first digit comes from the INTEGER
    // cents rendered as a string (exact and identical on both engines),
    // never from log10(x) — a value sitting on a power-of-ten boundary
    // would flip digits under a one-ulp libm difference. Counts reduce to
    // 9 rows map-side; expected mass log10(1+1/d) enters only in the
    // final quadratic form. Same bounded shape as q_chi_square.
    "q_benford" -> ((s, dir) => {
      val cents = ColumnOps.cents(col("o_totalprice"))
      val digit = substring(cents.cast("string"), 1, 1).cast("long")
      val cells = t(s, dir, "orders").where(col("o_totalprice") > 0)
        .groupBy(digit.as("d")).agg(count(lit(1)).as("c"))
      val n = sum(col("c")).over(BoundedWindow.whole(col("d")))
      val e = n.cast("double") * log10(lit(1.0) + lit(1.0) / col("d"))
      val g = cells.select(col("d"), col("c"), e.as("e"))
        .agg(sum(col("c")).cast("long").as("n"),
          count(lit(1)).as("n_digits"),
          sum(pow(col("c") - col("e"), 2) / col("e")).as("chi2"),
          max(when(col("d") === 1, col("c"))).cast("long").as("n_digit1"))
      g.select(col("n"), col("n_digits"), r4(col("chi2")).as("chi2_benford"),
        lit(8L).as("dof"),
        r6(col("n_digit1").cast("double") / col("n")).as("digit1_share"),
        (col("chi2") > 20.09).cast("long").as("reject_99"))
    }),

    // Two-sample Kolmogorov–Smirnov over $1000-binned order totals:
    // urgent-priority orders vs the rest. The bin histogram is the
    // schema-bounded frame (≤ range/1000 bins); both ECDFs ride one
    // ordered window over it, and the max ECDF gap is computed on the
    // EXACT integer numerator |cumA·nB − cumB·nA| — division and the
    // √-scaled statistic touch floats only in the final row. Binned KS is
    // the distributed form: exact per-value KS needs a global sort of the
    // corpus, binning caps that at histogram size with zero loss for the
    // decision when bins ≪ sample (the PSI/drift discipline, q_drift_psi).
    "q_ks_test" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L).as("g"),
        floor(col("o_totalprice") / 1000.0).cast("long").as("bin"))
      val hist = o.groupBy("bin").agg(
        sum(when(col("g") === 0L, 1L).otherwise(0L)).as("ca"),
        sum(when(col("g") === 1L, 1L).otherwise(0L)).as("cb"))
      val w = BoundedWindow.ordered(col("bin"), col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.select(col("bin"), col("ca"), col("cb"),
        sum(col("ca")).over(w).as("cuma"), sum(col("cb")).over(w).as("cumb"),
        sum(col("ca")).over(BoundedWindow.whole(col("bin"))).as("na"),
        sum(col("cb")).over(BoundedWindow.whole(col("bin"))).as("nb"))
      val dnum = abs(col("cuma") * col("nb") - col("cumb") * col("na"))
      val g = cum.agg(max(col("na")).as("na"), max(col("nb")).as("nb"),
        count(lit(1)).as("n_bins"), max(dnum).as("dn"))
      val d = col("dn").cast("double") / (col("na").cast("double") * col("nb"))
      val ks = d * sqrt(col("na").cast("double") * col("nb") / (col("na") + col("nb")))
      g.select(col("na").as("n_a"), col("nb").as("n_b"), col("n_bins"),
        r6(d).as("d_stat"), r6(ks).as("ks_stat"),
        (ks > 1.358).cast("long").as("reject_95"))
    }),

    // EXACT (unbinned) two-sample KS on a bounded slice — the oracle
    // anchor next to q_ks_test's binned production form (the
    // q_embed_neardup_brute discipline: the approximation ships, an exact
    // twin at bounded scale guards it). Per-VALUE ECDFs: group by the
    // integer cents of each total (exact on both engines), one ordered
    // window over the distinct-value frame, max ECDF gap on the exact
    // integer numerator |cumA·nB − cumB·nA|. The global-order window is
    // affordable precisely BECAUSE the slice is bounded (the in-code
    // q_gini note documents the two-level 100 TB alternative); at corpus
    // scale the binned form is the right operator.
    "q_ks_exact" -> ((s, dir) => {
      val o = t(s, dir, "orders").where(col("o_orderkey") % 20 === 0)
        .select(
          when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L).as("g"),
          ColumnOps.cents(col("o_totalprice")).as("v"))
      val hist = o.groupBy("v").agg(
        sum(when(col("g") === 0L, 1L).otherwise(0L)).as("ca"),
        sum(when(col("g") === 1L, 1L).otherwise(0L)).as("cb"))
      val w = BoundedWindow.ordered(col("v"), col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.select(col("ca"), col("cb"),
        sum(col("ca")).over(w).as("cuma"), sum(col("cb")).over(w).as("cumb"),
        sum(col("ca")).over(BoundedWindow.whole(col("v"))).as("na"),
        sum(col("cb")).over(BoundedWindow.whole(col("v"))).as("nb"))
      val dnum = abs(col("cuma") * col("nb") - col("cumb") * col("na"))
      val g = cum.agg(max(col("na")).as("na"), max(col("nb")).as("nb"),
        count(lit(1)).as("n_values"), max(dnum).as("dn"))
      val d = col("dn").cast("double") / (col("na").cast("double") * col("nb"))
      val ks = d * sqrt(col("na").cast("double") * col("nb") / (col("na") + col("nb")))
      g.select(col("na").as("n_a"), col("nb").as("n_b"), col("n_values"),
        col("dn").as("d_num"), r6(d).as("d_stat"), r6(ks).as("ks_stat"),
        (ks > 1.358).cast("long").as("reject_95"))
    }),

    // ---- Grouped OLS regression ------------------------------------------
    // Per-return-flag least-squares fit of line revenue (integer cents) on
    // quantity, from the five raw moments of ONE map-side-combined grouped
    // aggregate — the textbook distributed-OLS shape: the shuffle carries
    // 6 numbers per group, never rows. Sum-of-products accumulate in
    // decimal(38,0) (syy alone is 7.4e18 at sf0.1 — past BIGINT at sf0.2;
    // decimal(38) holds to ~1e38, i.e. beyond the 100 TB scale-up), so
    // every moment is EXACT and order-independent; slope/intercept/r² are
    // the only float ops, an identical fixed sequence on both engines over
    // exact integers.
    "q_regression" -> ((s, dir) => {
      val xL = col("l_quantity").cast("long")
      val yL = ColumnOps.cents(col("l_extendedprice"))
      val rows = t(s, dir, "lineitem").select(
        col("l_returnflag").as("flag"), xL.as("x"), yL.as("y"),
        xL.cast("decimal(18,0)").as("xd"), yL.cast("decimal(18,0)").as("yd"))
      val m = rows.groupBy("flag").agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("xd") * col("yd")).as("sxy"),
        sum(col("xd") * col("xd")).as("sxx"),
        sum(col("yd") * col("yd")).as("syy"))
      val nD = col("n").cast("double")
      val sxD = col("sx").cast("double"); val syD = col("sy").cast("double")
      val covn = nD * col("sxy").cast("double") - sxD * syD
      val varxn = nD * col("sxx").cast("double") - sxD * sxD
      val varyn = nD * col("syy").cast("double") - syD * syD
      val slope = covn / varxn
      m.select(col("flag"), col("n"),
        r6(slope).as("slope"),
        r4((syD - slope * sxD) / nD).as("intercept"),
        r6(covn * covn / (varxn * varyn)).as("r2"))
        .orderBy("flag")
    }),

    // ---- One-way ANOVA ---------------------------------------------------
    // F-test of account balance (integer cents) across market segments.
    // Stage 1: per-segment {n, Σv, Σv²} — one corpus scan, 5 output rows.
    // Stage 2: SSB/SSW from the group moments. The one order-dependent
    // float sum (Σ s_g²/n_g) rides a cumulative window ORDERED BY segment,
    // so both engines add the 5 terms in the same sequence — structural
    // parity (the q_changepoint discipline), not rounded-away.
    "q_anova" -> ((s, dir) => {
      val g = segmentBalanceMoments(s, dir)
      val tg = col("sg").cast("double") * col("sg").cast("double") /
        col("ng").cast("double")
      val wOrd = BoundedWindow.ordered(col("seg"), col("seg"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = BoundedWindow.whole(col("seg"))
      val cum = g.select(
        sum(col("ng")).over(wAll).as("nn"),
        sum(col("sg")).over(wAll).as("ss"),
        // per-group exact decimal → double, then SEGMENT-ordered cumulative
        // float adds — the identical sequence the oracle runs (above 2^53 a
        // whole-frame exact sum and an ordered float sum can round apart)
        sum(col("ssqg").cast("double")).over(wOrd).as("syy"),
        sum(tg).over(wOrd).as("tcum"),
        count(lit(1)).over(wAll).as("k"),
        row_number().over(BoundedWindow.ordered(col("seg"), col("seg")))
          .as("rn"))
        .where(col("rn") === col("k"))
      val nD = col("nn").cast("double"); val kD = col("k").cast("double")
      val ssb = col("tcum") -
        col("ss").cast("double") * col("ss").cast("double") / nD
      val ssw = col("syy").cast("double") - col("tcum")
      val f = (ssb / (kD - 1)) / (ssw / (nD - kD))
      cum.select(col("k"), col("nn").as("n"),
        r2(ssb).as("ss_between"), r2(ssw).as("ss_within"),
        r6(ssb / (ssb + ssw)).as("eta_sq"), r4(f).as("f_stat"))
    }),

    // ---- Mann–Whitney U (rank-sum) ---------------------------------------
    // Nonparametric two-sample test of order-total distribution across the
    // md5 hash-split arms, on the q_ks_exact slice. Ranks never materialize
    // per row: the value-grouped histogram + one cumulative window give
    // every tie group's average rank in closed form — 2·R_a =
    // Σ ca·(2·before + c + 1) stays BIGINT-exact, as does the tie
    // correction Σ(c³−c). Normal approximation (documented large-sample z;
    // the same caveat as the published tables it replaces) with tie-adjusted
    // variance; every input to z is an exact integer.
    "q_mann_whitney" -> ((s, dir) => {
      val o = t(s, dir, "orders").where(col("o_orderkey") % 20 === 0)
        .select(arm(col("o_custkey")).as("g"),
          ColumnOps.cents(col("o_totalprice")).as("v"))
      val hist = o.groupBy("v").agg(
        sum(when(col("g") === 0L, 1L).otherwise(0L)).as("ca"),
        sum(when(col("g") === 1L, 1L).otherwise(0L)).as("cb"))
      val w = BoundedWindow.ordered(col("v"), col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val c = col("ca") + col("cb")
      val cum = hist.select(col("ca"), col("cb"), c.as("c"),
        (sum(col("ca")).over(w) + sum(col("cb")).over(w) - c).as("before"))
      val g = cum.agg(
        sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
        sum(col("ca") * (col("before") * 2 + col("c") + 1)).as("two_ra"),
        sum(col("c") * col("c") * col("c") - col("c")).as("ties"))
      val naD = col("na").cast("double"); val nbD = col("nb").cast("double")
      val nD = naD + nbD
      val twoU = col("two_ra") - col("na") * (col("na") + 1)
      val varU = naD * nbD / 12.0 *
        ((nD + 1) - col("ties").cast("double") / (nD * (nD - 1)))
      val z = (twoU.cast("double") - naD * nbD) / (lit(2.0) * sqrt(varU))
      g.select(col("na").as("n_a"), col("nb").as("n_b"),
        (twoU.cast("double") / 2.0).as("u_stat"), col("ties").as("tie_term"),
        r6(z).as("z_stat"),
        (abs(z) > 1.959963984540054).cast("long").as("reject_95"))
    }),

    // ---- Goodman–Kruskal gamma + Somers' d (r12) ----------------------------
    // The ordinal-association readouts q_kendall_tau's interval machinery
    // and q_chi_square's nominal V both miss (Goodman & Kruskal 1954;
    // Somers 1962): over the quantity × discount ordinal pair, Γ =
    // (C−D)/(C+D) ignores ties entirely and Somers' d penalizes ties on
    // the dependent margin — the standard PD-model discrimination stat
    // (d_yx ≡ Gini/AUC−1 on this frame). Scale shape: ONE lineitem scan
    // partial-aggregates to the SCHEMA-bounded 50×11 cell frame; the
    // concordance census is a broadcast self-join over ≤550² cell pairs
    // (each unordered pair counted once via the strict q_a < q_b key),
    // every mass product exact decimal(38,0), three single divisions.
    "q_gk_gamma" -> ((s, dir) => {
      val cells = t(s, dir, "lineitem")
        .select(col("l_quantity").cast("long").as("q"),
          ColumnOps.cents(col("l_discount")).as("d"))
        .groupBy("q", "d").agg(count(lit(1)).as("n"))
      val a = cells.select(col("q").as("qa"), col("d").as("da"),
        col("n").as("na"))
      val b = cells.select(col("q").as("qb"), col("d").as("db"),
        col("n").as("nb"))
      val zeroDec = lit(0).cast("decimal(38,0)")
      val mass = dec(col("na")) * col("nb")
      val px = a.crossJoin(broadcast(b)).where(col("qa") < col("qb"))
        .agg(sum(when(col("da") < col("db"), mass).otherwise(zeroDec))
          .as("conc"),
          sum(when(col("da") > col("db"), mass).otherwise(zeroDec))
            .as("disc"),
          sum(when(col("da") === col("db"), mass).otherwise(zeroDec))
            .as("ty"))
      val ptx = a.join(broadcast(b),
          col("qa") === col("qb") && col("da") < col("db"))
        .agg(coalesce(sum(mass), zeroDec).as("tx"))
      val meta = cells.agg(count(lit(1)).as("n_cells"),
        sum(col("n")).as("n_rows"))
      val g = px.crossJoin(broadcast(ptx)).crossJoin(broadcast(meta))
      val cd = d(col("conc")) + d(col("disc"))
      val num = d(col("conc")) - d(col("disc"))
      // NULL-guarded denominators (the q_rdd ANSI hoisted-division lesson)
      val denG = when(cd > 0.0, cd)
      val denYx = when(cd + d(col("ty")) > 0.0, cd + d(col("ty")))
      val denXy = when(cd + d(col("tx")) > 0.0, cd + d(col("tx")))
      g.select(col("n_rows"), col("n_cells"),
        col("conc").cast("long").as("conc"),
        col("disc").cast("long").as("disc"),
        r6(num / denG).as("gamma"),
        r6(num / denYx).as("somers_dyx"),
        r6(num / denXy).as("somers_dxy"))
    }),

    // ---- Ansari–Bradley rank scale test (r12) -------------------------------
    // The RANK test for equal dispersion (Ansari & Bradley 1960) —
    // q_levene/q_bartlett test scale through moments of residuals; this
    // one needs no location estimate and no variance existence: score
    // each observation by its distance-from-the-extremes rank a(R) =
    // min(R, N+1−R) (big in the middle, small at both tails) and sum the
    // urgent group's scores — concentrated-in-the-middle reads as
    // SMALLER scale. Same q_mann_whitney value-histogram machinery with
    // DOUBLED midranks: the doubled score min(D, 2(N+1)−D) stays exact
    // BIGINT, the classical parity-split null moments are closed forms
    // of exact integers (CASE on N mod 2, mirrored), z two-sided.
    "q_ansari_bradley" -> ((s, dir) => {
      val o = t(s, dir, "orders").where(col("o_orderkey") % 20 === 0)
        .select((col("o_orderpriority") === "1-URGENT" ||
          col("o_orderpriority") === "2-HIGH").cast("long").as("g"),
          ColumnOps.cents(col("o_totalprice")).as("v"))
      val hist = o.groupBy("v").agg(
        sum(when(col("g") === 0L, 1L).otherwise(0L)).as("c1"),
        sum(when(col("g") === 1L, 1L).otherwise(0L)).as("c2"))
      val wCum = BoundedWindow.ordered(col("v"), col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = BoundedWindow.whole(col("v"))
      val c = col("c1") + col("c2")
      val cum = hist.select(col("c1"), col("c2"),
        sum(col("c1")).over(wAll).as("n1"),
        sum(col("c2")).over(wAll).as("n2"),
        (sum(col("c1") + col("c2")).over(wCum) - c).as("bef"))
      val nTot = col("n1") + col("n2")
      val dAll = lit(2L) * col("bef") + col("c1") + col("c2") + lit(1L)
      val score2 = least(dAll, lit(2L) * (nTot + 1L) - dAll)
      val g = cum.agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        sum(col("c2") * score2).as("ab2"))
      val n1D = when(col("n1") >= 2L, d(col("n1")))
      val n2D = when(col("n2") >= 2L, d(col("n2")))
      val nD = n1D + n2D
      val even = pmod(col("n1") + col("n2"), lit(2L)) === 0L
      val e = when(even, n2D * (nD + 2.0) / lit(4.0))
        .otherwise(n2D * (nD + 1.0) * (nD + 1.0) / (lit(4.0) * nD))
      val varAb = when(even,
          n1D * n2D * (nD + 2.0) * (nD - 2.0) / (lit(48.0) * (nD - 1.0)))
        .otherwise(n1D * n2D * (nD + 1.0) * (lit(3.0) + nD * nD) /
          (lit(48.0) * nD * nD))
      val ok = col("n1") >= 2L && col("n2") >= 2L && varAb > 0.0
      val z = when(ok, (d(col("ab2")) / lit(2.0) - e) / sqrt(varAb))
      val zR = r6(z)
      g.select(col("n1").as("n_1"), col("n2").as("n_2"),
        (d(col("ab2")) / lit(2.0)).as("ab_stat"),
        when(ok, r2(e)).as("ab_expected"),
        zR.as("z_stat"),
        coalesce((abs(zR) > lit(1.959963984540054)).cast("long"), lit(0L))
          .as("scale_differs_95"))
    }),

    // ---- Jonckheere–Terpstra ordered-alternative test (r12) -----------------
    // q_kruskal_wallis asks "do the priority groups differ at all";
    // Jonckheere–Terpstra (1954) asks the sharper ORDERED question — do
    // order values trend WITH the priority scale? — by summing the
    // Mann–Whitney dominance count over every ordered group pair: J =
    // Σ_{g<h} #{x_g < x_h} (+½ ties). Executed on the value HISTOGRAM
    // with per-group counts (the q_mann_whitney shape — one groupBy(v),
    // cumulative windows over the aggregate-bounded frame): DOUBLED J =
    // Σ_v Σ_{g<h} [2·c_h·before_g + c_h·c_g] stays exact (decimal-38
    // accumulated), E[J] = (N²−Σn_g²)/4 and the standard no-tie Var(J) =
    // [N²(2N+3) − Σn_g²(2n_g+3)]/72 (the classical normal approximation;
    // cents values make ties negligible) are closed forms of exact
    // integers. Same bounded %20 anchor slice.
    "q_jonckheere" -> ((s, dir) => {
      val o = t(s, dir, "orders").where(col("o_orderkey") % 20 === 0)
        .select(substring(col("o_orderpriority"), 1, 1).cast("long").as("g"),
          ColumnOps.cents(col("o_totalprice")).as("v"))
      val cCols = (1 to 5).map(k =>
        sum(when(col("g") === k.toLong, 1L).otherwise(0L)).as(s"c$k"))
      val hist = o.groupBy("v").agg(cCols.head, cCols.tail: _*)
      val wCum = BoundedWindow.ordered(col("v"), col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val withBef = hist.select((col("v") +: (1 to 5).flatMap(k => Seq(
        col(s"c$k"),
        (sum(col(s"c$k")).over(wCum) - col(s"c$k")).as(s"b$k")))): _*)
      val contrib = (for { g <- 1 to 5; h <- (g + 1) to 5 } yield
        (lit(2L) * col(s"c$h") * col(s"b$g") + col(s"c$h") * col(s"c$g"))
          .cast("decimal(38,0)")).reduce(_ + _)
      val aggs = Seq(sum(contrib).as("twoj")) ++
        (1 to 5).map(k => sum(col(s"c$k")).as(s"n$k"))
      val gFrame = withBef.agg(aggs.head, aggs.tail: _*)
      val ns = (1 to 5).map(k => col(s"n$k"))
      val nTot = ns.reduce(_ + _)
      val kGroups = ns.map(n => (n > 0L).cast("long")).reduce(_ + _)
      val sumsq = ns.map(n => n * n).reduce(_ + _)
      val vterm = ns.map(n => n * n * (lit(2L) * n + 3L)).reduce(_ + _)
      val nD = d(nTot)
      val twoE = (nD * nD - d(sumsq)) / lit(2.0)
      val varJ = (nD * nD * (lit(2.0) * nD + 3.0) - d(vterm)) / lit(72.0)
      val ok = kGroups >= 3L && varJ > 0.0
      val z = when(ok,
        (d(col("twoj")) - twoE) / (lit(2.0) * sqrt(varJ)))
      gFrame.select(nTot.as("n_total"), kGroups.as("k_groups"),
        (d(col("twoj")) / lit(2.0)).as("j_stat"),
        (twoE / lit(2.0)).as("j_expected"),
        r6(z).as("z_stat"),
        coalesce((abs(r6(z)) > lit(1.959963984540054)).cast("long"),
          lit(0L)).as("reject_95"))
    }),

    // ---- Brunner–Munzel generalized Wilcoxon (r12) --------------------------
    // q_mann_whitney assumes equal variances under H0 (it tests equal
    // DISTRIBUTIONS); Brunner & Munzel (2000) test the weaker, usually
    // intended hypothesis P(X<Y)+½P(X=Y) = ½ WITHOUT that assumption —
    // the rank-scale analogue of Welch vs Student. Executed entirely on
    // the VALUE HISTOGRAM (the q_mann_whitney shape: one groupBy(v), then
    // cumulative windows over the aggregate-bounded frame): with DOUBLED
    // midranks D = 2·before + c + 1 every rank quantity — combined,
    // within-group, and the deviation kernel A = D − D_k + (n_k+1) —
    // stays an exact BIGINT, the rank-variance moments ΣA/ΣA² are exact
    // decimal(38,0), and S², p̂, W, and the Satterthwaite df are closed
    // literal-order floats of exact integers. Same bounded-anchor %20
    // slice as q_mann_whitney; urgent-priority orders vs the rest.
    "q_brunner_munzel" -> ((s, dir) => {
      val o = t(s, dir, "orders").where(col("o_orderkey") % 20 === 0)
        .select((col("o_orderpriority") === "1-URGENT" ||
          col("o_orderpriority") === "2-HIGH").cast("long").as("g"),
          ColumnOps.cents(col("o_totalprice")).as("v"))
      val hist = o.groupBy("v").agg(
        sum(when(col("g") === 0L, 1L).otherwise(0L)).as("c1"),
        sum(when(col("g") === 1L, 1L).otherwise(0L)).as("c2"))
      val wCum = BoundedWindow.ordered(col("v"), col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = BoundedWindow.whole(col("v"))
      val c = col("c1") + col("c2")
      val cum = hist.select(col("c1"), col("c2"),
        sum(col("c1")).over(wAll).as("n1"),
        sum(col("c2")).over(wAll).as("n2"),
        (sum(col("c1") + col("c2")).over(wCum) - c).as("bef"),
        (sum(col("c1")).over(wCum) - col("c1")).as("bef1"),
        (sum(col("c2")).over(wCum) - col("c2")).as("bef2"))
      val dAll = lit(2L) * col("bef") + col("c1") + col("c2") + lit(1L)
      val d1 = lit(2L) * col("bef1") + col("c1") + lit(1L)
      val d2 = lit(2L) * col("bef2") + col("c2") + lit(1L)
      val a1 = dAll - d1 + col("n1") + lit(1L)
      val a2 = dAll - d2 + col("n2") + lit(1L)
      val g = cum.agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        sum(col("c1") * dAll).as("sd1"), sum(col("c2") * dAll).as("sd2"),
        sum(col("c1") * a1).as("sa1"), sum(dec(col("c1")) * a1 * a1).as("saa1"),
        sum(col("c2") * a2).as("sa2"), sum(dec(col("c2")) * a2 * a2).as("saa2"))
      // NULL (not 0.0) under the abstain threshold: subexpression
      // elimination hoists the shared divisions out of the CaseWhen
      // guards, and under ANSI a hoisted x/0.0 throws where x/NULL
      // abstains (the q_rdd lesson)
      val n1D = when(col("n1") >= 2L, d(col("n1")))
      val n2D = when(col("n2") >= 2L, d(col("n2")))
      val nD = n1D + n2D
      val m1 = d(col("sd1")) / n1D
      val m2 = d(col("sd2")) / n2D
      // Σ(A − D̄ₖ)² expanded off the exact moments; the /4 undoubles ranks
      val s1q = (d(col("saa1")) - lit(2.0) * m1 * d(col("sa1")) +
        n1D * m1 * m1) / lit(4.0) / (n1D - lit(1.0))
      val s2q = (d(col("saa2")) - lit(2.0) * m2 * d(col("sa2")) +
        n2D * m2 * m2) / lit(4.0) / (n2D - lit(1.0))
      val vsum = n1D * s1q + n2D * s2q
      val diff = (m2 - m1) / lit(2.0)
      val wStat = n1D * n2D * diff / nD / sqrt(vsum)
      val phat = (m2 / lit(2.0) - (n2D + lit(1.0)) / lit(2.0)) / n1D
      val dfS = vsum * vsum / ((n1D * s1q) * (n1D * s1q) / (n1D - lit(1.0)) +
        (n2D * s2q) * (n2D * s2q) / (n2D - lit(1.0)))
      val ok = col("n1") >= 2L && col("n2") >= 2L && vsum > 0.0
      val wR = when(ok, r6(wStat))
      g.select(col("n1").as("n_1"), col("n2").as("n_2"),
        when(ok, r6(phat)).as("p_hat"), wR.as("w_stat"),
        when(ok, r2(dfS)).as("df"),
        coalesce((abs(wR) > lit(1.959963984540054)).cast("long"), lit(0L))
          .as("reject_95"))
    }),

    // ---- A/B experiment power analysis ------------------------------------
    // The design-side companion to q_ab_ttest: from the same per-user arm
    // moments, the minimal detectable effect at α=0.05 / power 0.8
    // (two-sided z-approximation, MDE = (z_{α/2}+z_{β})·SE), the required
    // per-arm n to detect the OBSERVED effect, and whether the experiment
    // as run is adequately powered — the "should I even read this t-test"
    // gate. Same 100 TB shape as the t-test: one user-keyed groupBy, arm
    // moments partial-reduce to ONE row. Cross-engine: the engine-
    // aggregated float moments are r6-PINNED before any downstream math,
    // so the ceil and the boolean run on bit-identical doubles on both
    // engines (no boundary flips), not just values that agree to 1e-6.
    "q_power_analysis" -> ((s, dir) => {
      val byUser = armMeans(s, dir)
      val xa = when(col("g") === 0L, col("x"))
      val xb = when(col("g") === 1L, col("x"))
      val gg = byUser.agg(
        count(xa).as("na"), count(xb).as("nb"),
        avg(xa).as("ma0"), avg(xb).as("mb0"),
        var_samp(xa).as("va0"), var_samp(xb).as("vb0"))
      val ma = r6(col("ma0")); val mb = r6(col("mb0"))
      val va = r6(col("va0")); val vb = r6(col("vb0"))
      // z_{0.025} + z_{0.20}: one shared literal on both engines
      val zSum = lit(2.8015852181129683)
      val se = sqrt(va / col("na") + vb / col("nb"))
      val effect = abs(ma - mb)
      val mde = zSum * se
      val nReq = when(effect > 0,
        ceil(zSum * zSum * (va + vb) / (effect * effect)).cast("long"))
      gg.select(col("na").as("n_a"), col("nb").as("n_b"),
        ma.as("mean_a"), mb.as("mean_b"),
        r6(effect).as("effect"), r6(se).as("se"), r6(mde).as("mde"),
        nReq.as("n_required_per_arm"),
        // A degenerate arm (empty, or n=1 so var_samp is NULL) nulls the
        // comparison; the oracle's CASE falls through to ELSE 0 — abstain
        // as "not powered" on BOTH engines (q_prop_ztest's reject_95 idiom).
        coalesce((effect >= mde).cast("long"), lit(0L))
          .as("adequately_powered"))
    }),

    // ---- two-proportion z-test (conversion A/B readout) -------------------
    // The categorical sibling of q_ab_ttest: did arm A produce high-value
    // customers (per-user purchase total ≥ $500) at a different RATE than
    // arm B — the most common experiment readout, at the correct
    // randomization unit (users). The outcome flag compares EXACT integer
    // cents (float sums would make the ≥ boundary ulp-fragile). Pooled-
    // variance two-proportion z: z = (p̂a−p̂b)/√(p̂(1−p̂)(1/na+1/nb)).
    // Plan shape: one user-keyed groupBy (map-side combine) collapses
    // events to a per-user cents total, then ONE row of four BIGINT
    // counts — the arm never shuffles. A degenerate pool (everyone or
    // no-one converts ⇒ zero pooled variance) abstains with z = NULL /
    // reject 0 on BOTH engines instead of diverging through x/0 — the
    // q_mad_outliers zero-guard discipline. Everything else is a fixed
    // float sequence over the four exact integers.
    "q_prop_ztest" -> ((s, dir) => {
      val cents = ColumnOps.cents(col("value"))
      val byUser = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase", cents)
          .otherwise(0L)).as("cents"))
        .select(arm(col("user_id")).as("g"),
          (col("cents") >= lit(ConvCents)).cast("long").as("conv"))
      val g = byUser.agg(
        sum(when(col("g") === 0L, 1L).otherwise(0L)).as("na"),
        sum(when(col("g") === 1L, 1L).otherwise(0L)).as("nb"),
        sum(when(col("g") === 0L, col("conv")).otherwise(0L)).as("xa"),
        sum(when(col("g") === 1L, col("conv")).otherwise(0L)).as("xb"))
      val naD = col("na").cast("double"); val nbD = col("nb").cast("double")
      val pa = col("xa").cast("double") / naD
      val pb = col("xb").cast("double") / nbD
      val pPool = (col("xa") + col("xb")).cast("double") / (naD + nbD)
      val z = when(
        col("xa") + col("xb") > 0 && col("xa") + col("xb") < col("na") + col("nb"),
        (pa - pb) /
          sqrt(pPool * (lit(1.0) - pPool) * (lit(1.0) / naD + lit(1.0) / nbD)))
      g.select(col("na").as("n_a"), col("nb").as("n_b"),
        col("xa").as("conv_a"), col("xb").as("conv_b"),
        r6(pa).as("rate_a"), r6(pb).as("rate_b"),
        r6(pa - pb).as("abs_lift"), r6(z).as("z_stat"),
        coalesce((abs(z) > 1.959963984540054).cast("long"), lit(0L))
          .as("reject_95"))
    }),

    // ---- Spearman rank correlation ----------------------------------------
    // Monotone-association readout between line quantity and extended
    // price on the bounded o_orderkey%20 slice — the robust companion to
    // q_corr_stats' Pearson r (rank correlation survives the outliers and
    // nonlinearity the raw-value moment form is blind to). Ranks NEVER
    // materialize by sorting rows: tie-averaged ranks come in closed form
    // off each variable's value histogram + one cumulative window (the
    // q_mann_whitney machinery), DOUBLED so they stay integers
    // (rank2 = 2·before + c + 1), and join back to rows by value — the
    // quantity table is ≤50 rows (broadcast), the price table is
    // value-cardinality-bounded and equi-joins on the cents key. Spearman
    // = Pearson on ranks; the uniform ×2 scaling cancels exactly, all five
    // sufficient statistics are BIGINT-exact, and rho is one fixed float
    // sequence over them — no accumulation, no libm beyond sqrt.
    "q_spearman" -> ((s, dir) => {
      val rows = t(s, dir, "lineitem").where(col("l_orderkey") % 20 === 0)
        .select(col("l_quantity").cast("long").as("x"),
          ColumnOps.cents(col("l_extendedprice")).as("y"))
      def rank2(df: DataFrame, v: String): DataFrame = {
        val hist = df.groupBy(v).agg(count(lit(1)).as("c"))
        val w = BoundedWindow.ordered(col(v), col(v))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        hist.select(col(v),
          (lit(2L) * (sum(col("c")).over(w) - col("c")) + col("c") + lit(1L))
            .as(s"r_$v"))
      }
      val ranked = rows
        .join(broadcast(rank2(rows, "x")), Seq("x"))
        .join(rank2(rows, "y"), Seq("y"))
      val g = ranked.agg(count(lit(1)).as("n"),
        sum(col("r_x")).as("sa"), sum(col("r_y")).as("sb"),
        sum(col("r_x") * col("r_x")).as("saa"),
        sum(col("r_y") * col("r_y")).as("sbb"),
        sum(col("r_x") * col("r_y")).as("sab"))
      val nD = col("n").cast("double")
      val num = nD * col("sab") - col("sa").cast("double") * col("sb")
      val fa = nD * col("saa") - col("sa").cast("double") * col("sa")
      val fb = nD * col("sbb") - col("sb").cast("double") * col("sb")
      // A constant variable (all x or all y equal) gives den = 0 — Spark's
      // 0/0 would surface NaN where DuckDB yields NULL. Abstain with NULL
      // on both engines, and — the r10 sweep — test the RAW variance
      // factors, not a sqrt-containing den: the factors are double-
      // subtracted moments that can round a hair negative on degenerate
      // data, and DuckDB's SQRT raises on a negative argument even inside
      // the predicate of the CASE that was meant to abstain.
      g.select(col("n"),
        when(fa > 0 && fb > 0, r6(num / (sqrt(fa) * sqrt(fb)))).as("rho"))
    }),

    // ---- histogram decision-stump split (the GBDT primitive) --------------
    // Best single split of order priority (urgent/high vs rest) over three
    // binned features — the histogram-based split search at the heart of
    // every distributed GBDT (LightGBM/XGBoost hist mode): per-(feature,
    // bin) {n, positives} histograms from ONE corpus scan (map-side
    // combine to ≤ 51 cells — 32 price bins + 12 months + 7 dows, a
    // SCHEMA-bounded frame), then candidate thresholds, information gain,
    // and the per-feature argmax all live on that tiny frame via windows.
    // Price bins are computed in pure BIGINT arithmetic ((cents−lo)·32 div
    // span) against a broadcast min/max row, so binning has zero float
    // boundary risk. Gains involve ln (libm ulps differ per engine), so
    // the ARGMAX orders on the r6-rounded gain with a bin tie-break — the
    // selected split is part of the operator contract, deterministic on
    // both engines.
    "q_tree_split" -> ((s, dir) => {
      val cents = ColumnOps.cents(col("o_totalprice"))
      val o = t(s, dir, "orders").select(cents.as("cents"),
        month(to_date(col("o_orderdate"))).cast("long").as("mon"),
        dayofweek(to_date(col("o_orderdate"))).cast("long").as("dow"),
        col("o_orderpriority").isin("1-URGENT", "2-HIGH")
          .cast("long").as("y"))
      val rng = o.agg(min(col("cents")).as("lo"), max(col("cents")).as("hi"))
      val binned = o.crossJoin(broadcast(rng)).select(
        expr("((cents - lo) * 32) div (hi - lo + 1)").as("price_bin"),
        col("mon"), col("dow"), col("y"))
      val feats = binned.select(explode(array(
          struct(lit("price_bin").as("feature"), col("price_bin").as("bin")),
          struct(lit("month").as("feature"), col("mon").as("bin")),
          struct(lit("dow").as("feature"), col("dow").as("bin")))).as("f"),
          col("y"))
        .select(col("f.feature").as("feature"), col("f.bin").as("bin"),
          col("y"))
      val hist = feats.groupBy("feature", "bin")
        .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
      val wOrd = Window.partitionBy("feature").orderBy("bin")
      val wAll = Window.partitionBy("feature")
      val cum = hist.select(col("feature"), col("bin"),
          sum(col("n")).over(wOrd).as("nl"),
          sum(col("pos")).over(wOrd).as("pl"),
          sum(col("n")).over(wAll).as("nt"),
          sum(col("pos")).over(wAll).as("pt"))
        .where(col("nl") < col("nt")) // a split must leave a right side
      def h(pos: Column, n: Column): Column = {
        val p = pos.cast("double") / n
        when(pos === 0 || pos === n, lit(0.0))
          .otherwise(-(p * log(p) + (lit(1.0) - p) * log(lit(1.0) - p)))
      }
      val nr = col("nt") - col("nl"); val pr = col("pt") - col("pl")
      val gain = h(col("pt"), col("nt")) -
        col("nl").cast("double") / col("nt") * h(col("pl"), col("nl")) -
        nr.cast("double") / col("nt") * h(pr, nr)
      val scored = cum.withColumn("gain6", r6(gain))
        .withColumn("rn", row_number().over(
          Window.partitionBy("feature").orderBy(col("gain6").desc, col("bin"))))
      scored.where(col("rn") === 1)
        .select(col("feature"), col("bin").as("threshold_bin"),
          col("gain6").as("gain"),
          col("nl").as("n_left"), col("pl").as("pos_left"),
          nr.as("n_right"), pr.as("pos_right"),
          r6(h(col("pt"), col("nt"))).as("base_entropy"))
        .orderBy("feature")
    }),

    // ---- Levene / Brown–Forsythe homogeneity of variance ------------------
    // Brown–Forsythe (1974): one-way ANOVA on z_ij = |x_ij − median_j| —
    // the robust pre-test for "do these groups even have comparable
    // spread", run before trusting a pooled-variance comparison across
    // order priorities. Median-centered (not mean-centered Levene 1960):
    // robust to the heavy right tail order totals actually have.
    //
    // Exactness: medians of integer cents land on .0/.5, so 2·median is an
    // exact BIGINT and z2 = |2x − 2med| stays integer; per-group Σz2 and
    // Σz2² aggregate exactly (BIGINT / decimal38), and the final assembly
    // runs the q_anova discipline — group-ordered cumulative float adds so
    // both engines execute the identical float sequence. F is scale-
    // invariant, so the 2× never needs undoing; the reported SS are
    // rescaled by /4 once.
    //
    // Scale shape: TWO corpus scans (median pass + deviation pass — the
    // exact-median anchor; at 100 TB swap pass 1 to approx_percentile's
    // mergeable sketch, the q_group_percentile contract) with the 5-row
    // median table broadcast back; everything after the second groupBy is
    // schema-bounded (k = 5 priorities).
    "q_levene" -> ((s, dir) => {
      val cents = ColumnOps.cents(col("o_totalprice"))
      val o = t(s, dir, "orders")
        .select(col("o_orderpriority").as("grp"), cents.as("v"))
      val med = o.groupBy("grp").agg(
        floor(expr("percentile(v, 0.5)") * 2 + lit(0.500001))
          .cast("long").as("med2"))
      val z2 = abs(col("v") * 2 - col("med2"))
      val g = o.join(broadcast(med), Seq("grp"))
        .select(col("grp"), z2.as("z2"), z2.cast("decimal(18,0)").as("z2d"))
        .groupBy("grp")
        .agg(count(lit(1)).as("ng"), sum(col("z2")).as("sg"),
          sum(col("z2d") * col("z2d")).as("ssqg"))
      val tg = col("sg").cast("double") * col("sg").cast("double") /
        col("ng").cast("double")
      val wOrd = BoundedWindow.ordered(col("grp"), col("grp"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = BoundedWindow.whole(col("grp"))
      val cum = g.select(
        sum(col("ng")).over(wAll).as("nn"),
        sum(col("sg")).over(wAll).as("ss"),
        sum(col("ssqg").cast("double")).over(wOrd).as("syy"),
        sum(tg).over(wOrd).as("tcum"),
        count(lit(1)).over(wAll).as("k"),
        row_number().over(BoundedWindow.ordered(col("grp"), col("grp")))
          .as("rn"))
        .where(col("rn") === col("k"))
      val nD = col("nn").cast("double"); val kD = col("k").cast("double")
      val ssb = col("tcum") -
        col("ss").cast("double") * col("ss").cast("double") / nD
      val ssw = col("syy") - col("tcum")
      val f = (ssb / (kD - 1)) / (ssw / (nD - kD))
      // SS reported in DOLLAR² z-units (cents² / 4 / 1e4): the raw cents²
      // magnitude (~1e17 at sf0.1) would overflow Spark floor()'s LONG
      // return inside the r2 idiom; dollars² keeps the rounded value well
      // inside 2^53 at any plausible SF
      cum.select(col("k"), col("nn").as("n"),
        r2(ssb / 40000.0).as("ss_between"), r2(ssw / 40000.0).as("ss_within"),
        r4(f).as("f_stat"))
    }),

    // ---- Kendall rank correlation (tau-b) ---------------------------------
    // Kendall's τ-b between daily order volume and daily revenue — the
    // rank-correlation companion to q_spearman that is robust to ties and
    // has a direct probabilistic reading (P(concordant) − P(discordant)).
    // Exact pair census, not the O(n log n) inversion-count trick: the
    // series is CALENDAR-bounded (≈2.4k days at sf0.1 — and still ≈2.4k
    // at 100 TB, because days grow with time, not volume), so the n²/2
    // pair comparison is ~3M cheap integer ops over a broadcast of the
    // tiny daily frame; corpus-sized data never enters the pair join.
    // Every pair classification is pure BIGINT sign algebra; the counts
    // partial-aggregate to one row, and τ-b = (C−D)/√((n0−T_x)(n0−T_y))
    // is a single float sequence over exact integers (products ≤ ~8e12,
    // exact in doubles). Constant series ⇒ denominator 0 ⇒ both engines
    // abstain with NULL (the q_spearman zero-guard discipline).
    "q_kendall_tau" -> ((s, dir) => {
      val cents = ColumnOps.cents(col("o_totalprice"))
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("x"), sum(cents).as("y"))
      val a = daily.select(col("day").as("d1"), col("x").as("x1"),
        col("y").as("y1"))
      val b = daily.select(col("day").as("d2"), col("x").as("x2"),
        col("y").as("y2"))
      val cx = when(col("x2") > col("x1"), 1L)
        .when(col("x2") < col("x1"), -1L).otherwise(0L)
      val cy = when(col("y2") > col("y1"), 1L)
        .when(col("y2") < col("y1"), -1L).otherwise(0L)
      val agg = a.join(broadcast(b), col("d1") < col("d2"))
        .select(cx.as("cx"), cy.as("cy"))
        .agg(
          sum(when(col("cx") * col("cy") > 0, 1L).otherwise(0L)).as("c"),
          sum(when(col("cx") * col("cy") < 0, 1L).otherwise(0L)).as("d"),
          sum(when(col("cx") === 0 && col("cy") =!= 0, 1L).otherwise(0L))
            .as("tx"),
          sum(when(col("cy") === 0 && col("cx") =!= 0, 1L).otherwise(0L))
            .as("ty"),
          sum(when(col("cx") === 0 && col("cy") === 0, 1L).otherwise(0L))
            .as("tb"))
      val n = daily.agg(count(lit(1)).as("n_days"))
      val n0 = col("n_days") * (col("n_days") - 1) / 2
      val den = sqrt(((n0 - col("tx") - col("tb")) *
        (n0 - col("ty") - col("tb"))).cast("double"))
      agg.crossJoin(broadcast(n))
        .select(col("n_days"), col("c").as("concordant"),
          col("d").as("discordant"), col("tx").as("ties_x"),
          col("ty").as("ties_y"), col("tb").as("ties_both"),
          when(den > 0,
            r6((col("c") - col("d")).cast("double") / den)).as("tau_b"))
    }),

    // ---- first-order partial correlation ----------------------------------
    // r_{xy·z} between quantity (x) and line revenue (y) CONTROLLING for
    // the discount (z) — the "is the raw correlation just the confounder"
    // question every pricing analysis asks. Recipe: one corpus scan
    // producing the full exact second-moment matrix — n, Σx, Σy, Σz and
    // all five cross/self products — as BIGINT/DECIMAL(38,0) partial
    // aggregates (map-side combined, ONE row out), then the three Pearson
    // r's and the partial-correlation compose r_{xy·z} =
    // (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)) as a single float sequence
    // over the exact integers. All three variables are integer-exact after
    // the cents/percent scaling (quantity is integral, price has cents,
    // discount is a whole percent), so both engines aggregate IDENTICAL
    // integers and only the final ~15 float ops can drift — r6 absorbs the
    // ulps. Σy² ≈ 1.6e13·n fits DECIMAL(38,0) partials through ~1e12 rows
    // (scaled headroom documented vs q_levene's same discipline).
    "q_partial_corr" -> ((s, dir) => {
      val x = col("l_quantity").cast("long")
      val y = ColumnOps.cents(col("l_extendedprice"))
      val z = ColumnOps.cents(col("l_discount"))
      val li = t(s, dir, "lineitem").select(x.as("x"), y.as("y"), z.as("z"),
        y.cast("decimal(19,0)").as("yd"))
      val g = li.agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("yd")).as("sy"), sum(col("z")).as("sz"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("yd") * col("yd")).as("syy"),
        sum(col("z") * col("z")).as("szz"),
        sum(col("yd") * col("x").cast("decimal(19,0)")).as("sxy"),
        sum(col("x") * col("z")).as("sxz"),
        sum(col("yd") * col("z").cast("decimal(19,0)")).as("syz"))
      val nD = col("n").cast("double")
      // every sqrt argument is clamped at 0 (mirrored GREATEST in the
      // oracle): the variance/|r|≤1 identities hold exactly, but these are
      // double-subtracted moments that can round a hair past the boundary
      // on degenerate data — where DuckDB's SQRT hard-errors while Spark
      // returns NaN (r10 divergence sweep). The division is try_divide:
      // under Spark 4 ANSI a clamped-to-0 denominator would hard-error
      // where DuckDB's plain / yields NULL — try_divide IS DuckDB's
      // division semantics, so both engines abstain with NULL.
      def pearson(sab: Column, sa: Column, sb: Column,
                  saa: Column, sbb: Column): Column =
        try_divide(
          nD * sab.cast("double") - sa.cast("double") * sb.cast("double"),
          sqrt(greatest(
            (nD * saa.cast("double") - sa.cast("double") * sa.cast("double")) *
            (nD * sbb.cast("double") - sb.cast("double") * sb.cast("double")),
            lit(0.0))))
      val rxy = pearson(col("sxy"), col("sx"), col("sy"), col("sxx"), col("syy"))
      val rxz = pearson(col("sxz"), col("sx"), col("sz"), col("sxx"), col("szz"))
      val ryz = pearson(col("syz"), col("sy"), col("sz"), col("syy"), col("szz"))
      val part = try_divide(rxy - rxz * ryz,
        sqrt(greatest((lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz),
          lit(0.0))))
      g.select(col("n"), r6(rxy).as("r_xy"), r6(rxz).as("r_xz"),
        r6(ryz).as("r_yz"), r6(part).as("r_xy_given_z"))
    }),

    // ---- Cohen's kappa (inter-annotator agreement) ------------------------
    // Chance-corrected agreement between two independent document "raters"
    // — the gate every LLM-labeling pipeline runs before trusting a silver
    // label set (two heuristic annotators here: a character-length rater
    // and a whitespace-token-count rater). κ = (p_o − p_e)/(1 − p_e) off
    // the exact 2×2 confusion counts; one corpus scan, four BIGINT partial
    // counts, one row out, float math only in the final compose. The same
    // shape scores ANY pair of label columns at 100 TB: the confusion
    // matrix is schema-bounded, never data-bounded.
    "q_cohens_kappa" -> ((s, dir) => {
      val a = (col("n_chars") >= 400).cast("long")
      val b = (size(graft.text.TextOps.tokens(col("text"))) >= 60).cast("long")
      val g = t(s, dir, "documents").select(a.as("a"), b.as("b")).agg(
        count(lit(1)).as("n"),
        sum(col("a") * col("b")).as("n11"),
        sum(col("a") * (lit(1L) - col("b"))).as("n10"),
        sum((lit(1L) - col("a")) * col("b")).as("n01"),
        sum((lit(1L) - col("a")) * (lit(1L) - col("b"))).as("n00"))
      val nD = col("n").cast("double")
      val po = (col("n11") + col("n00")).cast("double") / nD
      val pa = (col("n11") + col("n10")).cast("double") / nD
      val pb = (col("n11") + col("n01")).cast("double") / nD
      val pe = pa * pb + (lit(1.0) - pa) * (lit(1.0) - pb)
      g.select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
        r6(po).as("p_observed"), r6(pe).as("p_expected"),
        when(pe < 1.0, r6((po - pe) / (lit(1.0) - pe))).as("kappa"))
    }),

    // ---- weight of evidence / information value ---------------------------
    // The credit-scoring feature screen: how well does order priority
    // separate high-value orders (> $250k) from the rest? Per bucket
    // WoE = ln((good_i/G)/(bad_i/B)) and IV = Σ (good_i/G − bad_i/B)·WoE.
    // One corpus scan to the ≤5-row (priority × outcome) table — exact
    // BIGINT counts, map-side combined — then windows over the bounded
    // frame; ln runs on ratios of exact integers. Degenerate buckets
    // (zero goods or zero bads, where WoE is ±∞) abstain with NULL and
    // contribute nothing to IV — the q_spearman zero-guard discipline.
    "q_woe_iv" -> ((s, dir) => {
      val hi = (col("o_totalprice") > 250000.0).cast("long")
      val cells = t(s, dir, "orders")
        .select(col("o_orderpriority").as("bucket"), hi.as("hi"))
        .groupBy("bucket")
        .agg(sum(col("hi")).as("g"), sum(lit(1L) - col("hi")).as("b"))
      val wAll = BoundedWindow.whole(col("bucket"))
      val withTot = cells.select(col("bucket"), col("g"), col("b"),
        sum(col("g")).over(wAll).as("gt"), sum(col("b")).over(wAll).as("bt"))
      val pg = col("g").cast("double") / col("gt").cast("double")
      val pb = col("b").cast("double") / col("bt").cast("double")
      val woe = when(col("g") > 0 && col("b") > 0, log(pg / pb))
      val perBucket = withTot.select(col("bucket"), col("g").as("n_good"),
        col("b").as("n_bad"), r6(pg).as("pct_good"), r6(pb).as("pct_bad"),
        r6(woe).as("woe"),
        when(col("g") > 0 && col("b") > 0, (pg - pb) * woe)
          .otherwise(lit(0.0)).as("__term"))
      // IV total through a bucket-ORDERED cumulative float sum picked at the
      // last row (the q_anova cross-engine float-sequence discipline; an
      // unordered whole-frame sum may tree-reduce in a different order on a
      // different engine), broadcast back onto the ≤5-row frame
      val wOrd = BoundedWindow.ordered(col("bucket"), col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val iv = perBucket.select(
        sum(col("__term")).over(wOrd).as("ivc"),
        row_number().over(BoundedWindow.ordered(col("bucket"), col("bucket")))
          .as("rn"),
        count(lit(1)).over(BoundedWindow.whole(col("bucket"))).as("k"))
        .where(col("rn") === col("k"))
        .select(r6(col("ivc")).as("iv_total"))
      perBucket.drop("__term").crossJoin(broadcast(iv)).orderBy("bucket")
    }),

    // ---- Wilcoxon signed-rank (paired two-period test) --------------------
    // Did per-customer spending CHANGE across the 1998-01-01 split? Pairs
    // are customers with orders in both halves; d = mean cents after −
    // mean cents before. The nonparametric paired companion to q_ab_ttest
    // (which is unpaired): ranks of |d| with average tie ranks via the
    // q_mann_whitney value-histogram trick — |d| is a deterministic double
    // (one subtraction of two exact-integer divisions, identical on both
    // engines), the histogram groups by that value, and 2·W⁺ =
    // Σ c⁺·(2·before + c + 1) stays BIGINT-exact, as does the tie term.
    // Zero differences drop (the standard Wilcoxon convention); z uses the
    // tie-corrected large-sample variance n(n+1)(2n+1)/24 − Σ(c³−c)/48.
    // Scale shape: one customer-keyed groupBy (map-side combined), then
    // the |d| histogram + one cumulative window over distinct |d| values —
    // the q_mann_whitney shape exactly.
    "q_wilcoxon_signed" -> ((s, dir) => {
      val cents = ColumnOps.cents(col("o_totalprice"))
      val split = lit("1998-01-01").cast("date")
      val inA = col("o_orderdate") < split
      val per = t(s, dir, "orders")
        .select(col("o_custkey"), cents.as("v"), inA.as("a"))
        .groupBy("o_custkey")
        .agg(sum(when(col("a"), col("v"))).as("sa"),
          count(when(col("a"), lit(1))).as("na"),
          sum(when(!col("a"), col("v"))).as("sb"),
          count(when(!col("a"), lit(1))).as("nb"))
        .where(col("na") > 0 && col("nb") > 0)
      val d = col("sb").cast("double") / col("nb").cast("double") -
        col("sa").cast("double") / col("na").cast("double")
      val hist = per.select(d.as("d")).where(col("d") =!= 0.0)
        .groupBy(abs(col("d")).as("ad"))
        .agg(count(lit(1)).as("c"),
          sum(when(col("d") > 0, 1L).otherwise(0L)).as("cpos"))
      val w = BoundedWindow.ordered(col("ad"), col("ad"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.select(col("c"), col("cpos"),
        (sum(col("c")).over(w) - col("c")).as("before"))
      val g = cum.agg(
        sum(col("c")).as("n"),
        sum(col("cpos") * (col("before") * 2 + col("c") + 1)).as("two_wp"),
        sum(col("c") * col("c") * col("c") - col("c")).as("ties"))
      val nD = col("n").cast("double")
      val varW = nD * (nD + 1) * (lit(2.0) * nD + 1) / 24.0 -
        col("ties").cast("double") / 48.0
      val z = (col("two_wp").cast("double") / 2.0 - nD * (nD + 1) / 4.0) /
        sqrt(varW)
      g.select(col("n").as("n_pairs"),
        (col("two_wp").cast("double") / 2.0).as("w_plus"),
        col("ties").as("tie_term"), r6(z).as("z_stat"),
        (abs(z) > 1.959963984540054).cast("long").as("reject_95"))
    }),

    // ---- Theil–Sen robust slope -------------------------------------------
    // Median-of-pairwise-slopes trend of daily revenue — the robust
    // regression line one planted outlier day cannot move (vs q_regression
    // 's OLS). The pair census rides the q_kendall_tau discipline: the
    // daily frame is CALENDAR-bounded (≈2.4k days at any SF — days grow
    // with time, not volume), so the ~3M slope pairs are a broadcast
    // self-join of a tiny frame, and corpus-sized data never enters the
    // pair join. Each slope is ONE double division of exact integers
    // (identical on both engines); the exact median interpolates two order
    // statistics with the same lower+(upper−lower)·frac formula in Spark's
    // percentile and DuckDB's quantile_cont. The intercept pass reuses the
    // r6-PINNED slope (both engines see bit-identical slope before the
    // residual median), the q_power_analysis pinning discipline.
    "q_theil_sen" -> ((s, dir) => {
      val cents = ColumnOps.cents(col("o_totalprice"))
      // localCheckpoint: the calendar-bounded daily frame feeds BOTH pair
      // sides, the median's broadcast subtree, and the residual pass —
      // without it each re-runs the full orders scan + aggregate
      // (measured 10.7 s → ~6 s at sf0.1)
      val daily = t(s, dir, "orders")
        .groupBy(datediff(to_date(col("o_orderdate")),
          lit("1995-01-01").cast("date")).as("x"))
        .agg(sum(cents).as("y"))
        .localCheckpoint()
      // r18: spread the STREAM side of the pair join across the session's
      // cores — the calendar frame materializes on one partition, so the
      // ~3M-slope NL-join output (and every quickselect counting pass over
      // its checkpoint) ran as single serial tasks. The exchange moves
      // ~2.4k calendar rows (trivial at any SF — days grow with time, not
      // volume); the slope stream itself never shuffles.
      val a = daily.repartition(s.sparkContext.defaultParallelism)
        .select(col("x").as("x1"), col("y").as("y1"))
      val b = daily.select(col("x").as("x2"), col("y").as("y2"))
      val slopes = a.join(broadcast(b), col("x1") < col("x2"))
        .select(((col("y2") - col("y1")).cast("double") /
          (col("x2") - col("x1")).cast("double")).as("sl"))
      // exact median by distributed quickselect, not the Percentile
      // aggregate: on 2.89 M mostly-distinct doubles Percentile builds
      // and merges per-partition value→count maps — measured 11 s of the
      // query's 10.7 s total at sf0.1; the counting selection is ~2 s
      // and never materializes more than the bounded final band. The
      // selected value is IDENTICAL (same lower + (upper−lower)·frac
      // interpolation both built-ins use), so the oracle is unchanged.
      val nd = daily.count()
      val slope = Ranks.exactQuantileCont(slopes, col("sl"), 0.5)
      val med = s.range(1).select(
        lit(nd * (nd - 1) / 2).as("n_pairs"), r6(lit(slope)).as("slope"))
      val resid = daily.crossJoin(broadcast(med))
        .select(col("n_pairs"), col("slope"),
          (col("y").cast("double") - col("slope") * col("x")).as("r"))
      resid.groupBy(col("n_pairs"), col("slope"))
        .agg(count(lit(1)).as("n_days"),
          r6(expr("percentile(r, 0.5)")).as("intercept"))
        .select(col("n_days"), col("n_pairs"), col("slope"), col("intercept"))
    }),

    // ---- Benjamini–Hochberg FDR over a test family ------------------------
    // The multiple-comparisons correction every metrics platform needs the
    // moment it runs one test per segment (Benjamini–Hochberg 1995): the
    // family here is five two-sided z-tests — each order priority's mean
    // total vs the REST of the corpus — and BH controls the false
    // discovery rate at q = 0.05 by rejecting the largest prefix of the
    // p-ascending ranking with p_(k) ≤ (k/m)·q.
    //
    // One corpus scan to the 5-row (priority: n, Σcents, Σcents²) frame —
    // exact BIGINT/DECIMAL(38,0) partials — then leave-one-out rest
    // moments come from whole-frame window totals (schema-bounded). Φ is
    // the Zelen–Severo polynomial (A&S 26.2.17, |ε| < 7.5e-8): plain
    // exp/sqrt/Horner arithmetic both engines run identically on
    // identical doubles, so p-values, the p-ranking, and the prefix rule
    // agree exactly; the reported floats are r6-rounded.
    "q_bh_fdr" -> ((s, dir) => {
      val cents = ColumnOps.cents(col("o_totalprice"))
      val cells = t(s, dir, "orders")
        .select(col("o_orderpriority").as("prio"), cents.as("v"),
          cents.cast("decimal(19,0)").as("vd"))
        .groupBy("prio")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
          sum(col("vd") * col("vd")).as("ssq"))
      val wAll = BoundedWindow.whole(col("prio"))
      val tot = cells.select(col("prio"), col("n"), col("sv"), col("ssq"),
        sum(col("n")).over(wAll).as("nt"),
        sum(col("sv")).over(wAll).as("svt"),
        sum(col("ssq")).over(wAll).as("ssqt"))
      val nI = d(col("n")); val nR = d(col("nt") - col("n"))
      val mI = d(col("sv")) / nI
      // try_divide throughout the rest-arm terms (r10 sweep): a single
      // priority group makes nR = 0 and a 1-row group makes n−1 = 0 —
      // DuckDB's plain / NULLs there while Spark 4 ANSI hard-errors;
      // try_divide IS DuckDB's semantics. The sqrt argument is clamped at
      // 0 (mirrored GREATEST in the oracle) because double-rounded moment
      // variances can dip negative, where DuckDB's SQRT errors.
      val mR = try_divide(d(col("svt") - col("sv")), nR)
      val varI = try_divide(
        d(col("ssq")) - d(col("sv")) * d(col("sv")) / nI, nI - 1)
      val varR = try_divide(d(col("ssqt") - col("ssq")) -
        try_divide(d(col("svt") - col("sv")) * d(col("svt") - col("sv")), nR),
        nR - 1)
      val z = try_divide(mI - mR,
        sqrt(greatest(varI / nI + try_divide(varR, nR), lit(0.0))))
      val az = abs(z)
      val tPoly = lit(1.0) / (lit(1.0) + lit(0.2316419) * az)
      val poly = tPoly * (lit(0.319381530) + tPoly * (lit(-0.356563782) +
        tPoly * (lit(1.781477937) + tPoly * (lit(-1.821255978) +
          tPoly * lit(1.330274429)))))
      val p = lit(2.0) * lit(0.3989422804014327) * exp(-az * az / 2.0) * poly
      val scored = tot.select(col("prio"), col("n"), mI.as("m"), z.as("z"),
        p.as("p"))
      // asc_nulls_last: an abstained (NULL-p) group must rank AFTER every
      // real p on BOTH engines — Spark defaults nulls first, DuckDB last
      val rn = row_number().over(
        BoundedWindow.ordered(col("prio"), col("p").asc_nulls_last,
          col("prio")))
      val m = count(lit(1)).over(BoundedWindow.whole(col("prio")))
      val ranked = scored.select(col("prio"), col("n"), col("m"), col("z"),
        col("p"), rn.as("rn"), m.as("mm"))
        .select(col("prio"), col("n"), col("m"), col("z"), col("p"),
          col("rn"), col("mm"),
          (col("rn").cast("double") / col("mm") * lit(0.05)).as("crit"))
      val kStar = max(when(col("p") <= col("crit"), col("rn"))
        .otherwise(lit(0))).over(BoundedWindow.whole(col("prio")))
      ranked.select(col("prio"), col("n"),
        r2(col("m") / 100.0).as("mean_total"),
        r4(col("z")).as("z_stat"), r6(col("p")).as("p_value"),
        r6(col("crit")).as("bh_crit"),
        (col("rn") <= kStar).cast("long").as("reject_fdr_05"))
        .orderBy("prio")
    }),

    // ---- CUPED variance reduction -----------------------------------------
    // The industry-standard experiment sensitivity boost (Deng et al.,
    // WSDM 2013): regress the experiment metric (post-1998 per-customer
    // spend) on its pre-period covariate (pre-1998 spend), and report the
    // adjusted arm means y − θ(x − x̄) plus the achieved variance
    // reduction 1 − var(y−θx)/var(y) = ρ²_xy — often 40–60% on real
    // commerce metrics, i.e. the same experiment decided with half the
    // traffic. θ = cov(x,y)/var(x) is fit POOLED (assignment-independent,
    // so the adjustment is unbiased under the null).
    //
    // One customer-keyed groupBy (map-side combined; customers with no
    // pre-period spend carry x = 0 — a defined covariate, not a dropped
    // unit), then ALL sufficient statistics — pooled n/Σx/Σy/Σx²/Σy²/Σxy
    // in DECIMAL(38,0) exact partials plus per-arm n/Σx/Σy — reduce in
    // ONE row. θ, the adjusted means, and the variance-reduction ratio
    // are a single float sequence over exact integers; a constant
    // covariate (var x = 0) abstains with NULL θ/adjustment — the
    // q_spearman zero-guard discipline.
    "q_cuped" -> ((s, dir) => {
      val cents = ColumnOps.cents(col("o_totalprice"))
      val split = lit("1998-01-01").cast("date")
      val per = t(s, dir, "orders")
        .select(col("o_custkey"), cents.as("v"),
          (col("o_orderdate") < split).as("pre"))
        .groupBy("o_custkey")
        .agg(coalesce(sum(when(col("pre"), col("v"))), lit(0L)).as("x"),
          coalesce(sum(when(!col("pre"), col("v"))), lit(0L)).as("y"))
        .select(arm(col("o_custkey")).as("g"),
          col("x"), col("y"),
          col("x").cast("decimal(19,0)").as("xd"),
          col("y").cast("decimal(19,0)").as("yd"))
      val m = per.agg(
        count(lit(1)).as("n"),
        sum(col("xd")).as("sx"), sum(col("yd")).as("sy"),
        sum(col("xd") * col("xd")).as("sxx"),
        sum(col("yd") * col("yd")).as("syy"),
        sum(col("xd") * col("yd")).as("sxy"),
        sum(when(col("g") === 0L, 1L).otherwise(0L)).as("na"),
        sum(when(col("g") === 0L, col("x")).otherwise(0L)).as("sxa"),
        sum(when(col("g") === 0L, col("y")).otherwise(0L)).as("sya"),
        sum(when(col("g") === 1L, 1L).otherwise(0L)).as("nb"),
        sum(when(col("g") === 1L, col("x")).otherwise(0L)).as("sxb"),
        sum(when(col("g") === 1L, col("y")).otherwise(0L)).as("syb"))
      val nD = col("n").cast("double")
      val varX = nD * d(col("sxx")) - d(col("sx")) * d(col("sx"))
      val varY = nD * d(col("syy")) - d(col("sy")) * d(col("sy"))
      val covXY = nD * d(col("sxy")) - d(col("sx")) * d(col("sy"))
      val theta = covXY / varX
      val xBar = d(col("sx")) / nD
      def adj(sy0: Column, sx0: Column, n0: Column): Column =
        d(sy0) / d(n0) - theta * (d(sx0) / d(n0) - xBar)
      val varRed = covXY * covXY / (varX * varY)
      m.select(col("n"), col("na").as("n_a"), col("nb").as("n_b"),
        when(varX > 0, r6(theta)).as("theta"),
        r2(d(col("sya")) / d(col("na")) / 100.0).as("mean_a_raw"),
        r2(d(col("syb")) / d(col("nb")) / 100.0).as("mean_b_raw"),
        when(varX > 0, r2(adj(col("sya"), col("sxa"), col("na")) / 100.0))
          .as("mean_a_adj"),
        when(varX > 0, r2(adj(col("syb"), col("sxb"), col("nb")) / 100.0))
          .as("mean_b_adj"),
        when(varX > 0 && varY > 0, r6(varRed)).as("var_reduction"))
    }),

    // ---- difference-in-differences ----------------------------------------
    // The two-period two-group causal readout (Card–Krueger 1994 made it
    // canonical): DiD = (ȳ_b,post − ȳ_b,pre) − (ȳ_a,post − ȳ_a,pre) over
    // the md5 hash arms × the 1998-01-01 period split — on a hash split
    // the true effect is zero by construction, which makes the estimate
    // itself an A/A calibration check. The 2×2 cell frame reduces from
    // ONE corpus scan (exact BIGINT count/sum/Σv² per cell, map-side
    // combined, arm never a shuffle key); the estimate and its
    // large-sample SE √(Σ s²ᵢ/nᵢ) are one float sequence over exact
    // integers.
    "q_diff_in_diff" -> ((s, dir) => {
      val cents = ColumnOps.cents(col("o_totalprice"))
      val split = lit("1998-01-01").cast("date")
      val cells = t(s, dir, "orders")
        .select(arm(col("o_custkey")).as("g"),
          (col("o_orderdate") >= split).cast("long").as("post"),
          cents.as("v"), cents.cast("decimal(19,0)").as("vd"))
        .groupBy("g", "post")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
          sum(col("vd") * col("vd")).as("ssq"))
      val mean = d(col("s")) / d(col("n"))
      // greatest(…, 0) on the NEVER-NULL raw moment difference (not the
      // /(n−1) quotient, whose n=1 NULL would hit Spark's null-skipping
      // greatest vs DuckDB's null-propagating GREATEST): a constant
      // cell's double-rounded variance can dip below zero, and a negative
      // micro-term could push the summed SE² negative into the sqrt
      // (r10 sweep; the oracle carries the same GREATEST)
      val varS = greatest(
        d(col("ssq")) - d(col("s")) * d(col("s")) / d(col("n")), lit(0.0)) /
        (d(col("n")) - 1)
      // the 4 per-cell s²/n terms are floats; an unordered 4-way float sum
      // could tree-reduce differently across engines, so each term is
      // quantized to integer micro-units first and the micro-units sum in
      // BIGINT (the linkPrediction discipline; ≤1e-6 cents² quantization
      // on an SE of ~1e5 cents² — far below the r6 report precision)
      val flat = cells.select(col("g"), col("post"), col("n"),
        mean.as("m"),
        floor(varS / d(col("n")) * lit(1000000.0))
          .cast("long").as("vn_micro"))
      val g = flat.agg(
        sum(col("n")).as("n"),
        sum(when(col("g") === 0L && col("post") === 0L, col("m"))).as("m_a_pre"),
        sum(when(col("g") === 0L && col("post") === 1L, col("m"))).as("m_a_post"),
        sum(when(col("g") === 1L && col("post") === 0L, col("m"))).as("m_b_pre"),
        sum(when(col("g") === 1L && col("post") === 1L, col("m"))).as("m_b_post"),
        sum(col("vn_micro")).as("se2_micro"))
      val did = (col("m_b_post") - col("m_b_pre")) -
        (col("m_a_post") - col("m_a_pre"))
      val z = did / sqrt(col("se2_micro").cast("double") / lit(1000000.0))
      g.select(col("n"),
        r2(col("m_a_pre") / 100.0).as("mean_a_pre"),
        r2(col("m_a_post") / 100.0).as("mean_a_post"),
        r2(col("m_b_pre") / 100.0).as("mean_b_pre"),
        r2(col("m_b_post") / 100.0).as("mean_b_post"),
        r2(did / 100.0).as("did_estimate"),
        r6(z).as("z_stat"),
        (abs(z) > 1.959963984540054).cast("long").as("reject_95"))
    }),

    // ---- Tukey HSD post-hoc pairwise comparisons --------------------------
    // The follow-up q_anova points at: WHICH segment means differ? All
    // C(5,2)=10 segment pairs with the studentized-range statistic
    // q = |m_i − m_j| / √(MSW/2 · (1/n_i + 1/n_j)) (Tukey–Kramer for
    // unequal n) against the k=5, df=∞ 5% critical value 3.858 — exact at
    // warehouse df (df > 10⁴ changes the true critical value by < 0.3%,
    // documented, same large-sample stance as q_mann_whitney's z). MSW
    // reuses the q_anova discipline verbatim: exact per-group BIGINT/
    // DECIMAL moments, group-ordered cumulative float adds so both engines
    // run the identical sequence. The pair frame is a broadcast self-join
    // of the 5-row group table — schema-bounded, never corpus-bounded.
    "q_tukey_hsd" -> ((s, dir) => {
      val g = segmentBalanceMoments(s, dir)
      val tg = col("sg").cast("double") * col("sg").cast("double") /
        col("ng").cast("double")
      val wOrd = BoundedWindow.ordered(col("seg"), col("seg"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = BoundedWindow.whole(col("seg"))
      val msw = g.select(
        sum(col("ng")).over(wAll).as("nn"),
        sum(col("ssqg").cast("double")).over(wOrd).as("syy"),
        sum(tg).over(wOrd).as("tcum"),
        count(lit(1)).over(wAll).as("k"),
        row_number().over(BoundedWindow.ordered(col("seg"), col("seg")))
          .as("rn"))
        .where(col("rn") === col("k"))
        // greatest(…, 0): SSW ≥ 0 exactly, but syy/tcum are double sums
        // whose difference can round negative when every group is
        // near-constant — a negative msw would reach sqrt; try_divide:
        // nn = k (every segment a singleton) zeroes the df, where DuckDB
        // NULLs and Spark 4 ANSI hard-errors (r10 sweep; GREATEST and
        // plain / mirrored in the oracle)
        .select(try_divide(greatest(col("syy") - col("tcum"), lit(0.0)),
          (col("nn") - col("k")).cast("double")).as("msw"))
      val gm = g.select(col("seg"), col("ng"),
        (col("sg").cast("double") / col("ng").cast("double")).as("m"))
      val a = gm.select(col("seg").as("seg_a"), col("ng").as("na"),
        col("m").as("ma"))
      val b = gm.select(col("seg").as("seg_b"), col("ng").as("nb"),
        col("m").as("mb"))
      val qCrit = lit(3.858)
      val se = sqrt(col("msw") / 2.0 *
        (lit(1.0) / col("na") + lit(1.0) / col("nb")))
      // try_divide: identical-group data gives msw = 0 ⇒ se = 0, where
      // DuckDB NULLs and Spark ANSI errors
      val qStat = try_divide(abs(col("ma") - col("mb")), se)
      a.join(broadcast(b), col("seg_a") < col("seg_b"))
        .crossJoin(broadcast(msw))
        .select(col("seg_a"), col("seg_b"),
          r2(col("ma") / 100.0).as("mean_a"), r2(col("mb") / 100.0).as("mean_b"),
          r2((col("ma") - col("mb")) / 100.0).as("mean_diff"),
          r4(qStat).as("q_stat"),
          // coalesce 0: an abstained (NULL) q must read not-significant on
          // both engines (the oracle's CASE already falls to ELSE 0)
          coalesce((qStat > qCrit).cast("long"), lit(0L)).as("significant"))
        .orderBy("seg_a", "seg_b")
    }),

    // ---- Jarque–Bera normality test (beyond reference, round 9) -----------
    // "Is order value normally distributed within each priority tier?" —
    // the moment-based omnibus test (Jarque & Bera 1980): JB =
    // n/6·(g₁² + g₂²/4) from sample skewness g₁ = m₃/m₂^{3/2} and excess
    // kurtosis g₂ = m₄/m₂² − 3, against the χ²₂ 5% critical value (JB is
    // asymptotically chi-square with 2 df). Scale shape: ONE corpus scan
    // partial-aggregates exact integer power sums Σx…Σx⁴ per priority
    // (cents in DECIMAL(38,0): x⁴ ≈ 10³¹, ×10⁶ rows ≈ 10³⁷ < 10³⁸; a
    // larger corpus swaps to the centered two-pass double path,
    // documented), so the shuffle carries 5 rows × 6 exact integers.
    // Central moments, skewness, kurtosis and the statistic are one
    // closed-form double sequence over those integers on both engines —
    // no accumulation order exists anywhere. g₁'s denominator uses
    // m₂·√m₂ (sqrt is IEEE-exact) rather than pow(m₂,1.5), whose libm
    // implementations differ across engines.
    "q_jarque_bera" -> ((s, dir) => {
      val xd = floor(col("o_totalprice") * lit(100.0) + lit(0.500001))
        .cast("decimal(38,0)")
      val g = t(s, dir, "orders")
        .select(col("o_orderpriority").as("priority"), xd.as("x"))
        .groupBy("priority")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("s1"),
          sum(col("x") * col("x")).as("s2"),
          sum(col("x") * col("x") * col("x")).as("s3"),
          sum(col("x") * col("x") * col("x") * col("x")).as("s4"))
      val nD = col("n").cast("double")
      val m1 = col("s1").cast("double") / nD
      val r2m = col("s2").cast("double") / nD
      val r3m = col("s3").cast("double") / nD
      val r4m = col("s4").cast("double") / nD
      val m2 = r2m - m1 * m1
      val m3 = r3m - lit(3.0) * m1 * r2m + lit(2.0) * m1 * m1 * m1
      val m4 = r4m - lit(4.0) * m1 * r3m + lit(6.0) * m1 * m1 * r2m -
        lit(3.0) * m1 * m1 * m1 * m1
      val skew = m3 / (m2 * sqrt(m2))
      val exk = m4 / (m2 * m2) - lit(3.0)
      val jb = nD / lit(6.0) * (skew * skew + exk * exk / lit(4.0))
      val ok = col("n") > 3 && m2 > 0
      g.select(col("priority"), col("n"),
          when(ok, r6(skew)).as("skewness"),
          when(ok, r6(exk)).as("ex_kurtosis"),
          when(ok, r4(jb)).as("jb_stat"),
          coalesce((when(ok, jb) > lit(5.991464547107979)).cast("long"),
            lit(0L)).as("reject_95"))
        .orderBy("priority")
    }),

    // ---- McNemar's paired test (beyond reference, r9) ----------------------
    // Two classifiers scored on the SAME documents (stop-ratio ≥ 0.15 vs
    // the 100-char length heuristic, both predicting lang = en): are
    // their error rates different? McNemar 1947 uses ONLY the discordant
    // pairs — b (A right, B wrong) and c (B right, A wrong) — with the
    // continuity-corrected χ²₁ = (|b−c|−1)²/(b+c); accuracy deltas on
    // shared successes are noise this test correctly ignores. One scan,
    // four exact BIGINTs, one float.
    "q_mcnemar" -> ((s, dir) => {
      val y = col("lang") === "en"
      val predA = graft.text.TextOps.stopRatio(col("text")) >= lit(0.15)
      val predB = col("n_chars") >= 100L
      val g = t(s, dir, "documents").agg(
        sum((predA === y && predB === y).cast("long")).as("both_right"),
        sum((predA === y && predB =!= y).cast("long")).as("b"),
        sum((predA =!= y && predB === y).cast("long")).as("c"),
        sum((predA =!= y && predB =!= y).cast("long")).as("both_wrong"))
      val bd = col("b").cast("double")
      val cd = col("c").cast("double")
      val chi2 = (abs(bd - cd) - lit(1.0)) * (abs(bd - cd) - lit(1.0)) /
        (bd + cd)
      val ok = col("b") + col("c") > 0L
      g.select(col("both_right"), col("b"), col("c"), col("both_wrong"),
        when(ok, r6(chi2)).as("chi2"),
        coalesce((when(ok, chi2) > lit(3.841458820694124)).cast("long"),
          lit(0L)).as("reject_95"))
    }),

    // ---- Cochran's Q test (beyond reference, r9) ---------------------------
    // m = 3 related binary outcomes per customer block (did they order in
    // 1996 / 1997 / 1998?): does activity propensity DIFFER across the
    // years, accounting for per-customer baseline? Cochran 1950: Q =
    // m(m−1)·Σ(C_j − T/m)² / (m·T − ΣR_i²) against χ²_{m−1}. Kept exact:
    // the numerator scales by m² to the integer Σ(m·C_j − T)², so Q is
    // ONE float division of exact BIGINTs. One orders scan to the
    // (customer × year) flags, two bounded aggregates.
    "q_cochran_q" -> ((s, dir) => {
      val yr = year(to_date(col("o_orderdate")))
      val byCust = t(s, dir, "orders")
        .where(yr.between(1996, 1998))
        .groupBy(col("o_custkey"))
        .agg(max(when(yr === 1996, 1L).otherwise(0L)).as("y1"),
          max(when(yr === 1997, 1L).otherwise(0L)).as("y2"),
          max(when(yr === 1998, 1L).otherwise(0L)).as("y3"))
      val r = col("y1") + col("y2") + col("y3")
      val g = byCust.agg(count(lit(1)).as("n_blocks"),
        sum(col("y1")).as("c1"), sum(col("y2")).as("c2"),
        sum(col("y3")).as("c3"), sum(r).as("t0"), sum(r * r).as("rr"))
      def dev(c: String): Column = lit(3L) * col(c) - col("t0")
      val num = dev("c1") * dev("c1") + dev("c2") * dev("c2") +
        dev("c3") * dev("c3")
      val den = lit(3L) * col("t0") - col("rr")
      // Q = m(m−1)/m² · num / (m·T − ΣR²) = (2/3)·num/den
      val q = lit(2.0) / lit(3.0) * num.cast("double") / den.cast("double")
      g.select(col("n_blocks"), col("c1"), col("c2"), col("c3"),
        when(den > 0L, r6(q)).as("q_stat"),
        coalesce((when(den > 0L, q) > lit(5.991464547107979)).cast("long"),
          lit(0L)).as("reject_95"))
    }),

    // ---- Kendall's W concordance (beyond reference, r9) -------------------
    // Do the three customer value signals — spend, order count, recency —
    // even AGREE on who the best customers are? Kendall's coefficient of
    // concordance over the m = 3 rankings: W = 12S/(m²(n³−n)) with S the
    // variance of rank sums. Exactness: every ranking is a row_number
    // with custkey tie-break, so rank sums are exact integers, and S is
    // kept integer by the scaled identity 4S = Σ(2Rᵢ − m(n+1))² — the
    // whole statistic is ONE float division of exact BIGINT/decimal-38
    // integers. One orders shuffle to the checkpointed customer frame,
    // three [[Ranks.withGlobalRank]] two-level rankings on it (descending
    // = ascending on the negated key; dates negate via datediff from a
    // pinned anchor), one bounded aggregate — no single-partition Window
    // (the r9 swap-in, now code).
    "q_kendall_w" -> ((s, dir) => {
      val cents = ColumnOps.cents(col("o_totalprice"))
      val feats = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("custkey"))
        .agg(sum(cents).as("m"), count(lit(1)).as("f"),
          max(to_date(col("o_orderdate"))).as("last_d"))
      // all three rankings ride ONE batched lane pass (globalRanksOnly —
      // the boundary/offset/window cost is shared and the join back onto
      // feats is skipped: only the rank sum survives)
      val ranked = Ranks.globalRanksOnly(feats,
          Seq(-col("m") -> "rm", -col("f") -> "rf",
            datediff(lit("2000-01-01").cast("date"), col("last_d")) -> "rd"),
          col("custkey"))
        .select(((col("rm") + col("rf") + col("rd"))
          .cast("decimal(38,0)")).as("r_sum"))
      // ONE aggregate pass: expanding the square gives the exact integer
      // identity 4S = Σ(2R−3(n+1))² = 4ΣR² − 12(n+1)ΣR + 9n(n+1)², so n,
      // ΣR and ΣR² reduce in a single map-side-combined aggregate — no
      // n-first second pass, no broadcast attach (r10: was two passes
      // over a checkpointed rank frame)
      val g = ranked.agg(count(lit(1)).as("n"),
        sum(col("r_sum")).as("sr"),
        sum(col("r_sum") * col("r_sum")).as("sr2"))
      val nDec = col("n").cast("decimal(38,0)")
      val s4 = (lit(4).cast("decimal(38,0)") * col("sr2")
        - lit(12).cast("decimal(38,0)") * (nDec + 1) * col("sr")
        + lit(9).cast("decimal(38,0)") * nDec * (nDec + 1) * (nDec + 1))
        .as("s4")
      val nD = col("n").cast("double")
      val w = col("s4").cast("double") /
        (lit(3.0) * (nD * nD * nD - nD))
      g.select(col("n"), s4)
        .select(col("n").as("n_customers"), lit(3L).as("n_rankings"),
          when(col("n") > 1L, r6(w)).as("kendall_w"))
    }),

    // ---- covariate balance table (beyond reference, r9) -------------------
    // The second gate after SRM (Austin 2009): are the arms BALANCED on
    // pre-treatment covariates? Standardized mean difference SMD =
    // (m_a − m_b)/√((v_a + v_b)/2) per covariate, screened at the
    // conventional |SMD| > 0.1. Covariates per user cluster: event
    // volume, purchase share, mean event value — all reduced to exact
    // BIGINT/decimal-38 moments in ONE conditional aggregate after the
    // user-keyed shuffle; each SMD is a closed-form float and the flag
    // compares the r6-rounded value so it cannot flip cross-engine.
    "q_covariate_balance" -> ((s, dir) => {
      val cents = ColumnOps.cents(col("value"))
      val byUser = t(s, dir, "events").groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_ev"),
          sum((col("event_type") === "purchase").cast("long")).as("n_pur"),
          sum(cents).as("cents"))
        .select(arm(col("user_id")).as("g"),
          col("n_ev").cast("double").as("c1"),
          (col("n_pur").cast("double") / col("n_ev").cast("double"))
            .as("c2"),
          (col("cents").cast("double") / col("n_ev").cast("double") /
            lit(100.0)).as("c3"))
      val cov = byUser.select(col("g"),
        explode(array(
          struct(lit("event_volume").as("covariate"), col("c1").as("x")),
          struct(lit("purchase_share").as("covariate"), col("c2").as("x")),
          struct(lit("mean_value").as("covariate"), col("c3").as("x"))))
          .as("cx"))
        .select(col("g"), col("cx.covariate").as("covariate"),
          col("cx.x").as("x"))
      val m = cov.groupBy("covariate").agg(
        count(when(col("g") === 0L, col("x"))).as("na"),
        count(when(col("g") === 1L, col("x"))).as("nb"),
        avg(when(col("g") === 0L, col("x"))).as("ma"),
        avg(when(col("g") === 1L, col("x"))).as("mb"),
        var_samp(when(col("g") === 0L, col("x"))).as("va"),
        var_samp(when(col("g") === 1L, col("x"))).as("vb"))
      val smd = (col("ma") - col("mb")) /
        sqrt((col("va") + col("vb")) / lit(2.0))
      val smdR = when(col("va") + col("vb") > 0, r6(smd))
      m.select(col("covariate"), col("na").as("n_a"), col("nb").as("n_b"),
          r6(col("ma")).as("mean_a"), r6(col("mb")).as("mean_b"),
          smdR.as("smd"),
          coalesce((abs(smdR) > lit(0.1)).cast("long"), lit(0L))
            .as("imbalanced"))
        .orderBy("covariate")
    }),

    // ---- sample-ratio mismatch guardrail (beyond reference, r9) -----------
    // The first gate every experiment readout must pass (Fabijan et al.
    // 2019: SRM is the most common silent invalidator): are the arm
    // sizes consistent with the designed 50/50 split? One-df chi-square
    // (n_a − n_b)²/(n_a + n_b) against the 0.001-level critical value
    // 10.828 — SRM alarms demand a far stricter level than effect tests
    // because a true mismatch voids everything downstream. Counts are
    // the q_ab_ttest user-cluster md5 arms; one scan → two BIGINTs.
    "q_ab_srm" -> ((s, dir) => {
      val g = t(s, dir, "events").groupBy(col("user_id")).agg(lit(1).as("one"))
        .select(arm(col("user_id")).as("g"))
        .agg(sum(when(col("g") === 0L, 1L).otherwise(0L)).as("na"),
          sum(when(col("g") === 1L, 1L).otherwise(0L)).as("nb"))
      val d = (col("na") - col("nb")).cast("double")
      val chi2 = d * d / (col("na") + col("nb")).cast("double")
      g.select(col("na").as("n_a"), col("nb").as("n_b"),
        r6(chi2).as("chi2"),
        (chi2 > lit(10.827566170662733)).cast("long").as("srm_alarm"))
    }),

    // ---- capture–recapture population estimate (beyond ref, r9) -----------
    // Chapman's bias-corrected Lincoln–Petersen estimator (1951) — the
    // ecology tool data teams reuse to size a population no single
    // system sees completely (how many total users exist, given two
    // partial "captures"?). The captures must be PARTIAL to be a real
    // test, so each is a deterministic event subsample: capture 1 =
    // users with a view event whose id ≡ 0 (mod 7), capture 2 = users
    // with a click event whose id ≡ 0 (mod 5). NOTE the estimator's
    // equal-catchability assumption is only APPROXIMATED here: both
    // indicators condition on a user having events at all, so
    // heterogeneous per-user activity induces positive capture
    // correlation and biases N̂ low — on a sufficiently skewed corpus
    // covers_truth can legitimately read 0, which is itself the
    // methodological lesson the query teaches. Chapman's
    // N̂ = (n₁+1)(n₂+1)/(m+1) − 1 with the Seber variance is checked
    // against the KNOWN distinct-user truth. One scan
    // reduces to three exact BIGINTs via the two-flag user frame;
    // everything after is closed-form float over them.
    "q_capture_recapture" -> ((s, dir) => {
      val byUser = t(s, dir, "events").groupBy(col("user_id"))
        .agg(max((col("event_type") === "view" &&
            col("event_id") % 7L === 0L).cast("long")).as("c1"),
          max((col("event_type") === "click" &&
            col("event_id") % 5L === 0L).cast("long")).as("c2"))
      val g = byUser.agg(count(lit(1)).as("n_true"),
        sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
        sum(col("c1") * col("c2")).as("m"))
      val n1 = col("n1").cast("double")
      val n2 = col("n2").cast("double")
      val m = col("m").cast("double")
      val nHat = (n1 + lit(1.0)) * (n2 + lit(1.0)) / (m + lit(1.0)) -
        lit(1.0)
      val varHat = (n1 + lit(1.0)) * (n2 + lit(1.0)) * (n1 - m) *
        (n2 - m) / ((m + lit(1.0)) * (m + lit(1.0)) * (m + lit(2.0)))
      val se = sqrt(varHat)
      val ok = col("m") > 0L
      g.select(col("n_true"), col("n1"), col("n2"), col("m"),
        when(ok, r2(nHat)).as("n_hat"),
        when(ok, r2(se)).as("se"),
        coalesce((when(ok, abs(nHat - col("n_true").cast("double"))) <=
          lit(1.959963984540054) * se).cast("long"), lit(0L))
          .as("covers_truth"))
    }),

    // ---- jackknife ratio SE (beyond reference, r9) -------------------------
    // The resampling cross-check for q_delta_method's analytic variance:
    // leave-one-cluster-out pseudo-values for the purchase-per-view ratio
    // have the CLOSED FORM R₍₋ᵢ₎ = (ΣX − xᵢ)/(ΣY − yᵢ) — so the "n
    // resamples" collapse into one projection over the user frame (no
    // replicate explosion, the Tukey 1958 estimator at zero extra
    // passes). Cross-engine exactness: each pseudo-value quantizes to
    // integer micro-units ONCE (one deterministic division per user —
    // the q_entropy_rate discipline), so Σ and Σ² are exact
    // BIGINT/decimal-38 and the jackknife SE √((n−1)/n · Σ(v−v̄)²) is a
    // closed-form float over exact integers. One user-keyed shuffle; the
    // totals attach as a broadcast 1-row aggregate.
    "q_jackknife" -> ((s, dir) => {
      val cents = ColumnOps.cents(col("value"))
      val byUser = t(s, dir, "events").groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase", cents)
          .otherwise(0L)).as("x"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("y"))
      val tot = byUser.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"))
      val loo = (col("sx") - col("x")).cast("double") /
        (col("sy") - col("y")).cast("double")
      val micro = floor(loo * lit(1000000.0)).cast("long")
      val g = byUser.crossJoin(broadcast(tot))
        .where(col("sy") - col("y") > 0L)
        .select(col("n"), col("sx"), col("sy"), micro.as("v"))
        .groupBy("n", "sx", "sy")
        .agg(count(lit(1)).as("n_used"), sum(col("v")).as("sv"),
          sum(col("v").cast("decimal(38,0)") * col("v")).as("svv"))
      val nD = col("n_used").cast("double")
      val meanV = col("sv").cast("double") / nD
      // greatest(…, 0): pseudo-value spread can round negative when every
      // leave-one-out replicate agrees (r10 sweep; mirrored in the oracle)
      val ssq = greatest(col("svv").cast("double") -
        col("sv").cast("double") * col("sv").cast("double") / nD, lit(0.0))
      val jkSe = sqrt((nD - lit(1.0)) / nD * ssq) / lit(1000000.0)
      g.select(col("n").as("n_users"), col("n_used"),
        r6(col("sx").cast("double") / col("sy").cast("double"))
          .as("ratio_cents_per_view"),
        r6(meanV / lit(1000000.0)).as("jk_mean"),
        r6(jkSe).as("jk_se"))
    }),

    // ---- group-sequential monitoring (beyond reference, r9) ---------------
    // The "peeking problem" answer q_ab_ttest leaves open: five interim
    // looks at the experiment (6-day calendar strides) tested against
    // O'Brien–Fleming boundaries (1979; the classic monotone-spending
    // schedule 4.877/3.357/2.680/2.290/2.031 for 5 equally-spaced looks
    // at overall α = 0.05) — early looks demand overwhelming evidence,
    // the final look spends almost the full α. Scale shape: each
    // purchase explodes into the looks whose windows contain it
    // (≤5×, partial-aggregated), user-cluster totals per look (the
    // q_ab_ttest randomization unit), then per-(look, arm) exact
    // BIGINT/decimal-38 moments reduce to a 5-row frame; Welch z per
    // look is a closed-form float sequence and the reject flag compares
    // the raw z against the literal boundary (identical doubles both
    // engines).
    "q_group_sequential" -> ((s, dir) => {
      val cuts = Seq("2024-01-07", "2024-01-13", "2024-01-19", "2024-01-25")
      val bounds = Seq(4.877, 3.357, 2.680, 2.290, 2.031)
      val cents = ColumnOps.cents(col("value"))
      val lookIdx = cuts.zipWithIndex.foldRight(lit(5L)) {
        case ((d, i), rest) =>
          when(to_date(col("ts")) < lit(d).cast("date"), (i + 1).toLong)
            .otherwise(rest)
      }
      val byUserLook = t(s, dir, "events")
        .where(col("event_type") === "purchase")
        .select(col("user_id"), cents.as("c"),
          explode(sequence(lookIdx, lit(5L))).as("look"))
        .groupBy("look", "user_id").agg(sum(col("c")).as("x"))
        .select(col("look"), arm(col("user_id")).as("g"), col("x"),
          col("x").cast("decimal(38,0)").as("xd"))
      val m = byUserLook.groupBy("look").agg(
        sum(when(col("g") === 0L, 1L).otherwise(0L)).as("na"),
        sum(when(col("g") === 1L, 1L).otherwise(0L)).as("nb"),
        sum(when(col("g") === 0L, col("x")).otherwise(0L)).as("sa"),
        sum(when(col("g") === 1L, col("x")).otherwise(0L)).as("sb"),
        sum(when(col("g") === 0L, col("xd") * col("xd")).otherwise(lit(0)))
          .as("qa"),
        sum(when(col("g") === 1L, col("xd") * col("xd")).otherwise(lit(0)))
          .as("qb"))
      def mean(s0: String, n: String): Column =
        col(s0).cast("double") / col(n).cast("double")
      // greatest(…, 0) on the raw moment difference: a constant-valued arm
      // rounds a hair negative in double and would reach the sqrt (r10
      // sweep; mirrored GREATEST in the oracle)
      def vr(q: String, s0: String, n: String): Column =
        greatest(col(q).cast("double") - col(s0).cast("double") *
          col(s0).cast("double") / col(n).cast("double"), lit(0.0)) /
          (col(n).cast("double") - lit(1.0))
      // try_divide: two constant arms give a clamped-to-0 variance sum,
      // where DuckDB's plain / NULLs and Spark 4 ANSI hard-errors
      val z = try_divide(mean("sa", "na") - mean("sb", "nb"),
        sqrt(vr("qa", "sa", "na") / col("na").cast("double") +
          vr("qb", "sb", "nb") / col("nb").cast("double")))
      val boundary = bounds.zipWithIndex.foldRight(lit(bounds.last)) {
        case ((b, i), rest) =>
          when(col("look") === (i + 1).toLong, b).otherwise(rest)
      }
      val ok = col("na") > 1L && col("nb") > 1L
      m.select(col("look"), col("na").as("n_a"), col("nb").as("n_b"),
          when(ok, r6(z)).as("z_stat"), boundary.as("obf_boundary"),
          coalesce((when(ok, abs(z)) > boundary).cast("long"), lit(0L))
            .as("crosses"))
        .orderBy("look")
    }),

    // ---- trimmed + winsorized mean (beyond reference, r9) -----------------
    // The robust-location pair beside q_mad_outliers' robust spread: the
    // 5%-trimmed mean (drop the tails) and the 5%-winsorized mean (clamp
    // the tails to the cut values) of per-customer spend, with the raw
    // mean for contrast — how much of the average is outlier influence.
    // Exactness: spend is integer cents; the trim boundaries are exact
    // rank cuts (row_number over (spend, custkey) — deterministic ties),
    // the trimmed sum is an exact BIGINT, and the winsorized sum replaces
    // each tail row with the exact boundary value — every output float
    // is ONE division of exact integers. Scale shape: one orders scan to
    // the checkpointed customer frame; the rank comes from
    // [[Ranks.withGlobalRank]]'s two-level bucket pattern and the row
    // count broadcasts back from a 1-row aggregate — no single-partition
    // Window (the r9 swap-in, now code).
    "q_trimmed_mean" -> ((s, dir) => {
      val cents = ColumnOps.cents(col("o_totalprice"))
      val feats = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("custkey"))
        .agg(sum(cents).as("m"))
        .localCheckpoint()
      val nRow = feats.agg(count(lit(1)).as("n"))
      val ranked = Ranks.withGlobalRank(feats, col("m"), col("custkey"), "r")
        .crossJoin(broadcast(nRow))
        .select(col("m"), col("r"), col("n"))
      val lo = floor(col("n") * 5L / lit(100.0)).cast("long") + 1L // first kept
      val hi = col("n") - floor(col("n") * 5L / lit(100.0)).cast("long") // last kept
      val g = ranked.agg(
        max(col("n")).as("n_customers"),
        sum(col("m")).as("sum_all"),
        sum(when(col("r") >= lo && col("r") <= hi, col("m"))
          .otherwise(0L)).as("sum_trim"),
        sum(when(col("r") >= lo && col("r") <= hi, 1L).otherwise(0L))
          .as("n_trim"),
        max(when(col("r") === lo, col("m"))).as("lo_cut"),
        max(when(col("r") === hi, col("m"))).as("hi_cut"))
      // lo/hi re-derived from n_customers on the 1-row frame
      val loG = floor(col("n_customers") * 5L / lit(100.0)).cast("long") + 1L
      val hiG = col("n_customers") -
        floor(col("n_customers") * 5L / lit(100.0)).cast("long")
      val winsSumG = col("sum_trim") + col("lo_cut") * (loG - 1L) +
        col("hi_cut") * (col("n_customers") - hiG)
      g.select(col("n_customers"), col("n_trim"),
        r2(col("sum_all").cast("double") / col("n_customers") / lit(100.0))
          .as("raw_mean"),
        r2(col("sum_trim").cast("double") / col("n_trim") / lit(100.0))
          .as("trimmed_mean"),
        r2(winsSumG.cast("double") / col("n_customers") / lit(100.0))
          .as("winsorized_mean"))
    }),

    // ---- delta-method ratio-metric test (beyond reference, r9) ------------
    // The experimentation-platform workhorse q_ab_ttest cannot give:
    // inference on a RATIO metric (purchase cents per view) whose
    // numerator and denominator are correlated within the randomization
    // unit (Deng et al., KDD 2018's practical guide). Per user-cluster
    // totals (x = purchase cents, y = views), per arm R = Σx/Σy and the
    // delta-method variance Var(R) ≈ (s_x² + R²·s_y² − 2R·s_xy)/(n·ȳ²);
    // z on the arm difference. Scale shape: one user-keyed shuffle
    // (map-side combined) to the cluster frame, then SIX exact integer
    // moments per arm in one conditional aggregate — cents in BIGINT,
    // squares in decimal-38 — and the whole inference is a closed-form
    // float sequence over one 1-row frame. The md5 arm split is the
    // q_ab_ttest unit-of-randomization discipline.
    "q_delta_method" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val cents = ColumnOps.cents(col("value"))
      val byUser = ev.groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase", cents)
          .otherwise(0L)).as("x"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("y"))
        .select(arm(col("user_id")).as("g"), col("x"), col("y"))
      val xd = col("x").cast("decimal(38,0)")
      val yd = col("y").cast("decimal(38,0)")
      val gagg = byUser.agg(
        sum(when(col("g") === 0L, 1L).otherwise(0L)).as("na"),
        sum(when(col("g") === 1L, 1L).otherwise(0L)).as("nb"),
        sum(when(col("g") === 0L, col("x")).otherwise(0L)).as("sxa"),
        sum(when(col("g") === 1L, col("x")).otherwise(0L)).as("sxb"),
        sum(when(col("g") === 0L, col("y")).otherwise(0L)).as("sya"),
        sum(when(col("g") === 1L, col("y")).otherwise(0L)).as("syb"),
        sum(when(col("g") === 0L, xd * xd).otherwise(lit(0))).as("sxxa"),
        sum(when(col("g") === 1L, xd * xd).otherwise(lit(0))).as("sxxb"),
        sum(when(col("g") === 0L, yd * yd).otherwise(lit(0))).as("syya"),
        sum(when(col("g") === 1L, yd * yd).otherwise(lit(0))).as("syyb"),
        sum(when(col("g") === 0L, xd * yd).otherwise(lit(0))).as("sxya"),
        sum(when(col("g") === 1L, xd * yd).otherwise(lit(0))).as("sxyb"))
      def ratio(sx: String, sy: String): Column =
        col(sx).cast("double") / col(sy).cast("double")
      def dvar(n: String, sx: String, sy: String, sxx: String, syy: String,
          sxy: String): Column = {
        val nD = col(n).cast("double")
        val r = ratio(sx, sy)
        val ybar = col(sy).cast("double") / nD
        val vx = (col(sxx).cast("double") - col(sx).cast("double") *
          col(sx).cast("double") / nD) / (nD - lit(1.0))
        val vy = (col(syy).cast("double") - col(sy).cast("double") *
          col(sy).cast("double") / nD) / (nD - lit(1.0))
        val cxy = (col(sxy).cast("double") - col(sx).cast("double") *
          col(sy).cast("double") / nD) / (nD - lit(1.0))
        (vx + r * r * vy - lit(2.0) * r * cxy) / (nD * (ybar * ybar))
      }
      val va = dvar("na", "sxa", "sya", "sxxa", "syya", "sxya")
      val vb = dvar("nb", "sxb", "syb", "sxxb", "syyb", "sxyb")
      val ok = col("na") > 1L && col("nb") > 1L && col("sya") > 0L &&
        col("syb") > 0L
      // greatest(…, 0): the delta-method variance is an approximation
      // whose float sequence can dip below zero on near-constant arms —
      // a negative sum would reach the sqrt; try_divide because the
      // clamped-to-0 denominator NULLs on DuckDB but hard-errors under
      // Spark 4 ANSI (r10 sweep; mirrored in the oracle)
      val z = try_divide(ratio("sxa", "sya") - ratio("sxb", "syb"),
        sqrt(greatest(va + vb, lit(0.0))))
      gagg.select(col("na").as("n_a"), col("nb").as("n_b"),
        when(ok, r6(ratio("sxa", "sya"))).as("ratio_a"),
        when(ok, r6(ratio("sxb", "syb"))).as("ratio_b"),
        when(ok, r6(z)).as("z_stat"),
        coalesce((when(ok, abs(z)) > lit(1.959963984540054)).cast("long"),
          lit(0L)).as("reject_95"))
    }),

    // ---- Mahalanobis multivariate outliers (beyond reference, r9) ---------
    // The correlation-aware upgrade of q_mad_outliers / per-feature z:
    // d²(x) = (x−μ)ᵀ Σ⁻¹ (x−μ) over the per-customer (order count, total
    // spend) plane — a customer can be unremarkable on each axis yet far
    // off the joint ellipse, which is exactly what univariate screens
    // miss. Scale shape: one orders scan partial-aggregates to the
    // customer frame; the five exact moment integers (BIGINT/decimal-38)
    // reduce to ONE broadcast row; scoring is a shuffle-free projection
    // (μ, Σ⁻¹ enter as the same closed-form doubles on both engines —
    // 2×2 inverse is exact algebra, no linear-algebra library). Flag at
    // the χ²₂ 95% line (5.991) on the ROUNDED d² so it cannot flip
    // cross-engine. Top-20 by (d², custkey) keeps output bounded.
    "q_mahalanobis" -> ((s, dir) => {
      val cents = ColumnOps.cents(col("o_totalprice"))
      val feats = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("custkey"))
        .agg(count(lit(1)).as("f"), sum(cents).as("m"))
      val fd = col("f").cast("decimal(38,0)")
      val md = col("m").cast("decimal(38,0)")
      val g = feats.agg(count(lit(1)).as("n"),
        sum(col("f")).as("sf0"), sum(col("m")).as("sm"),
        sum(fd * fd).as("sff"), sum(md * md).as("smm"),
        sum(fd * md).as("sfm"))
      val nD = col("n").cast("double")
      val muF = col("sf0").cast("double") / nD
      val muM = col("sm").cast("double") / nD
      val cff = col("sff").cast("double") / nD - muF * muF
      val cmm = col("smm").cast("double") / nD - muM * muM
      val cfm = col("sfm").cast("double") / nD - muF * muM
      val det = cff * cmm - cfm * cfm
      val stats = g.select(col("n"), muF.as("mu_f"), muM.as("mu_m"),
        cff.as("cff"), cmm.as("cmm"), cfm.as("cfm"), det.as("det"))
      val dx = col("f").cast("double") - col("mu_f")
      val dy = col("m").cast("double") - col("mu_m")
      val d2 = (dx * (col("cmm") * dx - col("cfm") * dy) +
        dy * (col("cff") * dy - col("cfm") * dx)) / col("det")
      val d2r = when(col("det") > 0, r6(d2))
      feats.crossJoin(broadcast(stats))
        .select(col("custkey"), col("f").as("n_orders"),
          col("m").as("spend_cents"), d2r.as("d2"),
          coalesce((d2r > lit(5.991464547107979)).cast("long"), lit(0L))
            .as("is_outlier"))
        .orderBy(col("d2").desc, col("custkey"))
        .limit(20)
        .orderBy(col("d2").desc, col("custkey"))
    }),

    // ---- Fisher's exact test (beyond reference, round 9) ------------------
    // The small-sample 2×2 independence test the asymptotic q_chi_square /
    // q_prop_ztest CANNOT give: the exact two-sided p — Σ P(table) over
    // all tables with the observed margins whose hypergeometric
    // probability ≤ the observed one (the standard "sum of at-most-as-
    // likely tables" definition, with R's 1e-7 relative slack on the
    // comparison so a ±1-ulp ln() difference can never flip a table in or
    // out). Fisher is a SMALL-SAMPLE test by nature, so the input is a
    // bounded id-prefix sample (o_orderkey ≤ 300 — the q_knn_eval "eval
    // sets are fixed-size" stance): at ANY corpus scale the enumeration
    // support and the ln-factorial table stay ≤ n+1 ≤ 302 rows. All
    // counts exact BIGINT off one pushed-down scan; ln k! is an ordered
    // cumulative sum over the bounded k-frame (identical accumulation
    // order both engines); every probability is the same closed-form
    // sequence over those table values; the ≤302-term p accumulation is
    // absorbed by r6 (the q_js_divergence discipline).
    "q_fisher_exact" -> ((s, dir) => {
      val urgent = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      val hv = col("o_totalprice") > 240000.0
      val m = t(s, dir, "orders").where(col("o_orderkey") <= 300L)
        .agg(
          sum(when(urgent && hv, 1L).otherwise(0L)).as("a"),
          sum(when(urgent && !hv, 1L).otherwise(0L)).as("b"),
          sum(when(!urgent && hv, 1L).otherwise(0L)).as("c"),
          sum(when(!urgent && !hv, 1L).otherwise(0L)).as("d"))
        .select(col("a"), col("b"), col("c"), col("d"),
          (col("a") + col("b")).as("r1"), (col("a") + col("c")).as("c1"),
          (col("a") + col("b") + col("c") + col("d")).as("n"))
        // localCheckpoint, not cache: m feeds lf plus 1 join and lf is
        // broadcast 10 times — checkpointing cuts the lineage so the
        // orders scan runs ONCE, and the blocks land in the same
        // releaseAll/releaseCheckpoint sweep discipline as the graph ops
        // (a bare .cache() here leaked blocks across the 250+-query
        // driver pass until the session-level sweep)
        .localCheckpoint()
      val lf = m.select(explode(sequence(lit(0L), col("n"))).as("k"))
        .select(col("k"),
          sum(when(col("k") > 1L, log(col("k").cast("double")))
            .otherwise(lit(0.0)))
            .over(BoundedWindow.ordered(col("k"), col("k"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("lf"))
        .localCheckpoint()
      def lfAt(df: DataFrame, key: Column, out: String): DataFrame =
        df.join(broadcast(lf.select(col("k").as(out + "_k"),
          col("lf").as(out))), key === col(out + "_k")).drop(out + "_k")
      val withConst = lfAt(lfAt(lfAt(lfAt(lfAt(m, col("r1"), "lr1"),
        col("n") - col("r1"), "lnr1"), col("c1"), "lc1"),
        col("n") - col("c1"), "lnc1"), col("n"), "lnn")
      val en = withConst.select(col("a"), col("b"), col("c"), col("d"),
        col("r1"), col("c1"), col("n"),
        (col("lr1") + col("lnr1") + col("lc1") + col("lnc1") - col("lnn"))
          .as("lconst"),
        explode(sequence(greatest(lit(0L), col("r1") + col("c1") - col("n")),
          least(col("r1"), col("c1")))).as("t"))
      val scored = lfAt(lfAt(lfAt(lfAt(en, col("t"), "lt"),
        col("r1") - col("t"), "lrt"), col("c1") - col("t"), "lct"),
        col("n") - col("r1") - col("c1") + col("t"), "lnt")
        .select(col("a"), col("b"), col("c"), col("d"), col("n"), col("t"),
          (col("lconst") - col("lt") - col("lrt") - col("lct") - col("lnt"))
            .as("lp"))
      val obs = scored.where(col("t") === col("a"))
        .select(col("lp").as("lp_obs"))
      val g = scored.crossJoin(broadcast(obs)).agg(
        max(col("a")).as("a"), max(col("b")).as("b"),
        max(col("c")).as("c"), max(col("d")).as("d"),
        max(col("n")).as("n_sample"),
        sum(when(col("lp") <= col("lp_obs") + lit(1.0e-7), exp(col("lp")))
          .otherwise(0.0)).as("p0"))
      val pv = r6(least(col("p0"), lit(1.0)))
      g.select(col("a"), col("b"), col("c"), col("d"), col("n_sample"),
        pv.as("p_value"),
        when(col("b") > 0 && col("c") > 0,
          r6((col("a") * col("d")).cast("double") /
            (col("b") * col("c")).cast("double"))).as("odds_ratio"),
        (pv < 0.05).cast("long").as("reject_05"))
    }),

    // ---- Cramér–von Mises two-sample test (beyond reference, r10) ---------
    // The integrated-ECDF-distance companion to q_ks_test's sup-distance:
    // CvM weighs the WHOLE distribution gap, so a spread difference that
    // never produces one big ECDF step (invisible to KS) still registers.
    // Anderson (1962) rank form over per-customer spend split by the md5
    // arm: with combined ranks r and within-sample indexes i,
    // U = n·Σ_a(r−i)² + m·Σ_b(r−i)², T = U/(nmN) − (4nm−1)/(6N). U is an
    // EXACT integer — the entire test reduces to integer rank algebra +
    // two final float ops (the q_kendall_w discipline). Both rankings
    // ride ONE batched [[Ranks.globalRanksOnly]] lane pass: lane 1 is
    // the combined (spend, custkey) order, lane 2 the arm-major
    // (arm·2⁴² + spend) order, whose within-arm index is lane-2 rank
    // minus a broadcast arm offset — no per-arm window (2 partitions
    // would be the skew trap at scale), no single-partition stage.
    // Ties break by custkey identically on both engines (documented
    // operator convention; spend cents make real ties rare).
    "q_cramer_von_mises" -> ((s, dir) => {
      val cents = ColumnOps.cents(col("o_totalprice"))
      val per = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("custkey"))
        .agg(sum(cents).as("v"))
        .select(col("custkey"), col("v"), arm(col("custkey")).as("g"))
        .localCheckpoint()
      // arm-major composite key: g·2⁴⁴ + v keeps both parts double-exact
      // (per-customer cents ≪ 2⁴⁴ at any realistic scale; the sum < 2⁴⁵)
      val ranked = Ranks.globalRanksOnly(per,
          Seq(col("v") -> "r",
            (col("g") * lit(1L << 44) + col("v")) -> "q"),
          col("custkey"))
        .withColumnRenamed("__rk_t", "custkey")
      val counts = per.agg(
        sum(when(col("g") === 0L, 1L).otherwise(0L)).as("na"),
        sum(when(col("g") === 1L, 1L).otherwise(0L)).as("nb"))
      val joined = per.join(ranked, "custkey")
      val d = col("r") - (col("q") - when(col("g") === 1L, col("na"))
        .otherwise(0L))
      val u = joined.crossJoin(broadcast(counts))
        .select(col("na"), col("nb"), col("g"),
          (d.cast("decimal(38,0)") * d.cast("decimal(38,0)")).as("d2"))
        .groupBy("na", "nb")
        .agg(sum(when(col("g") === 0L, col("d2"))).as("sa"),
          sum(when(col("g") === 1L, col("d2"))).as("sb"))
      val naD = col("na").cast("double"); val nbD = col("nb").cast("double")
      val nD = naD + nbD
      val uVal = col("na").cast("decimal(38,0)") * col("sa") +
        col("nb").cast("decimal(38,0)") * col("sb")
      val tStat = try_divide(uVal.cast("double"), naD * nbD * nD) -
        (lit(4.0) * naD * nbD - 1) / (lit(6.0) * nD)
      u.select(col("na").as("n_a"), col("nb").as("n_b"),
        r6(tStat).as("cvm_t"),
        coalesce((r6(tStat) > lit(0.461)).cast("long"), lit(0L))
          .as("reject_05"))
    }),

    // ---- G-test of independence (beyond reference, r10) -------------------
    // The likelihood-ratio twin of q_chi_square over the SAME
    // (priority × status) contingency: G = 2·Σ O·ln(O/E). Preferred over
    // Pearson when any O/E is far from 1 (ln handles big ratios where
    // (O−E)² explodes) and is additive across table partitions. O, E's
    // numerator rt·ct and n are exact integers; each cell's term is ln of
    // a ratio of exact integers (O ≥ 1 structurally — cells come from
    // groupBy — so ln is safe), the ≤15-cell sum follows q_chi_square's
    // precedent (r4 absorbs tiny-frame reorder), and the reject flag
    // compares the ROUNDED statistic so it cannot flip cross-engine.
    "q_g_test" -> ((s, dir) => {
      val cont = contingency(t(s, dir, "orders"))
      val term = lit(2.0) * col("c").cast("double") *
        log(col("c").cast("double") * col("n").cast("double") /
          (col("rt").cast("double") * col("ct").cast("double")))
      val g = cont.agg(
        max(col("n")).as("nn"),
        count(lit(1)).as("n_cells"),
        sum(when(col("rnx") === 1, 1L).otherwise(0L)).as("r"),
        sum(when(col("rny") === 1, 1L).otherwise(0L)).as("cc"),
        sum(term).as("g0"))
      val gR = r4(col("g0"))
      g.select(col("nn").as("n"), col("n_cells"),
        gR.as("g_stat"),
        ((col("r") - 1) * (col("cc") - 1)).cast("long").as("dof"),
        (gR > lit(20.09)).cast("long").as("reject_99"))
    }),

    // ---- odds ratio + Woolf CI (beyond reference, r10) --------------------
    // The effect-size readout q_chi_square/q_fisher_exact only imply:
    // OR = ad/bc over the full-corpus urgent × high-value 2×2 with
    // Woolf's (1955) log-normal CI exp(ln OR ± 1.96·√(1/a+1/b+1/c+1/d)).
    // Counts exact BIGINT off one pushed-down scan; a zero cell abstains
    // the OR and CI with NULL on both engines (the documented alternative
    // is Haldane's +0.5 — abstention keeps the estimator unbiased where
    // it exists). Flag: CI excludes 1 ⇔ association at 5%.
    "q_odds_ratio" -> ((s, dir) => {
      val urgent = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      val hv = col("o_totalprice") > 240000.0
      val m = t(s, dir, "orders").agg(
        sum(when(urgent && hv, 1L).otherwise(0L)).as("a"),
        sum(when(urgent && !hv, 1L).otherwise(0L)).as("b"),
        sum(when(!urgent && hv, 1L).otherwise(0L)).as("c"),
        sum(when(!urgent && !hv, 1L).otherwise(0L)).as("d"))
      val ok = col("a") > 0L && col("b") > 0L && col("c") > 0L &&
        col("d") > 0L
      val or = (col("a") * col("d")).cast("double") /
        (col("b") * col("c")).cast("double")
      val se = sqrt(lit(1.0) / col("a") + lit(1.0) / col("b") +
        lit(1.0) / col("c") + lit(1.0) / col("d"))
      val lo = exp(log(or) - lit(1.959963984540054) * se)
      val hi = exp(log(or) + lit(1.959963984540054) * se)
      m.select(col("a"), col("b"), col("c"), col("d"),
        when(ok, r6(or)).as("odds_ratio"),
        when(ok, r6(lo)).as("ci_lo"),
        when(ok, r6(hi)).as("ci_hi"),
        coalesce((when(ok, lo) > 1.0 || when(ok, hi) < 1.0).cast("long"),
          lit(0L)).as("assoc_05"))
    }),

    // ---- Cochran–Mantel–Haenszel stratified 2×2 test (r11) ----------------
    // The inferential completion of q_simpsons_paradox: that audit FLAGS a
    // sign flip across segment strata; CMH (Cochran 1954, Mantel &
    // Haenszel 1959) is what you compute once strata exist — the common
    // odds ratio ORmh = Σ(aᵏdᵏ/nᵏ)/Σ(bᵏcᵏ/nᵏ) and the continuity-free
    // χ² = (Σaᵏ − ΣEᵏ)²/ΣVᵏ with Eᵏ = r₁c₁/n, Vᵏ = r₁r₀c₁c₀/(n²(n−1)),
    // testing urgency × high-value association WITHIN segments (the pooled
    // q_chi_square is confounded by exactly what Simpson's audit detects).
    // Same cell build as the audit: one orders scan, BROADCAST segment
    // dim, partial-agg to the ≤|segments| stratum frame — a, b, c, d exact
    // BIGINT. Per-stratum E/V/OR terms are closed-form floats of those
    // integers (products in DOUBLE: r₁r₀c₁c₀ exceeds BIGINT one scale-up);
    // the cross-stratum sums ride the ORDERED cumulative window over the
    // bounded frame (the q_survival ln_s discipline — identical float
    // sequence both engines, parity structural, not rounded away).
    // Degenerate strata (n < 2) contribute zero V on both sides via the
    // guard; an all-zero ΣV abstains the statistic with NULL (§2.13).
    "q_cmh" -> ((s, dir) => {
      val urgent = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      val hv = col("o_totalprice") > 240000.0
      val cells = t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(sum(when(urgent && hv, 1L).otherwise(0L)).as("a"),
          sum(when(urgent && !hv, 1L).otherwise(0L)).as("b"),
          sum(when(!urgent && hv, 1L).otherwise(0L)).as("c"),
          sum(when(!urgent && !hv, 1L).otherwise(0L)).as("d"))
      val n = (col("a") + col("b") + col("c") + col("d")).cast("double")
      val r1 = (col("a") + col("b")).cast("double")
      val r0 = (col("c") + col("d")).cast("double")
      val c1 = (col("a") + col("c")).cast("double")
      val c0 = (col("b") + col("d")).cast("double")
      val terms = cells.select(col("segment"), col("a"),
        (r1 * c1 / n).as("e_a"),
        when(n > 1.0, r1 * r0 * c1 * c0 / (n * n * (n - 1.0)))
          .otherwise(lit(0.0)).as("v_a"),
        (col("a").cast("double") * col("d").cast("double") / n).as("ad_n"),
        (col("b").cast("double") * col("c").cast("double") / n).as("bc_n"))
      val wCum = BoundedWindow.ordered(col("segment"), col("segment"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = BoundedWindow.whole(col("segment"))
      val acc = terms.select(
        count(lit(1)).over(wAll).as("n_strata"),
        row_number().over(BoundedWindow.ordered(col("segment"),
          col("segment"))).as("rn"),
        sum(col("a")).over(wCum).as("sa"),
        sum(col("e_a")).over(wCum).as("se"),
        sum(col("v_a")).over(wCum).as("sv"),
        sum(col("ad_n")).over(wCum).as("s_ad"),
        sum(col("bc_n")).over(wCum).as("s_bc"))
        .where(col("rn") === col("n_strata"))
      val dev = col("sa").cast("double") - col("se")
      val chi2 = r4(when(col("sv") > 0.0, dev * dev / col("sv")))
      acc.select(col("n_strata").cast("long").as("n_strata"),
        col("sa").cast("long").as("sum_a"), r6(col("se")).as("sum_e"),
        r6(col("sv")).as("sum_v"), chi2.as("cmh_chi2"),
        r6(try_divide(col("s_ad"), col("s_bc"))).as("or_mh"),
        coalesce((chi2 > lit(3.8415)).cast("long"), lit(0L)).as("reject_95"))
    }),

    // ---- two-sample Poisson rate test (beyond reference, r10) -------------
    // "Does arm A purchase at a higher RATE than arm B?" — the count-data
    // test the t-test family misfits (purchases per user are small
    // integers, not normal): per-arm event count k over exposure t =
    // users in the arm, Wald z = (λ̂₁−λ̂₂)/√(λ̂₁/t₁ + λ̂₂/t₂) on the md5
    // hash split (an A/A by construction — the honest calibration: the
    // true rate difference is 0). One user-keyed shuffle to the cluster
    // frame, one conditional aggregate to FOUR exact BIGINTs; everything
    // after is a closed-form float sequence. Zero-event arms abstain via
    // try_divide (the variance is 0 there).
    "q_poisson_rate" -> ((s, dir) => {
      val byUser = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(sum((col("event_type") === "purchase").cast("long")).as("k"))
        .select(arm(col("user_id")).as("g"), col("k"))
      val m = byUser.agg(
        sum(when(col("g") === 0L, 1L).otherwise(0L)).as("t1"),
        sum(when(col("g") === 1L, 1L).otherwise(0L)).as("t2"),
        sum(when(col("g") === 0L, col("k")).otherwise(0L)).as("k1"),
        sum(when(col("g") === 1L, col("k")).otherwise(0L)).as("k2"))
      val l1 = try_divide(col("k1").cast("double"), col("t1").cast("double"))
      val l2 = try_divide(col("k2").cast("double"), col("t2").cast("double"))
      val z = try_divide(l1 - l2,
        sqrt(try_divide(l1, col("t1").cast("double")) +
          try_divide(l2, col("t2").cast("double"))))
      m.select(col("k1"), col("t1"), col("k2"), col("t2"),
        r6(l1).as("rate_a"), r6(l2).as("rate_b"),
        r6(z).as("z_stat"),
        coalesce((abs(z) > lit(1.959963984540054)).cast("long"), lit(0L))
          .as("reject_95"))
    }),

    // ---- Poisson dispersion index (r11) ------------------------------------
    // The model check BEHIND q_poisson_rate's Wald z: that test assumes
    // arrivals are Poisson (variance = mean); the index of dispersion
    // D = s²/x̄ over per-user purchase counts measures whether they are
    // (Fisher 1950 — D·(n−1) ~ χ²ₙ₋₁ under the null, normal-approximated
    // as z = (D−1)·√((n−1)/2) at these n). Overdispersion (D ≫ 1,
    // clumpy users) is the usual finding and invalidates equal-variance
    // assumptions downstream. One user-keyed shuffle to counts, one
    // aggregate to exact BIGINTs (Σk, Σk² in decimal); D, z are a
    // closed-form float sequence; n ≤ 1 or x̄ = 0 abstains NULL.
    "q_dispersion" -> ((s, dir) => {
      val byUser = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(sum((col("event_type") === "purchase").cast("long")).as("k"))
      val m = byUser.agg(count(lit(1)).as("n"), sum(col("k")).as("sk"),
        sum(col("k").cast("decimal(38,0)") * col("k")).as("skk"))
      val nD = col("n").cast("double")
      val mean = col("sk").cast("double") / nD
      val vr = (col("skk").cast("double") -
        col("sk").cast("double") * col("sk").cast("double") / nD) /
        (nD - lit(1.0))
      val ok = col("n") > 1L && col("sk") > 0L
      val dIdx = vr / mean
      val z = (dIdx - lit(1.0)) * sqrt((nD - lit(1.0)) / lit(2.0))
      val zR = when(ok, r6(z))
      m.select(col("n").as("n_users"), col("sk").as("n_purchases"),
        when(ok, r6(mean)).as("mean_k"), when(ok, r6(vr)).as("var_k"),
        when(ok, r6(dIdx)).as("dispersion"), zR.as("z_stat"),
        coalesce((zR > lit(1.959963984540054)).cast("long"), lit(0L))
          .as("overdispersed_95"))
    }),

    // ---- Wald SPRT: sequential probability ratio test (r10) ---------------
    // The fixed-n tests above answer "significant after seeing it all";
    // the SPRT (Wald 1945) answers "how EARLY could we have stopped?" —
    // the foundation of every always-valid experimentation platform. H₀:
    // conversion p = 0.25 vs H₁: p = 0.35 at α = β = 0.05 over a
    // user-id-ordered Bernoulli stream (x = user has a purchase event);
    // LLR_n = c_n·ln(p₁/p₀) + (n−c_n)·ln(q₁/q₀), stop at ±ln 19. The
    // stream is a bounded id-prefix sample (user_id ≤ 2000 — the
    // q_fisher_exact eval-set stance), so the ordered cumulative runs on
    // a SIZE-CAPPED frame at any corpus scale. c_n, n are exact BIGINTs;
    // the two ln ratios and the boundary enter as the SAME written-out
    // literals on both engines (never each engine's libm), so every
    // crossing decision compares identical doubles.
    "q_sprt" -> ((s, dir) => {
      val L1 = lit(0.3364722366212129)   // ln(0.35/0.25)
      val L2 = lit(-0.1431008436406733)  // ln(0.65/0.75)
      val A = lit(2.9444389791664403)    // ln((1-0.05)/0.05)
      val byUser = t(s, dir, "events")
        .where(col("user_id") <= 2000L)
        .groupBy(col("user_id"))
        .agg(max((col("event_type") === "purchase").cast("long")).as("x"))
      val wRun = BoundedWindow.ordered(col("user_id"), col("user_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = byUser
        .withColumn("n", count(lit(1)).over(wRun))
        .withColumn("c", sum(col("x")).over(wRun))
      val llr = col("c").cast("double") * L1 +
        (col("n") - col("c")).cast("double") * L2
      val flagged = cum.select(col("user_id"), col("n"), col("c"),
        llr.as("llr"),
        when(llr >= A, lit(1L)).when(llr <= -A, lit(-1L)).otherwise(lit(0L))
          .as("cross"))
      val g = flagged.agg(
        count(lit(1)).as("n_stream"),
        max(col("c")).as("conversions"),
        min(when(col("cross") =!= 0L, col("n"))).as("decision_n"),
        min(when(col("cross") =!= 0L, struct(col("n"), col("cross"))))
          .as("first"))
      // final LLR in closed form from the stream totals — same literals
      val llrFinal = col("conversions").cast("double") * L1 +
        (col("n_stream") - col("conversions")).cast("double") * L2
      g.select(col("n_stream"), col("conversions"), col("decision_n"),
        when(col("first").isNull, "continue")
          .when(col("first.cross") === 1L, "accept_h1")
          .otherwise("accept_h0").as("decision"),
        r6(llrFinal).as("llr_final"))
    }),

    // ---- Cochran–Armitage trend test (beyond reference, r10) --------------
    // The ORDERED upgrade of q_chi_square: priority tiers are ordinal
    // (1-URGENT … 5-LOW), so "does the high-value rate TREND with
    // urgency?" is one df, not (r−1) — far more power against monotone
    // alternatives. Scores w = 1..5 from the tier prefix; with per-tier
    // (n_k, a_k) and totals (N, A): Z = Σw(a_k − n_k·A/N) /
    // √(p̄(1−p̄)·[Σw²n − (Σwn)²/N]), p̄ = A/N. Every Σ is an exact
    // BIGINT off ONE scan (≤5 cells, map-side combined); the statistic is
    // a single closed-form float sequence; try_divide abstains when the
    // outcome or the scores are degenerate.
    "q_cochran_armitage" -> ((s, dir) => {
      val hv = (col("o_totalprice") > 240000.0).cast("long")
      val w = substring(col("o_orderpriority"), 1, 1).cast("long")
      val cells = t(s, dir, "orders")
        .groupBy(w.as("w"))
        .agg(count(lit(1)).as("nk"), sum(hv).as("ak"))
      val g = cells.agg(
        sum(col("nk")).as("nn"), sum(col("ak")).as("aa"),
        count(lit(1)).as("k_tiers"),
        sum(col("w") * col("nk")).as("swn"),
        sum(col("w") * col("w") * col("nk")).as("swwn"),
        sum(col("w") * col("ak")).as("swa"))
      val pbar = d(col("aa")) / d(col("nn"))
      val num = d(col("swa")) - d(col("swn")) * d(col("aa")) / d(col("nn"))
      val vr = pbar * (lit(1.0) - pbar) *
        (d(col("swwn")) - d(col("swn")) * d(col("swn")) / d(col("nn")))
      val z = try_divide(num, sqrt(greatest(vr, lit(0.0))))
      g.select(col("nn").as("n"), col("aa").as("n_hv"), col("k_tiers"),
        r6(pbar).as("rate_overall"), r6(z).as("z_trend"),
        coalesce((abs(z) > lit(1.959963984540054)).cast("long"), lit(0L))
          .as("reject_95"))
    }),

    // ---- Hodges–Lehmann shift estimator (r10) -----------------------------
    // The robust "how much did daily revenue move between 1997 and 1998?"
    // — the median of ALL pairwise differences (Hodges & Lehmann 1963):
    // unlike the difference of means a single blowout day cannot drag it,
    // and unlike the difference of medians it uses every pair's evidence.
    // Scale shape: the pair census is CALENDAR-bounded (≤366² pairs — the
    // q_theil_sen stance: cost pinned by the calendar, not the corpus),
    // generated by a broadcast join of the two year frames; the median is
    // one exact single-group percentile over the bounded pair frame.
    // Differences are exact integer cents; percentile's midpoint
    // interpolation is an exactly-representable .5 average of two ints.
    "q_hodges_lehmann" -> ((s, dir) => {
      val daily = Timeseries.dailyRevenue(s, dir)
      def yr(y: Int) = daily.where(year(col("day")) === y)
      val a = yr(1998).select(col("rev").as("ra"))
      val b = yr(1997).select(col("rev").as("rb"))
      val pairs = a.crossJoin(broadcast(b))
        .select((col("ra") - col("rb")).as("d"))
      val counts = a.agg(count(lit(1)).as("n_a"))
        .crossJoin(broadcast(b.agg(count(lit(1)).as("n_b"))))
      pairs.agg(count(lit(1)).as("n_pairs"),
          expr("percentile(d, 0.5)").as("hl"))
        .crossJoin(broadcast(counts))
        .select(col("n_a"), col("n_b"), col("n_pairs"),
          r2(col("hl") / lit(100.0)).as("hl_shift_dollars"))
    }),

    // ---- distance correlation (r11) ---------------------------------------
    // Székely–Rizzo–Bakirov (2007) distance correlation between daily
    // revenue and daily order count — the dependence measure that is ZERO
    // iff independent, catching the nonlinear/non-monotone relationships
    // q_corr_stats' Pearson and q_spearman's ranks both miss. dCov² =
    // T1/n² + (Tx/n²)(Ty/n²) − 2·T3/n³ over the |Δx|,|Δy| pair census;
    // the census is CALENDAR-bounded (days² pairs — the q_theil_sen/
    // q_hodges_lehmann stance: cost pinned by the calendar, not the
    // corpus) and EVERY moment is an exact integer (|Δ| of cents/counts,
    // products in decimal-38/HUGEINT), so the only floats are the final
    // dozen literal-order ops — cross-engine parity structural. Broadcast
    // self-join, one (day) re-group for row sums, two bounded aggregates.
    // Abstains (NULL) when either marginal distance variance is zero
    // (constant series / single day).
    "q_dcor" -> ((s, dir) => {
      val cents = ColumnOps.cents(col("o_totalprice"))
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(cents).as("x"), count(lit(1)).as("y"))
      // The census is only needed for ONE moment — T1 = Σ|Δx||Δy|, the
      // genuinely non-factorable cross term. Everything else has an
      // exact-integer closed form on the bounded daily frame: the row
      // sums aᵢ = Σⱼ|vᵢ−vⱼ| = (2rᵢ−n)·vᵢ − (2Pᵢ−T) via one sorted
      // prefix window per marginal (valid under any consistent tie
      // order), and Σ|Δv|² = 2nΣv² − 2(Σv)² by the moment identity —
      // so the 5.8M-pair frame feeds a single global partial-aggregated
      // sum instead of a 5-decimal-sum re-group (measured 6.0 → 1.0 s at
      // sf0.1; the moments are the SAME exact integers, so the oracle
      // hash is unchanged).
      val wAllK = BoundedWindow.whole(col("day"))
      val wxr = BoundedWindow.ordered(col("day"), col("x"), col("day"))
      val wyr = BoundedWindow.ordered(col("day"), col("y"), col("day"))
      val wxs = wxr.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wys = wyr.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val withSums = daily
        .withColumn("n", count(lit(1)).over(wAllK))
        .withColumn("tx_all", sum(col("x")).over(wAllK))
        .withColumn("ty_all", sum(col("y")).over(wAllK))
        .withColumn("rx", row_number().over(wxr).cast("long"))
        .withColumn("ry", row_number().over(wyr).cast("long"))
        .withColumn("px", sum(col("x")).over(wxs))
        .withColumn("py", sum(col("y")).over(wys))
        .withColumn("ax", (lit(2L) * col("rx") - col("n")) * col("x")
          - (lit(2L) * col("px") - col("tx_all")))
        .withColumn("ay", (lit(2L) * col("ry") - col("n")) * col("y")
          - (lit(2L) * col("py") - col("ty_all")))
      val m = withSums.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(dec(col("x")) * col("x")).as("sx2"),
        sum(dec(col("y")) * col("y")).as("sy2"),
        sum(dec(col("ax"))).as("tx"), sum(dec(col("ay"))).as("ty"),
        sum(dec(col("ax")) * col("ay")).as("t3"),
        sum(dec(col("ax")) * col("ax")).as("t3x"),
        sum(dec(col("ay")) * col("ay")).as("t3y"))
      val a = daily.select(col("x").as("xi"), col("y").as("yi"))
      val b = daily.select(col("x").as("xj"), col("y").as("yj"))
      val t1 = a.crossJoin(broadcast(b))
        .agg(sum(dec(abs(col("xi") - col("xj")) * abs(col("yi") - col("yj"))))
          .as("t1"))
      val g = m.crossJoin(broadcast(t1))
        .withColumn("t1x", lit(2L) * dec(col("n")) * col("sx2")
          - lit(2L) * dec(col("sx")) * col("sx"))
        .withColumn("t1y", lit(2L) * dec(col("n")) * col("sy2")
          - lit(2L) * dec(col("sy")) * col("sy"))
      val n2 = d(col("n")) * d(col("n"))
      val n3 = n2 * d(col("n"))
      val dcov2 = d(col("t1")) / n2 +
        (d(col("tx")) / n2) * (d(col("ty")) / n2) -
        lit(2.0) * d(col("t3")) / n3
      val dvx = d(col("t1x")) / n2 +
        (d(col("tx")) / n2) * (d(col("tx")) / n2) -
        lit(2.0) * d(col("t3x")) / n3
      val dvy = d(col("t1y")) / n2 +
        (d(col("ty")) / n2) * (d(col("ty")) / n2) -
        lit(2.0) * d(col("t3y")) / n3
      val prod = dvx * dvy
      val dcor = when(prod > 0.0,
        sqrt(greatest(dcov2, lit(0.0)) / sqrt(prod)))
      g.select(col("n").as("n_days"),
        (col("n") * col("n")).as("n_pairs"),
        r6(dcor).as("dcor"))
    }),

    // ---- coarsened exact matching (r11) -----------------------------------
    // The causal-adjustment step q_covariate_balance can only DIAGNOSE
    // (Iacus, King & Porro 2012): match treated and control units exactly
    // on coarsened covariates (here nation × market segment), PRUNE every
    // stratum missing an arm, and estimate the ATT as the treated-share-
    // weighted within-stratum outcome difference Σ_s (n_t^s/M_t)(ȳ_t^s −
    // ȳ_c^s) — outcome = per-customer order count, arms = the md5 split
    // (an A/A, so the honest expected answer is ATT ≈ 0; the machinery is
    // what's under test). One customer-keyed outcome join, one bounded
    // strata aggregate with exact BIGINT moments; per-stratum terms
    // micro-quantized before the bounded sum; the pruned-unit census —
    // CEM's headline honesty metric — rides the same frame.
    "q_cem" -> ((s, dir) => {
      val outcomes = t(s, dir, "orders")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("y"))
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey").as("qn"),
          col("c_mktsegment").as("qs"))
      val units = cust
        .join(outcomes, cust("c_custkey") === outcomes("o_custkey"), "left")
        .select(col("qn"), col("qs"), coalesce(col("y"), lit(0L)).as("y"),
          arm(col("c_custkey")).as("g"))
      val strata = units.groupBy("qn", "qs").agg(
        sum(when(col("g") === 0L, 1L).otherwise(0L)).as("nt"),
        sum(when(col("g") === 1L, 1L).otherwise(0L)).as("nc"),
        sum(when(col("g") === 0L, col("y")).otherwise(0L)).as("syt"),
        sum(when(col("g") === 1L, col("y")).otherwise(0L)).as("syc"))
      val wAll = BoundedWindow.whole(col("qn"))
      val matched = strata.where(col("nt") > 0 && col("nc") > 0)
        .withColumn("mt", sum(col("nt")).over(wAll))
        .withColumn("mc", sum(col("nc")).over(wAll))
        .withColumn("term_micro",
          floor(d(col("nt")) * (d(col("syt")) / d(col("nt")) -
            d(col("syc")) / d(col("nc"))) * 1000000.0).cast("long"))
      val pruned = strata.where(col("nt") === 0 || col("nc") === 0)
        .agg(coalesce(sum(col("nt")), lit(0L)).as("pruned_treated"),
          coalesce(sum(col("nc")), lit(0L)).as("pruned_control"))
      matched.groupBy("mt", "mc")
        .agg(count(lit(1)).as("n_strata"), sum(col("term_micro")).as("sm"))
        .crossJoin(broadcast(pruned))
        .select(col("n_strata"), col("mt").as("n_treated_matched"),
          col("mc").as("n_control_matched"),
          col("pruned_treated"), col("pruned_control"),
          r6(col("sm").cast("double") / 1000000.0 / col("mt").cast("double"))
            .as("att_orders"))
    }),

    // ---- TOST equivalence test (r11) --------------------------------------
    // The question q_ab_ttest cannot answer: not "did the arms differ?"
    // but "are they the SAME within a margin?" — failing to reject is not
    // equivalence (Schuirmann 1987). Two one-sided z tests against ±$50
    // on the q_ab_ttest per-user spend frame: equivalent iff BOTH reject,
    // i.e. min(z_low, z_high) > z₀.₀₅ = 1.6448536269514722. Same exact
    // per-arm moments, same avg/var_samp parity; the verdict compares the
    // r6-ROUNDED z's so a 1-ulp sqrt cannot flip it. On the honest md5
    // A/A split the expected answer is equivalent = 1.
    "q_tost_equivalence" -> ((s, dir) => {
      val margin = lit(50.0)
      val byUser = armMeans(s, dir)
      val xa = when(col("g") === 0L, col("x"))
      val xb = when(col("g") === 1L, col("x"))
      val g = byUser.agg(
        count(xa).as("na"), count(xb).as("nb"),
        avg(xa).as("ma"), avg(xb).as("mb"),
        var_samp(xa).as("va"), var_samp(xb).as("vb"))
      val se = sqrt(col("va") / col("na") + col("vb") / col("nb"))
      val diff = col("ma") - col("mb")
      val zLow = r6((diff + margin) / se)
      val zHigh = r6((margin - diff) / se)
      g.select(col("na").as("n_a"), col("nb").as("n_b"),
        r6(diff).as("diff"), r6(se).as("se"),
        zLow.as("z_low"), zHigh.as("z_high"),
        (least(zLow, zHigh) > 1.6448536269514722).cast("long")
          .as("equivalent"))
    }),

    // ---- empirical-Bayes mean shrinkage (r11) -----------------------------
    // The per-segment estimate every dashboard should show instead of the
    // raw group mean: James–Stein/EB shrinkage of each order priority's
    // mean order value toward the grand mean, with the weight set by the
    // data (Efron & Morris 1975). Method-of-moments: pooled within-group
    // σ²_w from exact BIGINT/decimal-38 moments, between-group τ² =
    // max(0, (Σn_j(m_j−m)² − (J−1)σ²_w) / (N − Σn_j²/N)), per group
    // B_j = (σ²_w/n_j)/(σ²_w/n_j + τ²) and shrunk = m + (1−B_j)(m_j−m).
    // Everything is a closed-form float chain over ONE ≤5-row exact
    // moment frame; the Σn_j(m_j−m)² accumulation quantizes per group to
    // micro-units first. τ² = 0 (homogeneous groups) collapses every
    // estimate to the grand mean — the honest degenerate answer.
    "q_eb_shrinkage" -> ((s, dir) => {
      val cents = ColumnOps.cents(col("o_totalprice"))
      val cells = t(s, dir, "orders")
        .select(col("o_orderpriority").as("prio"), cents.as("v"),
          cents.cast("decimal(19,0)").as("vd"))
        .groupBy("prio")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
          sum(col("vd") * col("vd")).as("ssq"))
      val wAll = BoundedWindow.whole(col("prio"))
      val tot0 = cells
        .withColumn("nn", sum(col("n")).over(wAll))
        .withColumn("snn", sum(col("n") * col("n")).over(wAll))
        .withColumn("st", sum(col("sv")).over(wAll))
        .withColumn("jj", count(lit(1)).over(wAll))
      val gm = d(col("st")) / d(col("nn"))
      // WHOLE-cents² quantization: these moments sit at ~1e17 (sf0.1) to
      // ~1e20 (sf1), so unit granularity is already below double
      // resolution — and the floor must stay in the DOUBLE domain
      // (ColumnOps.floorD): Spark's floor() returns LONG and silently
      // saturates at 2^63−1, which the r13 sf1 run caught shifting every
      // shrink weight
      val tot = tot0
        .withColumn("ssw_t",
          ColumnOps.toDec38(ColumnOps.floorD(
            d(col("ssq")) - d(col("sv")) * d(col("sv")) / d(col("n")))))
        .withColumn("sbm_t",
          ColumnOps.toDec38(ColumnOps.floorD(
            d(col("n")) * (d(col("sv")) / d(col("n")) - gm)
            * (d(col("sv")) / d(col("n")) - gm))))
        .withColumn("ssw", sum(col("ssw_t")).over(wAll))
        .withColumn("sbm", sum(col("sbm_t")).over(wAll))
      val m = d(col("st")) / d(col("nn"))
      val mj = d(col("sv")) / d(col("n"))
      val sigw = d(col("ssw")) / (d(col("nn")) - d(col("jj")))
      val tau2 = greatest(
        try_divide(d(col("sbm")) - (d(col("jj")) - 1.0) * sigw,
          d(col("nn")) - d(col("snn")) / d(col("nn"))), lit(0.0))
      val b = try_divide(sigw / d(col("n")), sigw / d(col("n")) + tau2)
      val shrunk = m + (lit(1.0) - coalesce(b, lit(1.0))) * (mj - m)
      tot.select(col("prio"), col("n"),
          r2(mj / 100.0).as("raw_mean_dollars"),
          r2(shrunk / 100.0).as("shrunk_mean_dollars"),
          r6(coalesce(b, lit(1.0))).as("shrink_weight"),
          r6(tau2 / 10000.0).as("tau2_dollars2"))
        .orderBy("prio")
    }),

    // ---- beta-binomial EB shrinkage for rates (r11) -----------------------
    // The RATE companion to q_eb_shrinkage's means (Robinson's
    // empirical-Bayes batting-average construction): fit a Beta(α, β)
    // prior to the per-customer high-priority-order rates by method of
    // moments, then shrink every customer's raw k/n toward it as
    // (k+α)/(n+α+β) — the ranking that stops a 1-for-1 customer from
    // outranking a 90-for-100 one. The p-moments are micro-quantized
    // (1e-6 / 1e-12 grids) into exact integer sums; α/β and the shrunk
    // rates are literal-order doubles of those exact moments; the MoM
    // collapse cases (zero variance, μ(1−μ) ≤ v) abstain with NULLs on
    // both engines. Customers with n < 5 are excluded from BOTH the fit
    // and the ranking (the rate-noise bound, stated in the contract).
    // Shape: one customer-key shuffle, one broadcast moment row back,
    // top-10 via TakeOrdered on the r6-pinned shrunk rate.
    "q_beta_binomial" -> ((s, dir) => {
      val isHigh = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      val cust = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"), sum(isHigh.cast("long")).as("k"))
        .where(col("n") >= 5)
      val p = d(col("k")) / d(col("n"))
      val terms = cust.select(col("o_custkey"), col("n"), col("k"),
        floor(p * lit(1000000.0) + lit(0.500001)).cast("long").as("pu"),
        floor(p * p * lit(1000000000000.0) + lit(0.500001))
          .cast("decimal(38,0)").as("pu2"))
      val m0 = terms.agg(count(lit(1)).as("m"),
        sum(col("pu")).as("spu"), sum(col("pu2")).as("spu2"))
      val mD = d(col("m"))
      val mu = d(col("spu")) / lit(1000000.0) / mD
      val v = d(col("spu2")) / lit(1000000000000.0) / mD - mu * mu
      val common = when(v > 0.0 && mu > 0.0 && mu < 1.0,
        mu * (lit(1.0) - mu) / v - lit(1.0))
      val mom = m0.select(col("m"),
        when(common > 0.0, mu * common).as("alpha"),
        when(common > 0.0, (lit(1.0) - mu) * common).as("beta"))
      val shrunk = (d(col("k")) + col("alpha")) /
        (d(col("n")) + col("alpha") + col("beta"))
      terms.crossJoin(broadcast(mom))
        .withColumn("shrunk_r", r6(shrunk))
        .orderBy(col("shrunk_r").desc, col("o_custkey"))
        .limit(10)
        .select(col("o_custkey").as("custkey"), col("n"), col("k"),
          r6(d(col("k")) / d(col("n"))).as("raw_rate"),
          col("shrunk_r").as("shrunk_rate"),
          r6(col("alpha")).as("alpha"), r6(col("beta")).as("beta"))
        .orderBy(col("shrunk_rate").desc, col("custkey"))
    }),

    // ---- Kruskal–Wallis rank ANOVA by weekday (r11) -----------------------
    // "Does the daily-revenue DISTRIBUTION differ by day of week?" without
    // q_anova's normality assumption (Kruskal & Wallis 1952): H =
    // 12/(N(N+1))·Σ R_j²/n_j − 3(N+1) over MIDRANKS, with the standard
    // tie correction C = 1 − Σ(t³−t)/(N³−N). Scale shape: one orders
    // shuffle to the calendar-bounded daily frame; midranks come from the
    // VALUE-grouped frame's prefix sum (c_less + (c_v+1)/2 — no per-row
    // ranking window), rejoined by value. Midranks are exact half-integers
    // so their sums are order-independent; the per-group R_j²/n_j division
    // quantizes to 1e-6 micro-units in BIGINT before the 7-row sum (the
    // linkPrediction discipline). Weekday = (day − 1995-01-01) mod 7 —
    // engine-neutral, no locale. Reject line: χ²₀.₀₅,₆ = 12.591587243744.
    "q_kruskal_wallis" -> ((s, dir) => {
      val daily = Timeseries.dailyRevenue(s, dir)
        .select(col("rev"),
          pmod(datediff(col("day"), lit("1995-01-01").cast("date"))
            .cast("long"), lit(7L)).as("wd"))
      val vals = daily.groupBy("rev").agg(count(lit(1)).as("cv"))
        .withColumn("cum", sum(col("cv")).over(
          BoundedWindow.ordered(col("rev"), col("rev"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("rev"), col("cv"),
          ((col("cum") - col("cv")).cast("double") +
            (col("cv") + 1L).cast("double") / 2.0).as("midrank"))
      val byG = daily.join(broadcast(vals), Seq("rev"))
        .groupBy("wd")
        .agg(count(lit(1)).as("nj"), sum(col("midrank")).as("rj"))
        .select(col("wd"), col("nj"),
          floor(col("rj") * col("rj") / col("nj").cast("double")
            * 1000000.0).cast("long").as("term_micro"))
      val terms = byG.agg(count(lit(1)).as("n_groups"),
        sum(col("term_micro")).as("s_micro"))
      val ties = vals.agg(
        sum(col("cv") * col("cv") * col("cv") - col("cv")).as("tie"))
      val nn = daily.agg(count(lit(1)).as("n_days"))
      val nD = col("n_days").cast("double")
      val h = lit(12.0) / (nD * (nD + 1.0)) *
        (col("s_micro").cast("double") / 1000000.0) - lit(3.0) * (nD + 1.0)
      val c = lit(1.0) - col("tie").cast("double") / (nD * nD * nD - nD)
      val hc = r6(try_divide(h, c))
      nn.crossJoin(broadcast(terms)).crossJoin(broadcast(ties))
        .select(col("n_days"), col("n_groups"), r6(h).as("h"),
          hc.as("h_tie_corrected"),
          coalesce((hc > 12.591587243743977).cast("long"), lit(0L))
            .as("reject_95"))
    }),

    // ---- Friedman test over week blocks (r11) -----------------------------
    // The repeated-measures companion to q_kruskal_wallis: does the
    // weekday effect persist WITHIN each week (Friedman 1937)? Ranks are
    // per-block — each complete 7-day week ranks its own days — so a
    // global level shift across weeks cannot masquerade as a weekday
    // effect. Midranks via RANK() + (ties−1)/2 inside the 7-row block
    // windows (partition count grows with the calendar, 7 rows each —
    // never a hot task); R_j sums are exact half-integer algebra, so the
    // Σ R_j² accumulation is order-independent with no quantization;
    // χ²_F = 12/(bk(k+1))·ΣR_j² − 3b(k+1) vs the same χ²₀.₀₅,₆ line.
    "q_friedman" -> ((s, dir) => {
      val byWd = weekdayRankSums(s, dir)
      val g = byWd.agg(max(col("b")).as("b"), count(lit(1)).as("k"),
        sum(col("rj") * col("rj")).as("srj2"))
      val chi = lit(12.0) / (d(col("b")) * d(col("k")) * (d(col("k")) + 1.0)) *
        col("srj2") - lit(3.0) * d(col("b")) * (d(col("k")) + 1.0)
      g.select(col("b").as("n_weeks"), col("k").as("k_days"),
        r6(chi).as("chi2_f"),
        (r6(chi) > 12.591587243743977).cast("long").as("reject_95"))
    }),

    // ---- Page's L ordered-trend test (r12) ----------------------------------
    // q_friedman answers "do weekdays differ AT ALL"; Page's L (Page 1963)
    // answers the sharper ordered question — do the within-week ranks
    // FOLLOW the weekday order? — with far more power against monotone
    // alternatives. Same complete-week midrank frame as q_friedman
    // (midranks are dyadic halves, so every sum is EXACT in double and
    // aggregation order cannot matter); L = Σ_j (wd+1)·R_j, and under H0
    // E[L] = b·k(k+1)²/4, Var(L) = b·k²(k+1)(k²−1)/144 — both closed
    // forms of exact integers, z two-sided (the weekday labeling fixes
    // the predicted order up to reversal). One shuffle to the daily
    // frame; everything after lives on the ≤7-row weekday frame.
    "q_page_trend" -> ((s, dir) => {
      val byWd = weekdayRankSums(s, dir)
      val g = byWd.agg(max(col("b")).as("b"), count(lit(1)).as("k"),
        sum((col("wd") + 1L).cast("double") * col("rj")).as("l"))
      val bD = d(col("b")); val kD = d(col("k"))
      val el = bD * kD * (kD + 1.0) * (kD + 1.0) / 4.0
      val vl = bD * kD * kD * (kD + 1.0) * (kD * kD - 1.0) / 144.0
      val ok = col("b") >= 2L && col("k") >= 3L
      val z = when(ok, (col("l") - el) / sqrt(vl))
      g.select(col("b").as("n_weeks"), col("k").as("k_days"),
        r2(col("l")).as("l_stat"), r2(el).as("l_expected"),
        r6(z).as("z_stat"),
        coalesce((abs(r6(z)) > lit(1.959963984540054)).cast("long"),
          lit(0L)).as("reject_95"))
    }),

    // ---- Cliff's delta effect size (r11) ----------------------------------
    // The nonparametric effect size behind q_mann_whitney's verdict: δ =
    // (#{a > b} − #{a < b}) / (n_a·n_b) over ALL 1998×1997 daily-revenue
    // pairs (Cliff 1993) — a robust "how big is the shift", scale-free
    // where q_hodges_lehmann is in dollars. The pair census is CALENDAR-
    // bounded (≤366²; the q_theil_sen stance), dominance counts are exact
    // BIGINTs, δ one division, and the Romano et al. (2006) magnitude
    // labels cut on the r6-ROUNDED |δ| so a 1-ulp difference cannot
    // relabel.
    "q_cliffs_delta" -> ((s, dir) => {
      val daily = Timeseries.dailyRevenue(s, dir)
      def yr(y: Int) = daily.where(year(col("day")) === y)
      val a = yr(1998).select(col("rev").as("ra"))
      val b = yr(1997).select(col("rev").as("rb"))
      val dom = a.crossJoin(broadcast(b))
        .agg(count(lit(1)).as("n_pairs"),
          sum((col("ra") > col("rb")).cast("long")).as("n_gt"),
          sum((col("ra") < col("rb")).cast("long")).as("n_lt"))
      val counts = a.agg(count(lit(1)).as("n_a"))
        .crossJoin(broadcast(b.agg(count(lit(1)).as("n_b"))))
      val delta = r6((col("n_gt") - col("n_lt")).cast("double") /
        col("n_pairs").cast("double"))
      dom.crossJoin(broadcast(counts))
        .select(col("n_a"), col("n_b"), col("n_gt"), col("n_lt"),
          delta.as("delta"),
          when(abs(delta) < 0.147, "negligible")
            .when(abs(delta) < 0.33, "small")
            .when(abs(delta) < 0.474, "medium")
            .otherwise("large").as("magnitude"))
    }),

    // ---- Mood's median test by weekday (r11) ------------------------------
    // The coarser, outlier-immune cousin of q_kruskal_wallis: count each
    // weekday's days above vs not-above the GLOBAL daily-revenue median
    // and χ²-test the 7×2 table (Mood 1950). The median is one exact
    // percentile over the calendar-bounded daily frame (midpoint
    // interpolation identical to quantile_cont — the q_theil_sen
    // precedent); cells are exact BIGINTs; per-cell (O−E)²/E quantizes to
    // micro-units before the 14-cell sum; E = 0 abstains via try_divide
    // (≡ DuckDB /). Same χ²₀.₀₅,₆ reject line.
    "q_mood_median" -> ((s, dir) => {
      val daily = Timeseries.dailyRevenue(s, dir)
        .select(col("rev"),
          pmod(datediff(col("day"), lit("1995-01-01").cast("date"))
            .cast("long"), lit(7L)).as("wd"))
      val med = daily.agg(expr("percentile(rev, 0.5)").as("m"),
        count(lit(1)).as("n_days"))
      val cells = daily.crossJoin(broadcast(med))
        .groupBy("wd")
        .agg(max(col("n_days")).as("n_days"),
          sum((col("rev") > col("m")).cast("long")).as("above"),
          count(lit(1)).as("nj"))
      val wAll = BoundedWindow.whole(col("wd"))
      val tot = cells
        .withColumn("ta", sum(col("above")).over(wAll))
        .withColumn("tn", sum(col("nj")).over(wAll))
      def cellTerm(o: Column, e: Column): Column =
        floor(try_divide((d(o) - e) * (d(o) - e), e) * 1000000.0)
          .cast("long")
      val eA = d(col("nj")) * d(col("ta")) / d(col("tn"))
      val eB = d(col("nj")) * d(col("tn") - col("ta")) / d(col("tn"))
      val chi = tot.select(col("n_days"),
          cellTerm(col("above"), eA).as("t1"),
          cellTerm(col("nj") - col("above"), eB).as("t2"))
        .groupBy("n_days")
        .agg(count(lit(1)).as("n_groups"),
          sum(col("t1") + col("t2")).as("chi_micro"))
      val chi2 = r6(col("chi_micro").cast("double") / 1000000.0)
      chi.select(col("n_days"), col("n_groups"), chi2.as("chi2"),
        coalesce((chi2 > 12.591587243743977).cast("long"), lit(0L))
          .as("reject_95"))
    }),

    // ---- paired permutation test, content-addressed (r11) -----------------
    // The assumption-free significance check for "did 1998 move vs
    // 1997?": pair days by (month, day), observe S = Σd_i, and replay
    // K = 200 sign-flip permutations with the signs derived from
    // md5(pair-key ⊕ permutation-index) — the q_hash_split idiom, so the
    // "random" flips are content-addressed, reproducible, and REPLAYED
    // EXACTLY by the oracle (no RNG state anywhere, the house rule).
    // Everything is exact BIGINT: the decision |S_p| ≥ |S| compares
    // integer sums, p = (1 + #exceed)/(K+1) is one division of exact
    // ints. Work is pairs × K ≈ 366·200 rows — calendar-bounded.
    "q_permutation_test" -> ((s, dir) => {
      val K = 200
      val daily = Timeseries.dailyRevenue(s, dir)
      def yr(y: Int) = daily.where(year(col("day")) === y)
        .select((month(col("day")) * 100 + dayofmonth(col("day")))
          .cast("long").as("md"), col("rev"))
      val pairs = yr(1998).select(col("md"), col("rev").as("r98"))
        .join(yr(1997).select(col("md"), col("rev").as("r97")), Seq("md"))
        .select(col("md"), (col("r98") - col("r97")).as("d"))
      val obs = pairs.agg(count(lit(1)).as("n_pairs"), sum(col("d")).as("s_obs"))
      val flips = pairs
        .select(col("md"), col("d"), explode(sequence(lit(1), lit(K))).as("p"))
        .select(col("p"), (col("d") * (lit(1L) - lit(2L) *
          pmod(conv(substring(md5(concat(col("md").cast("string"), lit("_"),
            col("p").cast("string")).cast("binary")), 1, 4), 16, 10)
            .cast("long"), lit(2L)))).as("sd"))
        .groupBy("p").agg(sum(col("sd")).as("sp"))
      val pv = flips.crossJoin(broadcast(obs))
        .agg(max(col("n_pairs")).as("n_pairs"), max(col("s_obs")).as("s_obs"),
          count(lit(1)).as("k_perms"),
          sum((abs(col("sp")) >= abs(col("s_obs"))).cast("long")).as("exceed"))
      pv.select(col("n_pairs"), col("k_perms"),
        r2(col("s_obs").cast("double") / col("n_pairs").cast("double")
          / 100.0).as("mean_diff_dollars"),
        r6((col("exceed") + 1L).cast("double") /
          (col("k_perms") + 1L).cast("double")).as("p_value"),
        ((col("exceed") + 1L).cast("double") /
          (col("k_perms") + 1L).cast("double") < 0.05).cast("long")
          .as("reject_05"))
    }),

    // ---- Hotelling T² two-sample multivariate mean test (r10) -------------
    // q_ab_ttest per coordinate can miss a JOINT mean shift (two small
    // correlated moves); Hotelling (1931)'s T² = (n_a·n_b/N)·δᵀS_p⁻¹δ on
    // the (order count, spend) customer plane catches it. All five pooled
    // second moments are EXACT BIGINT/decimal-38 integers off one
    // conditional aggregate (the q_mahalanobis discipline); the pooled
    // 2×2 inverse is closed-form algebra — no linear-algebra library —
    // and the F conversion F = (N−p−1)/(p(N−2))·T² compares against the
    // asymptotic χ²₂-based 5% line (3.0 for large N, documented). The
    // md5 arms make it an A/A: the honest expected answer is no reject.
    "q_hotelling" -> ((s, dir) => {
      val cents = ColumnOps.cents(col("o_totalprice"))
      val feats = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("custkey"))
        .agg(count(lit(1)).as("f"), sum(cents).as("m"))
        .select(arm(col("custkey")).as("g"), col("f"), col("m"),
          col("f").cast("decimal(38,0)").as("fd"),
          col("m").cast("decimal(38,0)").as("md"))
      val gagg = feats.agg(
        sum(when(col("g") === 0L, 1L).otherwise(0L)).as("na"),
        sum(when(col("g") === 1L, 1L).otherwise(0L)).as("nb"),
        sum(when(col("g") === 0L, col("f")).otherwise(0L)).as("sfa"),
        sum(when(col("g") === 1L, col("f")).otherwise(0L)).as("sfb"),
        sum(when(col("g") === 0L, col("m")).otherwise(0L)).as("sma"),
        sum(when(col("g") === 1L, col("m")).otherwise(0L)).as("smb"),
        sum(when(col("g") === 0L, col("fd") * col("fd")).otherwise(lit(0)))
          .as("sffa"),
        sum(when(col("g") === 1L, col("fd") * col("fd")).otherwise(lit(0)))
          .as("sffb"),
        sum(when(col("g") === 0L, col("md") * col("md")).otherwise(lit(0)))
          .as("smma"),
        sum(when(col("g") === 1L, col("md") * col("md")).otherwise(lit(0)))
          .as("smmb"),
        sum(when(col("g") === 0L, col("fd") * col("md")).otherwise(lit(0)))
          .as("sfma"),
        sum(when(col("g") === 1L, col("fd") * col("md")).otherwise(lit(0)))
          .as("sfmb"))
      val naD = d(col("na")); val nbD = d(col("nb"))
      val nD = naD + nbD
      // pooled central SSCP = per-arm (Σxx − ΣxΣx/n) summed, / (N−2)
      def cen(sxx: Column, sx: Column, sy: Column, n: Column): Column =
        d(sxx) - d(sx) * d(sy) / d(n)
      val wff = (cen(col("sffa"), col("sfa"), col("sfa"), col("na")) +
        cen(col("sffb"), col("sfb"), col("sfb"), col("nb"))) / (nD - 2)
      val wmm = (cen(col("smma"), col("sma"), col("sma"), col("na")) +
        cen(col("smmb"), col("smb"), col("smb"), col("nb"))) / (nD - 2)
      val wfm = (cen(col("sfma"), col("sfa"), col("sma"), col("na")) +
        cen(col("sfmb"), col("sfb"), col("smb"), col("nb"))) / (nD - 2)
      val df0 = d(col("sfa")) / naD - d(col("sfb")) / nbD
      val dm0 = d(col("sma")) / naD - d(col("smb")) / nbD
      val det = wff * wmm - wfm * wfm
      val quad = try_divide(
        df0 * (wmm * df0 - wfm * dm0) + dm0 * (wff * dm0 - wfm * df0), det)
      val t2 = naD * nbD / nD * quad
      val fStat = (nD - 3) / (lit(2.0) * (nD - 2)) * t2
      gagg.select(col("na").as("n_a"), col("nb").as("n_b"),
        r6(df0).as("diff_orders"), r2(dm0 / 100.0).as("diff_spend"),
        r6(t2).as("t2"), r6(fStat).as("f_stat"),
        coalesce((r6(fStat) > lit(3.0)).cast("long"), lit(0L))
          .as("reject_05"))
    }),

    // ---- Bartlett's variance-homogeneity test (r10) -----------------------
    // The parametric sibling of q_levene (which is robust but less
    // powerful under normality): B = [(N−k)·ln s_p² − Σ(n_i−1)·ln s_i²]/C,
    // C = 1 + (Σ1/(n_i−1) − 1/(N−k))/(3(k−1)), over per-priority order
    // values. Per-cell moments are exact BIGINT/HUGEINT; variances are
    // double-rounded moment quotients CLAMPED at 0 with the ln guarded on
    // s² > 0 (§2.13 — DuckDB's LN hard-errors at 0); the ≤5-cell ln sum
    // follows the q_chi_square small-frame precedent.
    "q_bartlett" -> ((s, dir) => {
      val v = ColumnOps.cents(col("o_totalprice"))
      val cells = t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("prio"))
        .agg(count(lit(1)).as("ni"), sum(v).as("si"),
          sum(v.cast("decimal(19,0)") * v.cast("decimal(19,0)")).as("qi"))
      val vi = try_divide(greatest(d(col("qi")) - d(col("si")) * d(col("si")) /
        d(col("ni")), lit(0.0)), d(col("ni")) - 1)
      def lnPos(c: Column): Column = when(c > 0, log(c))
      val g = cells.select(col("ni"), vi.as("vi"))
        .agg(sum(col("ni")).as("nn"), count(lit(1)).as("k"),
          sum((d(col("ni")) - 1) * lnPos(col("vi"))).as("sln"),
          sum((d(col("ni")) - 1) * col("vi")).as("ssp"),
          sum(try_divide(lit(1.0), d(col("ni")) - 1)).as("sinv"),
          sum(when(col("vi") > 0, 1L).otherwise(0L)).as("n_ok"))
      val nD = d(col("nn")); val kD = d(col("k"))
      val sp2 = col("ssp") / (nD - kD)
      val b0 = (nD - kD) * lnPos(sp2) - col("sln")
      val cC = lit(1.0) + (col("sinv") - lit(1.0) / (nD - kD)) /
        (lit(3.0) * (kD - 1))
      // a zero-variance (or singleton) group abstains the WHOLE test —
      // its ln term is undefined; NULL-consistent on both engines
      val b = when(col("n_ok") === col("k"), try_divide(b0, cC))
      g.select(col("nn").as("n"), col("k").as("k_groups"),
        r4(b).as("bartlett_stat"),
        (col("k") - 1L).cast("long").as("dof"),
        coalesce((r4(b) > lit(9.487729036781154)).cast("long"), lit(0L))
          .as("reject_95"))
    }),

    // ---- Bayesian A/B: P(p_B > p_A) in closed form (r10) ------------------
    // The decision-ready companion to q_prop_ztest's frequentist z: with
    // Beta(1,1) priors and binomial arms, P(p_B > p_A | data) has the
    // EXACT closed form (Cook 2005)
    //   Σ_{i=0}^{α_B−1} B(α_A+i, β_A+β_B) / ((β_B+i)·B(1+i, β_B)·B(α_A, β_A))
    // where every Beta has integer arguments, so ln B reduces to the
    // q_fisher_exact ln-factorial table (ordered cumulative over a
    // bounded k-frame — identical accumulation both engines). The input
    // is the bounded id-prefix user sample (user_id ≤ 400, md5 arms):
    // table and sum stay ≤ ~400 rows at ANY corpus scale, and the ≤α_B
    // term accumulation is absorbed by r6 (the fisher discipline).
    "q_bayes_ab" -> ((s, dir) => {
      val m = t(s, dir, "events").where(col("user_id") <= 400L)
        .groupBy(col("user_id"))
        .agg(max((col("event_type") === "purchase").cast("long")).as("x"))
        .select(arm(col("user_id")).as("g"), col("x"))
        .agg(
          sum(when(col("g") === 0L, 1L).otherwise(0L)).as("na"),
          sum(when(col("g") === 0L, col("x")).otherwise(0L)).as("ca"),
          sum(when(col("g") === 1L, 1L).otherwise(0L)).as("nb"),
          sum(when(col("g") === 1L, col("x")).otherwise(0L)).as("cb"))
        .select(col("na"), col("ca"), col("nb"), col("cb"),
          (col("ca") + 1L).as("aa"), (col("na") - col("ca") + 1L).as("ba"),
          (col("cb") + 1L).as("ab"), (col("nb") - col("cb") + 1L).as("bb"),
          (col("na") + col("nb") + 4L).as("kmax"))
        .localCheckpoint()
      val lf = m.select(explode(sequence(lit(0L), col("kmax"))).as("k"))
        .select(col("k"),
          sum(when(col("k") > 1L, log(col("k").cast("double")))
            .otherwise(lit(0.0)))
            .over(BoundedWindow.ordered(col("k"), col("k"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("lf"))
        .localCheckpoint()
      def lfAt(df: DataFrame, key: Column, out: String): DataFrame =
        df.join(broadcast(lf.select(col("k").as(out + "_k"),
          col("lf").as(out))), key === col(out + "_k")).drop(out + "_k")
      // row-constant pieces: ln B(α_A, β_A) and the β parts
      val withConst = lfAt(lfAt(lfAt(lfAt(m,
        col("aa") - 1L, "laa1"), col("ba") - 1L, "lba1"),
        col("aa") + col("ba") - 1L, "laba"), col("ba") + col("bb") - 1L,
        "lbab")
      val en = lfAt(withConst, col("bb") - 1L, "lbb1")
        .select(col("na"), col("ca"), col("nb"), col("cb"),
          col("aa"), col("ba"), col("ab"), col("bb"),
          col("laa1"), col("lba1"), col("laba"), col("lbab"), col("lbb1"),
          explode(sequence(lit(0L), col("ab") - 1L)).as("i"))
      val scored = lfAt(lfAt(lfAt(en,
        col("aa") + col("i") - 1L, "lai"),
        col("aa") + col("i") + col("ba") + col("bb") - 1L, "labi"),
        col("i") + col("bb"), "lib")
      val lfi = lfAt(scored, col("i"), "li")
      val lnTerm = (col("lai") + col("lbab") - col("labi")) -
        log((col("bb") + col("i")).cast("double")) -
        (col("li") + col("lbb1") - col("lib")) -
        (col("laa1") + col("lba1") - col("laba"))
      val g = lfi.select(col("na"), col("ca"), col("nb"), col("cb"),
          exp(lnTerm).as("p_i"))
        .groupBy("na", "ca", "nb", "cb")
        .agg(sum(col("p_i")).as("p0"))
      val pv = r6(least(greatest(col("p0"), lit(0.0)), lit(1.0)))
      g.select(col("na").as("n_a"), col("ca").as("conv_a"),
        col("nb").as("n_b"), col("cb").as("conv_b"),
        pv.as("prob_b_beats_a"),
        (pv > lit(0.95) || pv < lit(0.05)).cast("long").as("decisive_95"))
    }),

    // ---- Anderson–Darling normality test (beyond reference, r10) ----------
    // The tail-weighted upgrade of q_ks_test/q_jarque_bera: A² weighs ECDF
    // gaps by 1/(F(1−F)), so heavy tails that KS's sup-norm misses move
    // the statistic. A² = −n − (1/n)·Σᵢ[(2i−1)lnΦ(zᵢ) + (2(n−i)+1)
    // ln(1−Φ(zᵢ))] over the ORDERED standardized per-customer spends —
    // the order statistic rank i comes from [[Ranks.withGlobalRank]]'s
    // two-level bucket pattern (no single-partition window). Float
    // discipline: μ/σ from exact integer moments; Φ via the SAME
    // Zelen–Severo literals as q_bh_fdr (never each engine's erf), clamped
    // to [1e-15, 1−1e-15] (the q_logistic_gd saturation discipline); each
    // row's term quantizes to 1e-6 micro-units summed in decimal(38,0) —
    // no order-dependent accumulation. The 5% decision uses Stephens'
    // estimated-parameter modification A*² = A²(1 + 0.75/n + 2.25/n²)
    // against 0.787, compared on the ROUNDED value. (On TPC-H-ish spend
    // the honest answer is a rejection — spend is right-skewed.)
    "q_anderson_darling" -> ((s, dir) => {
      val cents = ColumnOps.cents(col("o_totalprice"))
      val feats = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("custkey"))
        .agg(sum(cents).as("x"))
        .localCheckpoint()
      val stats = feats.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("x").cast("decimal(19,0)") * col("x").cast("decimal(19,0)"))
          .as("sxx"))
      val ranked = Ranks.withGlobalRank(feats, col("x"), col("custkey"), "i")
      val j = ranked.crossJoin(broadcast(stats))
      val nD = col("n").cast("double")
      val mu = col("sx").cast("double") / nD
      val sd = sqrt(greatest(col("sxx").cast("double") -
        col("sx").cast("double") * col("sx").cast("double") / nD,
        lit(0.0)) / (nD - 1))
      val z = try_divide(col("x").cast("double") - mu, sd)
      val az = abs(z)
      val tP = lit(1.0) / (lit(1.0) + lit(0.2316419) * az)
      val qz = lit(0.3989422804014327) * exp(-az * az / 2.0) *
        (tP * (lit(0.319381530) + tP * (lit(-0.356563782) +
          tP * (lit(1.781477937) + tP * (lit(-1.821255978) +
            tP * lit(1.330274429))))))
      val phi0 = when(z >= 0, lit(1.0) - qz).otherwise(qz)
      // NULL z (constant spend ⇒ sd = 0) must stay NULL through the clamp:
      // Spark's greatest SKIPS nulls where DuckDB's propagates (§2.13)
      val phi = when(z.isNotNull,
        least(greatest(phi0, lit(1e-15)), lit(1.0) - lit(1e-15)))
      val term = floor(((lit(2L) * col("i") - 1L).cast("double") * log(phi) +
        (lit(2L) * (col("n") - col("i")) + 1L).cast("double") *
          log(lit(1.0) - phi)) * lit(1000000.0)).cast("decimal(38,0)")
      val g = j.select(col("n"), mu.as("mu"), sd.as("sd"), term.as("t"))
        .groupBy("n", "mu", "sd")
        .agg(sum(col("t")).as("smic"))
      val gnD = col("n").cast("double")
      val a2 = -gnD - col("smic").cast("double") / lit(1000000.0) / gnD
      val a2m = a2 * (lit(1.0) + lit(0.75) / gnD +
        lit(2.25) / (gnD * gnD))
      g.select(col("n").as("n_customers"),
        r2(col("mu") / 100.0).as("mean_spend"),
        r2(col("sd") / 100.0).as("sd_spend"),
        r6(a2).as("a2"), r6(a2m).as("a2_mod"),
        coalesce((r6(a2m) > lit(0.787)).cast("long"), lit(0L))
          .as("reject_05"))
    })
  )

  /** q_jonckheere mirror, Scala-generated like the engine's pair loop: the
    * same 10 ordered-pair dominance terms (each CAST HUGEINT, added in the
    * same g-major order), identical cumulative befores, and the same
    * E/Var literal-order closed forms.
    */
  private def jonckheereOracle: String = {
    val cCols = (1 to 5).map(k =>
      s"    CAST(SUM(CASE WHEN g = $k THEN 1 ELSE 0 END) AS BIGINT) AS c$k")
      .mkString(",\n")
    val bCols = (1 to 5).map(k =>
      s"    CAST(SUM(c$k) OVER w - c$k AS BIGINT) AS b$k").mkString(",\n")
    val pairTerms = (for { g <- 1 to 5; h <- (g + 1) to 5 } yield
      s"CAST(2 * c$h * b$g + c$h * c$g AS HUGEINT)").mkString("\n      + ")
    val nSum = (1 to 5).map(k => s"n$k").mkString(" + ")
    val sumsq = (1 to 5).map(k => s"n$k * n$k").mkString(" + ")
    val vterm = (1 to 5).map(k => s"n$k * n$k * (2 * n$k + 3)")
      .mkString(" + ")
    val kGroups = (1 to 5).map(k =>
      s"CASE WHEN n$k > 0 THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH o AS (
       |  SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS g,
       |    CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT) AS v
       |  FROM orders WHERE o_orderkey % 20 = 0
       |), hist AS (
       |  SELECT v,
       |$cCols
       |  FROM o GROUP BY v
       |), bef AS (
       |  SELECT c1, c2, c3, c4, c5,
       |$bCols
       |  FROM hist
       |  WINDOW w AS (ORDER BY v
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |), g AS (
       |  SELECT SUM($pairTerms) AS twoj,
       |${(1 to 5).map(k => s"    CAST(SUM(c$k) AS BIGINT) AS n$k").mkString(",\n")}
       |  FROM bef
       |), f1 AS (
       |  SELECT twoj, CAST($nSum AS BIGINT) AS n_total,
       |    CAST($kGroups AS BIGINT) AS k_groups,
       |    CAST($nSum AS DOUBLE) AS nd,
       |    CAST($sumsq AS DOUBLE) AS sumsq,
       |    CAST($vterm AS DOUBLE) AS vterm
       |  FROM g
       |), f2 AS (
       |  SELECT twoj, n_total, k_groups, nd,
       |    (nd * nd - sumsq) / 2.0 AS twoe,
       |    (nd * nd * (2.0 * nd + 3.0) - vterm) / 72.0 AS varj
       |  FROM f1
       |), f3 AS (
       |  SELECT n_total, k_groups, twoj, twoe,
       |    k_groups >= 3 AND varj > 0.0 AS ok,
       |    (CAST(twoj AS DOUBLE) - twoe) / (2.0 * SQRT(varj)) AS z
       |  FROM f2
       |), f4 AS (
       |  SELECT n_total, k_groups, twoj, twoe,
       |    CASE WHEN ok THEN
       |      FLOOR(z * 1000000.0 + 0.500001) / 1000000.0 END AS zr
       |  FROM f3
       |)
       |SELECT n_total, k_groups,
       |  CAST(twoj AS DOUBLE) / 2.0 AS j_stat,
       |  twoe / 2.0 AS j_expected,
       |  zr AS z_stat,
       |  CAST(COALESCE(CASE WHEN ABS(zr) > 1.959963984540054
       |    THEN 1 ELSE 0 END, 0) AS BIGINT) AS reject_95
       |FROM f4""".stripMargin
  }

  /** The two-sample value histogram of an o CTE (v, g): per value the arm
    * counts ca (g = 0) and cb (g = 1). */
  private val AbHistCte =
    """hist AS (
      |  SELECT v,
      |    CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |    CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
      |  FROM o GROUP BY v
      |)""".stripMargin

  /** Every 20th order's price in cents (v) split urgent-or-high (g = 1) vs
    * the rest (g = 0), and its two-sample value histogram (hist: c1, c2). */
  private val UrgentHistCte =
    """o AS (
      |  SELECT CASE WHEN o_orderpriority = '1-URGENT'
      |      OR o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END AS g,
      |    CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT) AS v
      |  FROM orders WHERE o_orderkey % 20 = 0
      |), hist AS (
      |  SELECT v,
      |    CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |    CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      |  FROM o GROUP BY v
      |)""".stripMargin

  val oracleSql: Map[String, String] = Map(

    // same per-user moments as the t-test, r6-pinned before the power math
    // so ceil/boolean boundaries are decided on identical doubles
    "q_power_analysis" ->
      s"""WITH $ArmMeansCte, m AS (
        |  SELECT
        |    CAST(COUNT(x) FILTER (WHERE g = 0) AS BIGINT) AS na,
        |    CAST(COUNT(x) FILTER (WHERE g = 1) AS BIGINT) AS nb,
        |    AVG(x) FILTER (WHERE g = 0) AS ma0,
        |    AVG(x) FILTER (WHERE g = 1) AS mb0,
        |    VAR_SAMP(x) FILTER (WHERE g = 0) AS va0,
        |    VAR_SAMP(x) FILTER (WHERE g = 1) AS vb0
        |  FROM u
        |), p AS (
        |  SELECT na, nb,
        |    FLOOR(ma0 * 1000000.0 + 0.500001) / 1000000.0 AS ma,
        |    FLOOR(mb0 * 1000000.0 + 0.500001) / 1000000.0 AS mb,
        |    FLOOR(va0 * 1000000.0 + 0.500001) / 1000000.0 AS va,
        |    FLOOR(vb0 * 1000000.0 + 0.500001) / 1000000.0 AS vb
        |  FROM m
        |), c AS (
        |  SELECT *, sqrt(va / na + vb / nb) AS se, abs(ma - mb) AS effect
        |  FROM p
        |)
        |SELECT na AS n_a, nb AS n_b, ma AS mean_a, mb AS mean_b,
        |  FLOOR(effect * 1000000.0 + 0.500001) / 1000000.0 AS effect,
        |  FLOOR(se * 1000000.0 + 0.500001) / 1000000.0 AS se,
        |  FLOOR(2.8015852181129683 * se * 1000000.0 + 0.500001) / 1000000.0
        |    AS mde,
        |  CASE WHEN effect > 0 THEN CAST(CEIL(
        |    2.8015852181129683 * 2.8015852181129683 * (va + vb)
        |      / (effect * effect)) AS BIGINT) END AS n_required_per_arm,
        |  CAST(CASE WHEN effect >= 2.8015852181129683 * se THEN 1 ELSE 0 END
        |    AS BIGINT) AS adequately_powered
        |FROM c""".stripMargin,

    // identical closed-form doubled tie-ranks (2·before + c + 1 off each
    // value histogram), BIGINT sufficient statistics, one float sequence
    "q_spearman" ->
      """WITH rows_ AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS x,
        |    CAST(FLOOR(l_extendedprice * 100.0 + 0.500001) AS BIGINT) AS y
        |  FROM lineitem WHERE l_orderkey % 20 = 0
        |), rx AS (
        |  SELECT x, 2 * (SUM(c) OVER (ORDER BY x) - c) + c + 1 AS r_x
        |  FROM (SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM rows_ GROUP BY x)
        |), ry AS (
        |  SELECT y, 2 * (SUM(c) OVER (ORDER BY y) - c) + c + 1 AS r_y
        |  FROM (SELECT y, CAST(COUNT(*) AS BIGINT) AS c FROM rows_ GROUP BY y)
        |), j AS (
        |  SELECT r_x, r_y FROM rows_ JOIN rx USING (x) JOIN ry USING (y)
        |), m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(r_x) AS BIGINT) AS sa, CAST(SUM(r_y) AS BIGINT) AS sb,
        |    CAST(SUM(r_x * r_x) AS BIGINT) AS saa,
        |    CAST(SUM(r_y * r_y) AS BIGINT) AS sbb,
        |    CAST(SUM(r_x * r_y) AS BIGINT) AS sab
        |  FROM j
        |)
        |, d AS (
        |  SELECT n,
        |    CAST(n AS DOUBLE) * sab - CAST(sa AS DOUBLE) * sb AS num,
        |    CAST(n AS DOUBLE) * saa - CAST(sa AS DOUBLE) * sa AS fa,
        |    CAST(n AS DOUBLE) * sbb - CAST(sb AS DOUBLE) * sb AS fb
        |  FROM m
        |)
        |SELECT n,
        |  CASE WHEN fa > 0 AND fb > 0 THEN
        |    FLOOR(num / (sqrt(fa) * sqrt(fb)) * 1000000.0 + 0.500001)
        |      / 1000000.0 END AS rho
        |FROM d""".stripMargin,

    // four exact BIGINT counts (integer-cents conversion boundary), then
    // the identical fixed float sequence; degenerate pool ⇒ NULL/abstain
    "q_prop_ztest" ->
      """WITH u AS (
        |  SELECT user_id,
        |    CASE WHEN CAST(SUM(CASE WHEN event_type = 'purchase'
        |        THEN CAST(FLOOR(value * 100.0 + 0.500001) AS BIGINT)
        |        ELSE 0 END) AS BIGINT) >= 50000 THEN 1 ELSE 0 END AS conv,
        |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4) AS BIGINT) % 2 AS g
        |  FROM events GROUP BY user_id
        |), m AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |    CAST(SUM(CASE WHEN g = 0 THEN conv ELSE 0 END) AS BIGINT) AS xa,
        |    CAST(SUM(CASE WHEN g = 1 THEN conv ELSE 0 END) AS BIGINT) AS xb
        |  FROM u
        |), c AS (
        |  SELECT *,
        |    CAST(xa AS DOUBLE) / na AS pa, CAST(xb AS DOUBLE) / nb AS pb,
        |    CAST(xa + xb AS DOUBLE) / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
        |      AS pp
        |  FROM m
        |), zz AS (
        |  SELECT *, CASE WHEN xa + xb > 0 AND xa + xb < na + nb
        |    THEN (pa - pb) / sqrt(pp * (1.0 - pp)
        |      * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE)))
        |    END AS z
        |  FROM c
        |)
        |SELECT na AS n_a, nb AS n_b, xa AS conv_a, xb AS conv_b,
        |  FLOOR(pa * 1000000.0 + 0.500001) / 1000000.0 AS rate_a,
        |  FLOOR(pb * 1000000.0 + 0.500001) / 1000000.0 AS rate_b,
        |  FLOOR((pa - pb) * 1000000.0 + 0.500001) / 1000000.0 AS abs_lift,
        |  FLOOR(z * 1000000.0 + 0.500001) / 1000000.0 AS z_stat,
        |  CAST(CASE WHEN z IS NOT NULL AND abs(z) > 1.959963984540054
        |    THEN 1 ELSE 0 END AS BIGINT) AS reject_95
        |FROM zz""".stripMargin,

    // identical BIGINT histograms and the same r6-rounded-gain argmax; the
    // entropy terms are the only libm calls and they sit inside the r6
    "q_tree_split" ->
      """WITH o AS (
        |  SELECT CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT)
        |      AS cents,
        |    CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS mon,
        |    CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS BIGINT) AS dow,
        |    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END AS y
        |  FROM orders
        |), rng AS (
        |  SELECT MIN(cents) AS lo, MAX(cents) AS hi FROM o
        |), feats AS (
        |  SELECT 'price_bin' AS feature,
        |    CAST(((cents - lo) * 32) // (hi - lo + 1) AS BIGINT) AS bin, y
        |  FROM o, rng
        |  UNION ALL SELECT 'month', mon, y FROM o
        |  UNION ALL SELECT 'dow', dow, y FROM o
        |), hist AS (
        |  SELECT feature, bin, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(y) AS BIGINT) AS pos
        |  FROM feats GROUP BY feature, bin
        |), cum AS (
        |  SELECT feature, bin,
        |    CAST(SUM(n) OVER (PARTITION BY feature ORDER BY bin) AS BIGINT)
        |      AS nl,
        |    CAST(SUM(pos) OVER (PARTITION BY feature ORDER BY bin) AS BIGINT)
        |      AS pl,
        |    CAST(SUM(n) OVER (PARTITION BY feature) AS BIGINT) AS nt,
        |    CAST(SUM(pos) OVER (PARTITION BY feature) AS BIGINT) AS pt
        |  FROM hist
        |  QUALIFY nl < nt
        |), scored AS (
        |  SELECT *, nt - nl AS nr, pt - pl AS pr,
        |    FLOOR((
        |      (CASE WHEN pt = 0 OR pt = nt THEN 0.0
        |        ELSE -(CAST(pt AS DOUBLE) / nt * LN(CAST(pt AS DOUBLE) / nt)
        |          + (1.0 - CAST(pt AS DOUBLE) / nt)
        |            * LN(1.0 - CAST(pt AS DOUBLE) / nt)) END)
        |      - CAST(nl AS DOUBLE) / nt
        |        * (CASE WHEN pl = 0 OR pl = nl THEN 0.0
        |          ELSE -(CAST(pl AS DOUBLE) / nl * LN(CAST(pl AS DOUBLE) / nl)
        |            + (1.0 - CAST(pl AS DOUBLE) / nl)
        |              * LN(1.0 - CAST(pl AS DOUBLE) / nl)) END)
        |      - CAST(nt - nl AS DOUBLE) / nt
        |        * (CASE WHEN pt - pl = 0 OR pt - pl = nt - nl THEN 0.0
        |          ELSE -(CAST(pt - pl AS DOUBLE) / (nt - nl)
        |              * LN(CAST(pt - pl AS DOUBLE) / (nt - nl))
        |            + (1.0 - CAST(pt - pl AS DOUBLE) / (nt - nl))
        |              * LN(1.0 - CAST(pt - pl AS DOUBLE) / (nt - nl))) END)
        |    ) * 1000000.0 + 0.500001) / 1000000.0 AS gain6,
        |    ROW_NUMBER() OVER (PARTITION BY feature
        |      ORDER BY FLOOR((
        |      (CASE WHEN pt = 0 OR pt = nt THEN 0.0
        |        ELSE -(CAST(pt AS DOUBLE) / nt * LN(CAST(pt AS DOUBLE) / nt)
        |          + (1.0 - CAST(pt AS DOUBLE) / nt)
        |            * LN(1.0 - CAST(pt AS DOUBLE) / nt)) END)
        |      - CAST(nl AS DOUBLE) / nt
        |        * (CASE WHEN pl = 0 OR pl = nl THEN 0.0
        |          ELSE -(CAST(pl AS DOUBLE) / nl * LN(CAST(pl AS DOUBLE) / nl)
        |            + (1.0 - CAST(pl AS DOUBLE) / nl)
        |              * LN(1.0 - CAST(pl AS DOUBLE) / nl)) END)
        |      - CAST(nt - nl AS DOUBLE) / nt
        |        * (CASE WHEN pt - pl = 0 OR pt - pl = nt - nl THEN 0.0
        |          ELSE -(CAST(pt - pl AS DOUBLE) / (nt - nl)
        |              * LN(CAST(pt - pl AS DOUBLE) / (nt - nl))
        |            + (1.0 - CAST(pt - pl AS DOUBLE) / (nt - nl))
        |              * LN(1.0 - CAST(pt - pl AS DOUBLE) / (nt - nl))) END)
        |      ) * 1000000.0 + 0.500001) / 1000000.0 DESC, bin) AS rn
        |  FROM cum
        |)
        |SELECT feature, bin AS threshold_bin, gain6 AS gain,
        |  nl AS n_left, pl AS pos_left, nr AS n_right, pr AS pos_right,
        |  FLOOR((CASE WHEN pt = 0 OR pt = nt THEN 0.0
        |    ELSE -(CAST(pt AS DOUBLE) / nt * LN(CAST(pt AS DOUBLE) / nt)
        |      + (1.0 - CAST(pt AS DOUBLE) / nt)
        |        * LN(1.0 - CAST(pt AS DOUBLE) / nt)) END)
        |    * 1000000.0 + 0.500001) / 1000000.0 AS base_entropy
        |FROM scored WHERE rn = 1 ORDER BY feature""".stripMargin,

    "q_ab_ttest" ->
      s"""WITH $ArmMomentsCte
        |SELECT na AS n_a, nb AS n_b,
        |  FLOOR(ma * 1000000.0 + 0.500001) / 1000000.0 AS mean_a,
        |  FLOOR(mb * 1000000.0 + 0.500001) / 1000000.0 AS mean_b,
        |  FLOOR((ma - mb) / sqrt(va / na + vb / nb) * 1000000.0 + 0.500001)
        |    / 1000000.0 AS t_stat,
        |  FLOOR(pow(va / na + vb / nb, 2)
        |    / (pow(va / na, 2) / (na - 1) + pow(vb / nb, 2) / (nb - 1))
        |    * 10000.0 + 0.500001) / 10000.0 AS df,
        |  CAST(CASE WHEN abs((ma - mb) / sqrt(va / na + vb / nb)) >
        |    1.959963984540054
        |      + (pow(1.959963984540054, 3) + 1.959963984540054) / (4.0 * df2.df)
        |      + (5.0 * pow(1.959963984540054, 5) + 16.0 * pow(1.959963984540054, 3)
        |         + 3.0 * 1.959963984540054) / (96.0 * df2.df * df2.df)
        |    THEN 1 ELSE 0 END AS BIGINT) AS significant
        |FROM m, LATERAL (SELECT pow(va / na + vb / nb, 2)
        |  / (pow(va / na, 2) / (na - 1) + pow(vb / nb, 2) / (nb - 1)) AS df) AS df2""".stripMargin,

    "q_chi_square" ->
      s"""WITH $ContingencyCte, g AS (
        |  SELECT MAX(n) AS nn, CAST(COUNT(*) AS BIGINT) AS n_cells,
        |    SUM(CASE WHEN rnx = 1 THEN 1 ELSE 0 END) AS r,
        |    SUM(CASE WHEN rny = 1 THEN 1 ELSE 0 END) AS cc,
        |    SUM(pow(c - CAST(rt AS DOUBLE) * ct / n, 2)
        |      / (CAST(rt AS DOUBLE) * ct / n)) AS chi2
        |  FROM cont
        |)
        |SELECT CAST(nn AS BIGINT) AS n, n_cells,
        |  FLOOR(chi2 * 10000.0 + 0.500001) / 10000.0 AS chi2,
        |  CAST((r - 1) * (cc - 1) AS BIGINT) AS dof,
        |  FLOOR(sqrt(chi2 / (nn * least(r - 1, cc - 1))) * 1000000.0 + 0.500001)
        |    / 1000000.0 AS cramers_v
        |FROM g""".stripMargin,

    "q_mutual_info" ->
      s"""WITH $ContingencyCte, g AS (
        |  SELECT MAX(n) AS nn,
        |    SUM((c / CAST(n AS DOUBLE))
        |      * ln(c * CAST(n AS DOUBLE) / (CAST(rt AS DOUBLE) * ct))) AS mi,
        |    SUM(CASE WHEN rnx = 1
        |      THEN (rt / CAST(n AS DOUBLE)) * ln(CAST(n AS DOUBLE) / rt)
        |      ELSE 0.0 END) AS hx,
        |    SUM(CASE WHEN rny = 1
        |      THEN (ct / CAST(n AS DOUBLE)) * ln(CAST(n AS DOUBLE) / ct)
        |      ELSE 0.0 END) AS hy
        |  FROM cont
        |)
        |SELECT CAST(nn AS BIGINT) AS n,
        |  FLOOR(mi * 1000000.0 + 0.500001) / 1000000.0 AS mi,
        |  FLOOR(hx * 1000000.0 + 0.500001) / 1000000.0 AS h_x,
        |  FLOOR(hy * 1000000.0 + 0.500001) / 1000000.0 AS h_y,
        |  FLOOR(mi / sqrt(hx * hy) * 1000000.0 + 0.500001) / 1000000.0 AS nmi
        |FROM g""".stripMargin,

    "q_cond_entropy" ->
      """WITH pairs AS (
        |  SELECT event_type AS cur,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS nxt
        |  FROM events
        |), cells AS (
        |  SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM pairs WHERE nxt IS NOT NULL GROUP BY 1, 2
        |), cont AS (
        |  SELECT cur, nxt, c,
        |    SUM(c) OVER (PARTITION BY cur) AS rt,
        |    SUM(c) OVER (PARTITION BY nxt) AS ct,
        |    SUM(c) OVER () AS n,
        |    row_number() OVER (PARTITION BY nxt ORDER BY cur) AS rny
        |  FROM cells
        |), g AS (
        |  SELECT CAST(MAX(n) AS BIGINT) AS nn,
        |    SUM((c / CAST(n AS DOUBLE)) * ln(CAST(rt AS DOUBLE) / c)) AS hc,
        |    SUM(CASE WHEN rny = 1
        |      THEN (ct / CAST(n AS DOUBLE)) * ln(CAST(n AS DOUBLE) / ct)
        |      ELSE 0.0 END) AS hn
        |  FROM cont
        |)
        |SELECT nn AS n_transitions,
        |  FLOOR(hn * 1000000.0 + 0.500001) / 1000000.0 AS h_next,
        |  FLOOR(hc * 1000000.0 + 0.500001) / 1000000.0 AS h_cond,
        |  FLOOR((hn - hc) * 1000000.0 + 0.500001) / 1000000.0 AS info_gain,
        |  FLOOR((hn - hc) / hn * 1000000.0 + 0.500001) / 1000000.0 AS gain_ratio
        |FROM g""".stripMargin,

    "q_benford" ->
      """WITH cells AS (
        |  SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice * 100.0 + 0.500001)
        |      AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS d,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM orders WHERE o_totalprice > 0 GROUP BY 1
        |), w AS (
        |  SELECT d, c, SUM(c) OVER () AS n,
        |    CAST(SUM(c) OVER () AS DOUBLE) * log10(1.0 + 1.0 / d) AS e
        |  FROM cells
        |), g AS (
        |  SELECT CAST(MAX(n) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS n_digits,
        |    SUM(pow(c - e, 2) / e) AS chi2,
        |    CAST(MAX(CASE WHEN d = 1 THEN c END) AS BIGINT) AS n_digit1
        |  FROM w
        |)
        |SELECT n, n_digits,
        |  FLOOR(chi2 * 10000.0 + 0.500001) / 10000.0 AS chi2_benford,
        |  CAST(8 AS BIGINT) AS dof,
        |  FLOOR(CAST(n_digit1 AS DOUBLE) / n * 1000000.0 + 0.500001)
        |    / 1000000.0 AS digit1_share,
        |  CAST(CASE WHEN chi2 > 20.09 THEN 1 ELSE 0 END AS BIGINT) AS reject_99
        |FROM g""".stripMargin,

    "q_ks_test" ->
      """WITH o AS (
        |  SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 0 ELSE 1 END AS g,
        |    CAST(FLOOR(o_totalprice / 1000.0) AS BIGINT) AS bin
        |  FROM orders
        |), hist AS (
        |  SELECT bin,
        |    CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM o GROUP BY bin
        |), cum AS (
        |  SELECT bin, ca, cb,
        |    SUM(ca) OVER (ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
        |    SUM(cb) OVER (ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb,
        |    SUM(ca) OVER () AS na, SUM(cb) OVER () AS nb
        |  FROM hist
        |), g AS (
        |  SELECT MAX(na) AS na, MAX(nb) AS nb,
        |    CAST(COUNT(*) AS BIGINT) AS n_bins,
        |    MAX(abs(cuma * nb - cumb * na)) AS dn
        |  FROM cum
        |)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b, n_bins,
        |  FLOOR(CAST(dn AS DOUBLE) / (CAST(na AS DOUBLE) * nb) * 1000000.0
        |    + 0.500001) / 1000000.0 AS d_stat,
        |  FLOOR(CAST(dn AS DOUBLE) / (CAST(na AS DOUBLE) * nb)
        |    * sqrt(CAST(na AS DOUBLE) * nb / (na + nb)) * 1000000.0
        |    + 0.500001) / 1000000.0 AS ks_stat,
        |  CAST(CASE WHEN CAST(dn AS DOUBLE) / (CAST(na AS DOUBLE) * nb)
        |    * sqrt(CAST(na AS DOUBLE) * nb / (na + nb)) > 1.358
        |    THEN 1 ELSE 0 END AS BIGINT) AS reject_95
        |FROM g""".stripMargin,

    "q_ks_exact" ->
      s"""WITH o AS (
        |  SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 0 ELSE 1 END AS g,
        |    CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT) AS v
        |  FROM orders WHERE o_orderkey % 20 = 0
        |), $AbHistCte, cum AS (
        |  SELECT ca, cb,
        |    SUM(ca) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
        |    SUM(cb) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb,
        |    SUM(ca) OVER () AS na, SUM(cb) OVER () AS nb
        |  FROM hist
        |), g AS (
        |  SELECT MAX(na) AS na, MAX(nb) AS nb,
        |    CAST(COUNT(*) AS BIGINT) AS n_values,
        |    MAX(abs(cuma * nb - cumb * na)) AS dn
        |  FROM cum
        |)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b, n_values,
        |  CAST(dn AS BIGINT) AS d_num,
        |  FLOOR(CAST(dn AS DOUBLE) / (CAST(na AS DOUBLE) * nb) * 1000000.0
        |    + 0.500001) / 1000000.0 AS d_stat,
        |  FLOOR(CAST(dn AS DOUBLE) / (CAST(na AS DOUBLE) * nb)
        |    * sqrt(CAST(na AS DOUBLE) * nb / (na + nb)) * 1000000.0
        |    + 0.500001) / 1000000.0 AS ks_stat,
        |  CAST(CASE WHEN CAST(dn AS DOUBLE) / (CAST(na AS DOUBLE) * nb)
        |    * sqrt(CAST(na AS DOUBLE) * nb / (na + nb)) > 1.358
        |    THEN 1 ELSE 0 END AS BIGINT) AS reject_95
        |FROM g""".stripMargin,

    "q_regression" ->
      """WITH r AS (
        |  SELECT l_returnflag AS flag,
        |    CAST(l_quantity AS BIGINT) AS x,
        |    CAST(FLOOR(l_extendedprice * 100.0 + 0.500001) AS BIGINT) AS y
        |  FROM lineitem
        |), m AS (
        |  SELECT flag, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
        |  FROM r GROUP BY flag
        |), s AS (
        |  SELECT flag, n, sx, sy,
        |    CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
        |      AS covn,
        |    CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
        |      AS varxn,
        |    CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
        |      AS varyn
        |  FROM m
        |)
        |SELECT flag, n,
        |  FLOOR(covn / varxn * 1000000.0 + 0.500001) / 1000000.0 AS slope,
        |  FLOOR((CAST(sy AS DOUBLE) - covn / varxn * CAST(sx AS DOUBLE))
        |    / CAST(n AS DOUBLE) * 10000.0 + 0.500001) / 10000.0 AS intercept,
        |  FLOOR(covn * covn / (varxn * varyn) * 1000000.0 + 0.500001)
        |    / 1000000.0 AS r2
        |FROM s ORDER BY flag""".stripMargin,

    "q_anova" ->
      """WITH g AS (
        |  SELECT c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS ng,
        |    CAST(SUM(CAST(FLOOR(c_acctbal * 100.0 + 0.500001) AS BIGINT))
        |      AS BIGINT) AS sg,
        |    CAST(SUM(CAST(CAST(FLOOR(c_acctbal * 100.0 + 0.500001) AS BIGINT)
        |      AS HUGEINT)
        |      * CAST(FLOOR(c_acctbal * 100.0 + 0.500001) AS BIGINT))
        |      AS DOUBLE) AS ssqg
        |  FROM customer GROUP BY seg
        |), cum AS (
        |  SELECT SUM(ng) OVER () AS nn, SUM(sg) OVER () AS ss,
        |    SUM(ssqg) OVER (ORDER BY seg
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS syy_na,
        |    SUM(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE))
        |      OVER (ORDER BY seg
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tcum,
        |    COUNT(*) OVER () AS k,
        |    ROW_NUMBER() OVER (ORDER BY seg) AS rn
        |  FROM g
        |), f AS (
        |  SELECT CAST(k AS BIGINT) AS k, CAST(nn AS BIGINT) AS n,
        |    tcum - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)
        |      / CAST(nn AS DOUBLE) AS ssb,
        |    syy_na - tcum AS ssw,
        |    CAST(nn AS DOUBLE) AS nd, CAST(k AS DOUBLE) AS kd
        |  FROM cum WHERE rn = k
        |)
        |SELECT k, n,
        |  FLOOR(ssb * 100.0 + 0.500001) / 100.0 AS ss_between,
        |  FLOOR(ssw * 100.0 + 0.500001) / 100.0 AS ss_within,
        |  FLOOR(ssb / (ssb + ssw) * 1000000.0 + 0.500001) / 1000000.0
        |    AS eta_sq,
        |  FLOOR((ssb / (kd - 1)) / (ssw / (nd - kd)) * 10000.0 + 0.500001)
        |    / 10000.0 AS f_stat
        |FROM f""".stripMargin,

    "q_mann_whitney" ->
      s"""WITH o AS (
        |  SELECT CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 4)
        |      AS BIGINT) % 2 AS g,
        |    CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT) AS v
        |  FROM orders WHERE o_orderkey % 20 = 0
        |), $AbHistCte, cum AS (
        |  SELECT ca, cb, ca + cb AS c,
        |    SUM(ca) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    + SUM(cb) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    - (ca + cb) AS bef
        |  FROM hist
        |), g AS (
        |  SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb,
        |    CAST(SUM(ca * (bef * 2 + c + 1)) AS BIGINT) AS two_ra,
        |    CAST(SUM(c * c * c - c) AS BIGINT) AS ties
        |  FROM cum
        |), z AS (
        |  SELECT na, nb, two_ra - na * (na + 1) AS two_u, ties,
        |    CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd,
        |    CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) AS nd
        |  FROM g
        |), zz AS (
        |  SELECT na, nb, two_u, ties,
        |    (CAST(two_u AS DOUBLE) - nad * nbd)
        |      / (2.0 * sqrt(nad * nbd / 12.0
        |        * ((nd + 1) - CAST(ties AS DOUBLE) / (nd * (nd - 1))))) AS z
        |  FROM z
        |)
        |SELECT na AS n_a, nb AS n_b, CAST(two_u AS DOUBLE) / 2.0 AS u_stat,
        |  ties AS tie_term,
        |  FLOOR(z * 1000000.0 + 0.500001) / 1000000.0 AS z_stat,
        |  CAST(CASE WHEN abs(z) > 1.959963984540054 THEN 1 ELSE 0 END
        |    AS BIGINT) AS reject_95
        |FROM zz""".stripMargin,

    // identical per-group histogram with cumulative befores; the doubled
    // dominance sum accumulates the same 10 exact pair terms (HUGEINT),
    // E and the no-tie Var compose in the same literal order
    "q_jonckheere" -> jonckheereOracle,

    // identical schema-bounded cell census and strict-q pair join; every
    // concordance mass exact HUGEINT, three single divisions with the
    // same NULL-guarded denominators
    "q_gk_gamma" ->
      """WITH cells AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS q,
        |    CAST(FLOOR(l_discount * 100.0 + 0.500001) AS BIGINT) AS d,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM lineitem GROUP BY 1, 2
        |), px AS (
        |  SELECT
        |    SUM(CASE WHEN a.d < b.d THEN CAST(a.n AS HUGEINT) * b.n
        |      ELSE 0 END) AS conc,
        |    SUM(CASE WHEN a.d > b.d THEN CAST(a.n AS HUGEINT) * b.n
        |      ELSE 0 END) AS disc,
        |    SUM(CASE WHEN a.d = b.d THEN CAST(a.n AS HUGEINT) * b.n
        |      ELSE 0 END) AS ty
        |  FROM cells a JOIN cells b ON a.q < b.q
        |), ptx AS (
        |  SELECT COALESCE(SUM(CAST(a.n AS HUGEINT) * b.n), 0) AS tx
        |  FROM cells a JOIN cells b ON a.q = b.q AND a.d < b.d
        |), meta AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
        |    CAST(SUM(n) AS BIGINT) AS n_rows
        |  FROM cells
        |), f1 AS (
        |  SELECT n_rows, n_cells,
        |    CAST(conc AS BIGINT) AS conc, CAST(disc AS BIGINT) AS disc,
        |    CAST(conc AS DOUBLE) + CAST(disc AS DOUBLE) AS cd,
        |    CAST(conc AS DOUBLE) - CAST(disc AS DOUBLE) AS num,
        |    CAST(ty AS DOUBLE) AS tyd, CAST(tx AS DOUBLE) AS txd
        |  FROM px, ptx, meta
        |)
        |SELECT n_rows, n_cells, conc, disc,
        |  FLOOR(num / CASE WHEN cd > 0.0 THEN cd END
        |    * 1000000.0 + 0.500001) / 1000000.0 AS gamma,
        |  FLOOR(num / CASE WHEN cd + tyd > 0.0 THEN cd + tyd END
        |    * 1000000.0 + 0.500001) / 1000000.0 AS somers_dyx,
        |  FLOOR(num / CASE WHEN cd + txd > 0.0 THEN cd + txd END
        |    * 1000000.0 + 0.500001) / 1000000.0 AS somers_dxy
        |FROM f1""".stripMargin,

    // same doubled-midrank histogram as the Brunner–Munzel mirror with
    // the distance-from-extremes score LEAST(D, 2(N+1)−D) exact BIGINT;
    // parity-split classical moments in identical literal order
    "q_ansari_bradley" ->
      s"""WITH $UrgentHistCte, cum AS (
        |  SELECT c1, c2,
        |    CAST(SUM(c1) OVER () AS BIGINT) AS n1,
        |    CAST(SUM(c2) OVER () AS BIGINT) AS n2,
        |    CAST(SUM(c1 + c2) OVER w - (c1 + c2) AS BIGINT) AS bef
        |  FROM hist
        |  WINDOW w AS (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), kern AS (
        |  SELECT c2, n1, n2,
        |    LEAST(2 * bef + c1 + c2 + 1,
        |      2 * (n1 + n2 + 1) - (2 * bef + c1 + c2 + 1)) AS s2
        |  FROM cum
        |), g AS (
        |  SELECT CAST(MAX(n1) AS BIGINT) AS n1, CAST(MAX(n2) AS BIGINT) AS n2,
        |    CAST(SUM(c2 * s2) AS BIGINT) AS ab2
        |  FROM kern
        |), f1 AS (
        |  SELECT n1, n2, ab2,
        |    CASE WHEN n1 >= 2 THEN CAST(n1 AS DOUBLE) END AS n1d,
        |    CASE WHEN n2 >= 2 THEN CAST(n2 AS DOUBLE) END AS n2d,
        |    (n1 + n2) % 2 = 0 AS even
        |  FROM g
        |), f2 AS (
        |  SELECT *, n1d + n2d AS nd FROM f1
        |), f3 AS (
        |  SELECT n1, n2, ab2, nd, n1d, n2d,
        |    CASE WHEN even THEN n2d * (nd + 2.0) / 4.0
        |      ELSE n2d * (nd + 1.0) * (nd + 1.0) / (4.0 * nd) END AS e,
        |    CASE WHEN even THEN
        |        n1d * n2d * (nd + 2.0) * (nd - 2.0) / (48.0 * (nd - 1.0))
        |      ELSE n1d * n2d * (nd + 1.0) * (3.0 + nd * nd)
        |        / (48.0 * nd * nd) END AS varab
        |  FROM f2
        |), f4 AS (
        |  SELECT n1, n2, ab2, e, varab,
        |    n1 >= 2 AND n2 >= 2 AND varab > 0.0 AS ok
        |  FROM f3
        |), f5 AS (
        |  SELECT n1, n2, ab2, e, ok,
        |    CASE WHEN ok THEN
        |      FLOOR((CAST(ab2 AS DOUBLE) / 2.0 - e) / SQRT(varab)
        |        * 1000000.0 + 0.500001) / 1000000.0 END AS zr
        |  FROM f4
        |)
        |SELECT n1 AS n_1, n2 AS n_2,
        |  CAST(ab2 AS DOUBLE) / 2.0 AS ab_stat,
        |  CASE WHEN ok THEN
        |    FLOOR(e * 100.0 + 0.500001) / 100.0 END AS ab_expected,
        |  zr AS z_stat,
        |  CAST(COALESCE(CASE WHEN ABS(zr) > 1.959963984540054
        |    THEN 1 ELSE 0 END, 0) AS BIGINT) AS scale_differs_95
        |FROM f5""".stripMargin,

    // the q_mann_whitney histogram with DOUBLED midranks: every rank
    // quantity and the deviation kernel A stay exact BIGINT, the ΣA/ΣA²
    // moments exact HUGEINT, and S²/p̂/W/df compose in the same literal
    // order; sub-threshold groups abstain via the same NULL denominators
    "q_brunner_munzel" ->
      s"""WITH $UrgentHistCte, cum AS (
        |  SELECT c1, c2,
        |    CAST(SUM(c1) OVER () AS BIGINT) AS n1,
        |    CAST(SUM(c2) OVER () AS BIGINT) AS n2,
        |    CAST(SUM(c1 + c2) OVER w - (c1 + c2) AS BIGINT) AS bef,
        |    CAST(SUM(c1) OVER w - c1 AS BIGINT) AS bef1,
        |    CAST(SUM(c2) OVER w - c2 AS BIGINT) AS bef2
        |  FROM hist
        |  WINDOW w AS (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), kern AS (
        |  SELECT c1, c2, n1, n2,
        |    2 * bef + c1 + c2 + 1 AS dall,
        |    (2 * bef + c1 + c2 + 1) - (2 * bef1 + c1 + 1) + n1 + 1 AS a1,
        |    (2 * bef + c1 + c2 + 1) - (2 * bef2 + c2 + 1) + n2 + 1 AS a2
        |  FROM cum
        |), g AS (
        |  SELECT CAST(MAX(n1) AS BIGINT) AS n1, CAST(MAX(n2) AS BIGINT) AS n2,
        |    CAST(SUM(c1 * dall) AS BIGINT) AS sd1,
        |    CAST(SUM(c2 * dall) AS BIGINT) AS sd2,
        |    CAST(SUM(c1 * a1) AS BIGINT) AS sa1,
        |    SUM(CAST(c1 AS HUGEINT) * a1 * a1) AS saa1,
        |    CAST(SUM(c2 * a2) AS BIGINT) AS sa2,
        |    SUM(CAST(c2 AS HUGEINT) * a2 * a2) AS saa2
        |  FROM kern
        |), f1 AS (
        |  SELECT n1, n2, sd1, sd2, sa1, saa1, sa2, saa2,
        |    CASE WHEN n1 >= 2 THEN CAST(n1 AS DOUBLE) END AS n1d,
        |    CASE WHEN n2 >= 2 THEN CAST(n2 AS DOUBLE) END AS n2d
        |  FROM g
        |), f2 AS (
        |  SELECT *, n1d + n2d AS nd,
        |    CAST(sd1 AS DOUBLE) / n1d AS m1,
        |    CAST(sd2 AS DOUBLE) / n2d AS m2
        |  FROM f1
        |), f3 AS (
        |  SELECT *,
        |    (CAST(saa1 AS DOUBLE) - 2.0 * m1 * CAST(sa1 AS DOUBLE)
        |      + n1d * m1 * m1) / 4.0 / (n1d - 1.0) AS s1q,
        |    (CAST(saa2 AS DOUBLE) - 2.0 * m2 * CAST(sa2 AS DOUBLE)
        |      + n2d * m2 * m2) / 4.0 / (n2d - 1.0) AS s2q
        |  FROM f2
        |), f4 AS (
        |  SELECT *, n1d * s1q + n2d * s2q AS vsum,
        |    (m2 - m1) / 2.0 AS diff
        |  FROM f3
        |), f5 AS (
        |  SELECT n1, n2, n1d, n2d, nd, m1, m2, s1q, s2q, vsum,
        |    n1 >= 2 AND n2 >= 2 AND vsum > 0.0 AS ok,
        |    n1d * n2d * diff / nd / SQRT(vsum) AS w,
        |    (m2 / 2.0 - (n2d + 1.0) / 2.0) / n1d AS phat,
        |    vsum * vsum / ((n1d * s1q) * (n1d * s1q) / (n1d - 1.0)
        |      + (n2d * s2q) * (n2d * s2q) / (n2d - 1.0)) AS dfs
        |  FROM f4
        |), f6 AS (
        |  SELECT n1, n2, ok, phat, dfs,
        |    CASE WHEN ok THEN
        |      FLOOR(w * 1000000.0 + 0.500001) / 1000000.0 END AS wr
        |  FROM f5
        |)
        |SELECT n1 AS n_1, n2 AS n_2,
        |  CASE WHEN ok THEN
        |    FLOOR(phat * 1000000.0 + 0.500001) / 1000000.0 END AS p_hat,
        |  wr AS w_stat,
        |  CASE WHEN ok THEN
        |    FLOOR(dfs * 100.0 + 0.500001) / 100.0 END AS df,
        |  CAST(COALESCE(CASE WHEN ABS(wr) > 1.959963984540054
        |    THEN 1 ELSE 0 END, 0) AS BIGINT) AS reject_95
        |FROM f6""".stripMargin,

    // exact .5-grid medians (2·median is BIGINT on both engines), integer
    // deviations, then the q_anova group-ordered float assembly verbatim
    "q_levene" ->
      """WITH o AS (
        |  SELECT o_orderpriority AS grp,
        |    CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT) AS v
        |  FROM orders
        |), med AS (
        |  SELECT grp, CAST(FLOOR(median(v) * 2 + 0.500001) AS BIGINT) AS med2
        |  FROM o GROUP BY grp
        |), z AS (
        |  SELECT o.grp, ABS(o.v * 2 - med.med2) AS z2
        |  FROM o JOIN med USING (grp)
        |), g AS (
        |  SELECT grp, CAST(COUNT(*) AS BIGINT) AS ng,
        |    CAST(SUM(z2) AS BIGINT) AS sg,
        |    CAST(SUM(CAST(z2 AS HUGEINT) * z2) AS DOUBLE) AS ssqg
        |  FROM z GROUP BY grp
        |), cum AS (
        |  SELECT SUM(ng) OVER () AS nn, SUM(sg) OVER () AS ss,
        |    SUM(ssqg) OVER (ORDER BY grp
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS syy,
        |    SUM(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE))
        |      OVER (ORDER BY grp
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tcum,
        |    COUNT(*) OVER () AS k,
        |    ROW_NUMBER() OVER (ORDER BY grp) AS rn
        |  FROM g
        |), f AS (
        |  SELECT CAST(k AS BIGINT) AS k, CAST(nn AS BIGINT) AS n,
        |    tcum - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)
        |      / CAST(nn AS DOUBLE) AS ssb,
        |    syy - tcum AS ssw,
        |    CAST(nn AS DOUBLE) AS nd, CAST(k AS DOUBLE) AS kd
        |  FROM cum WHERE rn = k
        |)
        |SELECT k, n,
        |  FLOOR(ssb / 40000.0 * 100.0 + 0.500001) / 100.0 AS ss_between,
        |  FLOOR(ssw / 40000.0 * 100.0 + 0.500001) / 100.0 AS ss_within,
        |  FLOOR((ssb / (kd - 1)) / (ssw / (nd - kd)) * 10000.0 + 0.500001)
        |    / 10000.0 AS f_stat
        |FROM f""".stripMargin,

    // same integer sign algebra over the same quadratic pair census; the
    // one float sequence ((C−D)/√(product of exact ≤8e12 integers)) is
    // identical term for term, NULL-abstaining when a series is constant
    "q_kendall_tau" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS x,
        |    CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT))
        |      AS BIGINT) AS y
        |  FROM orders GROUP BY 1
        |), p AS (
        |  SELECT
        |    CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END AS cx,
        |    CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END AS cy
        |  FROM daily a JOIN daily b ON a.day < b.day
        |), agg AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN cx * cy > 0 THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |    CAST(SUM(CASE WHEN cx * cy < 0 THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(SUM(CASE WHEN cx = 0 AND cy <> 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS tx,
        |    CAST(SUM(CASE WHEN cy = 0 AND cx <> 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ty,
        |    CAST(SUM(CASE WHEN cx = 0 AND cy = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS tb
        |  FROM p
        |), n AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily
        |), f AS (
        |  SELECT n_days, c, d, tx, ty, tb,
        |    CAST(n_days AS DOUBLE) * (n_days - 1) / 2 AS n0
        |  FROM agg, n
        |)
        |SELECT n_days, c AS concordant, d AS discordant, tx AS ties_x,
        |  ty AS ties_y, tb AS ties_both,
        |  CASE WHEN sqrt((n0 - tx - tb) * (n0 - ty - tb)) > 0 THEN
        |    FLOOR(CAST(c - d AS DOUBLE)
        |      / sqrt((n0 - tx - tb) * (n0 - ty - tb))
        |      * 1000000.0 + 0.500001) / 1000000.0 END AS tau_b
        |FROM f""".stripMargin,

    // identical exact integer moment matrix (DuckDB sums BIGINT into
    // HUGEINT — exact like Spark's DECIMAL(38,0) partials), identical
    // final float sequence
    "q_partial_corr" ->
      """WITH rows_ AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS x,
        |    CAST(FLOOR(l_extendedprice * 100.0 + 0.500001) AS BIGINT) AS y,
        |    CAST(FLOOR(l_discount * 100.0 + 0.500001) AS BIGINT) AS z
        |  FROM lineitem
        |), m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(x) AS sx, SUM(y) AS sy, SUM(z) AS sz,
        |    SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(z * z) AS szz,
        |    SUM(x * y) AS sxy, SUM(x * z) AS sxz, SUM(y * z) AS syz
        |  FROM rows_
        |), r AS (
        |  SELECT n,
        |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / sqrt(GREATEST((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 0.0)) AS rxy,
        |    (CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE)
        |       - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE))
        |      / sqrt(GREATEST((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |        * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
        |          - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)), 0.0)) AS rxz,
        |    (CAST(n AS DOUBLE) * CAST(syz AS DOUBLE)
        |       - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE))
        |      / sqrt(GREATEST((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
        |        * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
        |          - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)), 0.0)) AS ryz
        |  FROM m
        |)
        |SELECT n,
        |  FLOOR(rxy * 1000000.0 + 0.500001) / 1000000.0 AS r_xy,
        |  FLOOR(rxz * 1000000.0 + 0.500001) / 1000000.0 AS r_xz,
        |  FLOOR(ryz * 1000000.0 + 0.500001) / 1000000.0 AS r_yz,
        |  FLOOR((rxy - rxz * ryz)
        |    / sqrt(GREATEST((1.0 - rxz * rxz) * (1.0 - ryz * ryz), 0.0))
        |    * 1000000.0 + 0.500001) / 1000000.0 AS r_xy_given_z
        |FROM r""".stripMargin,

    // identical raters (char-length vs whitespace-token-count), exact 2x2
    // confusion counts, one final float sequence
    "q_cohens_kappa" ->
      """WITH rated AS (
        |  SELECT
        |    CASE WHEN n_chars >= 400 THEN 1 ELSE 0 END AS a,
        |    CASE WHEN array_length(regexp_split_to_array(TRIM(text), '\s+'))
        |      >= 60 THEN 1 ELSE 0 END AS b
        |  FROM documents
        |), m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(a * b) AS BIGINT) AS n11,
        |    CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
        |    CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
        |    CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
        |  FROM rated
        |), p AS (
        |  SELECT n, n11, n10, n01, n00,
        |    CAST(n11 + n00 AS DOUBLE) / n AS po,
        |    (CAST(n11 + n10 AS DOUBLE) / n) * (CAST(n11 + n01 AS DOUBLE) / n)
        |      + (1.0 - CAST(n11 + n10 AS DOUBLE) / n)
        |        * (1.0 - CAST(n11 + n01 AS DOUBLE) / n) AS pe
        |  FROM m
        |)
        |SELECT n, n11, n10, n01, n00,
        |  FLOOR(po * 1000000.0 + 0.500001) / 1000000.0 AS p_observed,
        |  FLOOR(pe * 1000000.0 + 0.500001) / 1000000.0 AS p_expected,
        |  CASE WHEN pe < 1.0 THEN
        |    FLOOR((po - pe) / (1.0 - pe) * 1000000.0 + 0.500001) / 1000000.0
        |  END AS kappa
        |FROM p""".stripMargin,

    // identical bounded (priority x outcome) cells; ln on ratios of exact
    // integers; degenerate buckets abstain identically
    "q_woe_iv" ->
      """WITH cells AS (
        |  SELECT o_orderpriority AS bucket,
        |    CAST(SUM(CASE WHEN o_totalprice > 250000.0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS g,
        |    CAST(SUM(CASE WHEN o_totalprice > 250000.0 THEN 0 ELSE 1 END)
        |      AS BIGINT) AS b
        |  FROM orders GROUP BY 1
        |), tot AS (
        |  SELECT bucket, g, b,
        |    SUM(g) OVER () AS gt, SUM(b) OVER () AS bt
        |  FROM cells
        |), woe AS (
        |  SELECT bucket, g, b,
        |    CAST(g AS DOUBLE) / gt AS pg, CAST(b AS DOUBLE) / bt AS pb,
        |    CASE WHEN g > 0 AND b > 0
        |      THEN ln((CAST(g AS DOUBLE) / gt) / (CAST(b AS DOUBLE) / bt))
        |    END AS w
        |  FROM tot
        |), iv AS (
        |  SELECT FLOOR(ivc * 1000000.0 + 0.500001) / 1000000.0 AS iv_total
        |  FROM (
        |    SELECT SUM(CASE WHEN w IS NULL THEN 0.0 ELSE (pg - pb) * w END)
        |        OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS ivc,
        |      ROW_NUMBER() OVER (ORDER BY bucket) AS rn,
        |      COUNT(*) OVER () AS k
        |    FROM woe
        |  ) WHERE rn = k
        |)
        |SELECT bucket, g AS n_good, b AS n_bad,
        |  FLOOR(pg * 1000000.0 + 0.500001) / 1000000.0 AS pct_good,
        |  FLOOR(pb * 1000000.0 + 0.500001) / 1000000.0 AS pct_bad,
        |  FLOOR(w * 1000000.0 + 0.500001) / 1000000.0 AS woe,
        |  iv_total
        |FROM woe, iv
        |ORDER BY bucket""".stripMargin,

    // identical 5-cell exact moments, leave-one-out rest arms, the same
    // Zelen–Severo polynomial, and the same p-ascending prefix rule
    "q_bh_fdr" ->
      """WITH cells AS (
        |  SELECT o_orderpriority AS prio, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT))
        |      AS BIGINT) AS sv,
        |    SUM(CAST(CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT)
        |        AS HUGEINT)
        |      * CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT)) AS ssq
        |  FROM orders GROUP BY 1
        |), tot AS (
        |  SELECT prio, n, sv, ssq,
        |    SUM(n) OVER () AS nt, SUM(sv) OVER () AS svt,
        |    SUM(ssq) OVER () AS ssqt
        |  FROM cells
        |), zt AS (
        |  SELECT prio, n,
        |    CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) AS m,
        |    (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)
        |       - CAST(svt - sv AS DOUBLE) / CAST(nt - n AS DOUBLE))
        |      / sqrt(GREATEST(
        |        ((CAST(ssq AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)
        |            / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1))
        |          / CAST(n AS DOUBLE)
        |        + ((CAST(ssqt - ssq AS DOUBLE)
        |            - CAST(svt - sv AS DOUBLE) * CAST(svt - sv AS DOUBLE)
        |              / CAST(nt - n AS DOUBLE))
        |            / (CAST(nt - n AS DOUBLE) - 1)) / CAST(nt - n AS DOUBLE),
        |        0.0))
        |      AS z
        |  FROM tot
        |), pv AS (
        |  SELECT prio, n, m, z,
        |    2.0 * 0.3989422804014327 * exp(-abs(z) * abs(z) / 2.0)
        |      * ((1.0 / (1.0 + 0.2316419 * abs(z)))
        |        * (0.319381530 + (1.0 / (1.0 + 0.2316419 * abs(z)))
        |          * (-0.356563782 + (1.0 / (1.0 + 0.2316419 * abs(z)))
        |            * (1.781477937 + (1.0 / (1.0 + 0.2316419 * abs(z)))
        |              * (-1.821255978 + (1.0 / (1.0 + 0.2316419 * abs(z)))
        |                * 1.330274429))))) AS p
        |  FROM zt
        |), ranked AS (
        |  SELECT prio, n, m, z, p,
        |    ROW_NUMBER() OVER (ORDER BY p, prio) AS rn,
        |    COUNT(*) OVER () AS mm
        |  FROM pv
        |), crit AS (
        |  SELECT *, CAST(rn AS DOUBLE) / mm * 0.05 AS crit FROM ranked
        |), k AS (
        |  SELECT MAX(CASE WHEN p <= crit THEN rn ELSE 0 END) AS kstar
        |  FROM crit
        |)
        |SELECT prio, n,
        |  FLOOR(m / 100.0 * 100.0 + 0.500001) / 100.0 AS mean_total,
        |  FLOOR(z * 10000.0 + 0.500001) / 10000.0 AS z_stat,
        |  FLOOR(p * 1000000.0 + 0.500001) / 1000000.0 AS p_value,
        |  FLOOR(crit * 1000000.0 + 0.500001) / 1000000.0 AS bh_crit,
        |  CAST(CASE WHEN rn <= kstar THEN 1 ELSE 0 END AS BIGINT)
        |    AS reject_fdr_05
        |FROM crit, k ORDER BY prio""".stripMargin,

    // identical per-customer period totals (x=0 for no-pre customers),
    // identical exact moment matrix (HUGEINT vs DECIMAL38), identical
    // float sequence for theta/adjustment/variance-reduction
    "q_cuped" ->
      """WITH per AS (
        |  SELECT o_custkey,
        |    CAST(COALESCE(SUM(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
        |      THEN CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT)
        |      END), 0) AS BIGINT) AS x,
        |    CAST(COALESCE(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01'
        |      THEN CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT)
        |      END), 0) AS BIGINT) AS y,
        |    CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 4)
        |      AS BIGINT) % 2 AS g
        |  FROM orders GROUP BY o_custkey
        |), m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(x) AS sx, SUM(y) AS sy,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |    SUM(CAST(y AS HUGEINT) * y) AS syy,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |    CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(SUM(CASE WHEN g = 0 THEN x ELSE 0 END) AS BIGINT) AS sxa,
        |    CAST(SUM(CASE WHEN g = 0 THEN y ELSE 0 END) AS BIGINT) AS sya,
        |    CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |    CAST(SUM(CASE WHEN g = 1 THEN x ELSE 0 END) AS BIGINT) AS sxb,
        |    CAST(SUM(CASE WHEN g = 1 THEN y ELSE 0 END) AS BIGINT) AS syb
        |  FROM per
        |), f AS (
        |  SELECT n, na, nb, sxa, sya, sxb, syb,
        |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS varx,
        |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vary,
        |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS covxy,
        |    CAST(sx AS DOUBLE) / n AS xbar
        |  FROM m
        |), c AS (
        |  SELECT *, covxy / varx AS theta FROM f
        |)
        |SELECT n, na AS n_a, nb AS n_b,
        |  CASE WHEN varx > 0 THEN
        |    FLOOR(theta * 1000000.0 + 0.500001) / 1000000.0 END AS theta,
        |  FLOOR(CAST(sya AS DOUBLE) / na / 100.0 * 100.0 + 0.500001)
        |    / 100.0 AS mean_a_raw,
        |  FLOOR(CAST(syb AS DOUBLE) / nb / 100.0 * 100.0 + 0.500001)
        |    / 100.0 AS mean_b_raw,
        |  CASE WHEN varx > 0 THEN
        |    FLOOR((CAST(sya AS DOUBLE) / na
        |        - theta * (CAST(sxa AS DOUBLE) / na - xbar)) / 100.0
        |      * 100.0 + 0.500001) / 100.0 END AS mean_a_adj,
        |  CASE WHEN varx > 0 THEN
        |    FLOOR((CAST(syb AS DOUBLE) / nb
        |        - theta * (CAST(sxb AS DOUBLE) / nb - xbar)) / 100.0
        |      * 100.0 + 0.500001) / 100.0 END AS mean_b_adj,
        |  CASE WHEN varx > 0 AND vary > 0 THEN
        |    FLOOR(covxy * covxy / (varx * vary) * 1000000.0 + 0.500001)
        |      / 1000000.0 END AS var_reduction
        |FROM c""".stripMargin,

    // identical 2x2 cells, identical micro-unit-quantized SE terms
    "q_diff_in_diff" ->
      """WITH cells AS (
        |  SELECT
        |    CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 4)
        |      AS BIGINT) % 2 AS g,
        |    CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01'
        |      THEN 1 ELSE 0 END AS post,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT))
        |      AS BIGINT) AS s,
        |    SUM(CAST(CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT)
        |        AS HUGEINT)
        |      * CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT)) AS ssq
        |  FROM orders GROUP BY 1, 2
        |), flat AS (
        |  SELECT g, post, n, CAST(s AS DOUBLE) / n AS m,
        |    CAST(FLOOR(GREATEST(CAST(ssq AS DOUBLE)
        |        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE),
        |        0.0)
        |      / (CAST(n AS DOUBLE) - 1) / CAST(n AS DOUBLE) * 1000000.0)
        |      AS BIGINT) AS vn_micro
        |  FROM cells
        |), gg AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS n,
        |    SUM(CASE WHEN g = 0 AND post = 0 THEN m END) AS m_a_pre,
        |    SUM(CASE WHEN g = 0 AND post = 1 THEN m END) AS m_a_post,
        |    SUM(CASE WHEN g = 1 AND post = 0 THEN m END) AS m_b_pre,
        |    SUM(CASE WHEN g = 1 AND post = 1 THEN m END) AS m_b_post,
        |    CAST(SUM(vn_micro) AS BIGINT) AS se2_micro
        |  FROM flat
        |), f AS (
        |  SELECT *,
        |    (m_b_post - m_b_pre) - (m_a_post - m_a_pre) AS did,
        |    ((m_b_post - m_b_pre) - (m_a_post - m_a_pre))
        |      / sqrt(CAST(se2_micro AS DOUBLE) / 1000000.0) AS z
        |  FROM gg
        |)
        |SELECT n,
        |  FLOOR(m_a_pre / 100.0 * 100.0 + 0.500001) / 100.0 AS mean_a_pre,
        |  FLOOR(m_a_post / 100.0 * 100.0 + 0.500001) / 100.0 AS mean_a_post,
        |  FLOOR(m_b_pre / 100.0 * 100.0 + 0.500001) / 100.0 AS mean_b_pre,
        |  FLOOR(m_b_post / 100.0 * 100.0 + 0.500001) / 100.0 AS mean_b_post,
        |  FLOOR(did / 100.0 * 100.0 + 0.500001) / 100.0 AS did_estimate,
        |  FLOOR(z * 1000000.0 + 0.500001) / 1000000.0 AS z_stat,
        |  CAST(CASE WHEN abs(z) > 1.959963984540054 THEN 1 ELSE 0 END
        |    AS BIGINT) AS reject_95
        |FROM f""".stripMargin,

    // identical per-customer exact-integer period moments, identical
    // double d, the same doubled-tie-rank histogram as q_mann_whitney
    "q_wilcoxon_signed" ->
      """WITH per AS (
        |  SELECT o_custkey,
        |    SUM(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
        |      THEN CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT)
        |      END) AS sa,
        |    COUNT(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
        |      THEN 1 END) AS na,
        |    SUM(CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01'
        |      THEN CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT)
        |      END) AS sb,
        |    COUNT(CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01'
        |      THEN 1 END) AS nb
        |  FROM orders GROUP BY o_custkey
        |), diffs AS (
        |  SELECT CAST(sb AS DOUBLE) / nb - CAST(sa AS DOUBLE) / na AS d
        |  FROM per WHERE na > 0 AND nb > 0
        |), hist AS (
        |  SELECT abs(d) AS ad, CAST(COUNT(*) AS BIGINT) AS c,
        |    CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS cpos
        |  FROM diffs WHERE d <> 0.0 GROUP BY abs(d)
        |), cum AS (
        |  SELECT c, cpos, SUM(c) OVER (ORDER BY ad) - c AS before
        |  FROM hist
        |), g AS (
        |  SELECT CAST(SUM(c) AS BIGINT) AS n,
        |    CAST(SUM(cpos * (2 * before + c + 1)) AS BIGINT) AS two_wp,
        |    CAST(SUM(c * c * c - c) AS BIGINT) AS ties
        |  FROM cum
        |), f AS (
        |  SELECT n, two_wp, ties,
        |    (CAST(two_wp AS DOUBLE) / 2.0
        |       - CAST(n AS DOUBLE) * (n + 1) / 4.0)
        |      / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24.0
        |        - CAST(ties AS DOUBLE) / 48.0) AS z
        |  FROM g
        |)
        |SELECT n AS n_pairs, CAST(two_wp AS DOUBLE) / 2.0 AS w_plus,
        |  ties AS tie_term,
        |  FLOOR(z * 1000000.0 + 0.500001) / 1000000.0 AS z_stat,
        |  CAST(CASE WHEN abs(z) > 1.959963984540054 THEN 1 ELSE 0 END
        |    AS BIGINT) AS reject_95
        |FROM f""".stripMargin,

    // identical calendar-bounded pair census; each slope is one double
    // division of exact integers; quantile_cont interpolates the same
    // lower+(upper−lower)·frac order statistics as Spark's percentile;
    // the intercept pass reuses the r6-pinned slope
    "q_theil_sen" ->
      """WITH daily AS (
        |  SELECT DATEDIFF('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
        |    AS x,
        |    CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT))
        |      AS BIGINT) AS y
        |  FROM orders GROUP BY 1
        |), slopes AS (
        |  SELECT CAST(b.y - a.y AS DOUBLE) / (b.x - a.x) AS sl
        |  FROM daily a JOIN daily b ON a.x < b.x
        |), med AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    FLOOR(quantile_cont(sl, 0.5) * 1000000.0 + 0.500001) / 1000000.0
        |      AS slope
        |  FROM slopes
        |)
        |SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
        |  n_pairs, slope,
        |  (SELECT FLOOR(quantile_cont(CAST(y AS DOUBLE) - slope * x, 0.5)
        |     * 1000000.0 + 0.500001) / 1000000.0 FROM daily) AS intercept
        |FROM med""".stripMargin,

    // identical q_anova moment discipline (segment-ordered cumulative float
    // adds for MSW), identical 10-pair frame and studentized-range compose
    "q_tukey_hsd" ->
      """WITH g AS (
        |  SELECT c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS ng,
        |    CAST(SUM(CAST(FLOOR(c_acctbal * 100.0 + 0.500001) AS BIGINT))
        |      AS BIGINT) AS sg,
        |    SUM(CAST(CAST(FLOOR(c_acctbal * 100.0 + 0.500001) AS BIGINT)
        |      AS HUGEINT)
        |      * CAST(FLOOR(c_acctbal * 100.0 + 0.500001) AS BIGINT)) AS ssqg
        |  FROM customer GROUP BY 1
        |), cum AS (
        |  SELECT
        |    SUM(ng) OVER () AS nn,
        |    SUM(CAST(ssqg AS DOUBLE)) OVER (ORDER BY seg) AS syy,
        |    SUM(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE))
        |      OVER (ORDER BY seg) AS tcum,
        |    COUNT(*) OVER () AS k,
        |    ROW_NUMBER() OVER (ORDER BY seg) AS rn
        |  FROM g
        |), msw AS (
        |  SELECT GREATEST(syy - tcum, 0.0) / CAST(nn - k AS DOUBLE) AS msw
        |  FROM cum WHERE rn = k
        |), means AS (
        |  SELECT seg, ng, CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE) AS m
        |  FROM g
        |)
        |SELECT a.seg AS seg_a, b.seg AS seg_b,
        |  FLOOR(a.m / 100.0 * 100.0 + 0.500001) / 100.0 AS mean_a,
        |  FLOOR(b.m / 100.0 * 100.0 + 0.500001) / 100.0 AS mean_b,
        |  FLOOR((a.m - b.m) / 100.0 * 100.0 + 0.500001) / 100.0 AS mean_diff,
        |  FLOOR(abs(a.m - b.m)
        |    / sqrt(msw / 2.0 * (1.0 / a.ng + 1.0 / b.ng))
        |    * 10000.0 + 0.500001) / 10000.0 AS q_stat,
        |  CAST(CASE WHEN abs(a.m - b.m)
        |      / sqrt(msw / 2.0 * (1.0 / a.ng + 1.0 / b.ng)) > 3.858
        |    THEN 1 ELSE 0 END AS BIGINT) AS significant
        |FROM means a JOIN means b ON a.seg < b.seg, msw
        |ORDER BY seg_a, seg_b""".stripMargin,

    // the same exact HUGEINT power sums and the identical double sequence
    // (sqrt-based g1 denominator, left-associative moment expansion); the
    // degenerate-group guard abstains with NULL on both engines
    "q_jarque_bera" ->
      """WITH o AS (
        |  SELECT o_orderpriority AS priority,
        |    CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS HUGEINT) AS x
        |  FROM orders
        |), m AS (
        |  SELECT priority, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(x) AS s1, SUM(x*x) AS s2, SUM(x*x*x) AS s3,
        |    SUM(x*x*x*x) AS s4
        |  FROM o GROUP BY priority
        |), d AS (
        |  SELECT priority, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m1,
        |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2m,
        |    CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3m,
        |    CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4m
        |  FROM m
        |), c AS (
        |  SELECT priority, n, nd,
        |    r2m - m1 * m1 AS m2,
        |    r3m - 3.0 * m1 * r2m + 2.0 * m1 * m1 * m1 AS m3,
        |    r4m - 4.0 * m1 * r3m + 6.0 * m1 * m1 * r2m
        |      - 3.0 * m1 * m1 * m1 * m1 AS m4
        |  FROM d
        |), s AS (
        |  SELECT priority, n, nd, m2,
        |    m3 / (m2 * sqrt(m2)) AS skew,
        |    m4 / (m2 * m2) - 3.0 AS exk
        |  FROM c
        |), j AS (
        |  SELECT *, nd / 6.0 * (skew * skew + exk * exk / 4.0) AS jb FROM s
        |)
        |SELECT priority, n,
        |  CASE WHEN n > 3 AND m2 > 0
        |    THEN FLOOR(skew * 1000000.0 + 0.500001) / 1000000.0 END
        |    AS skewness,
        |  CASE WHEN n > 3 AND m2 > 0
        |    THEN FLOOR(exk * 1000000.0 + 0.500001) / 1000000.0 END
        |    AS ex_kurtosis,
        |  CASE WHEN n > 3 AND m2 > 0
        |    THEN FLOOR(jb * 10000.0 + 0.500001) / 10000.0 END AS jb_stat,
        |  CAST(CASE WHEN n > 3 AND m2 > 0 AND jb > 5.991464547107979
        |    THEN 1 ELSE 0 END AS BIGINT) AS reject_95
        |FROM j ORDER BY priority""".stripMargin,

    // identical discordant-pair counts off the same raw-ratio and length
    // predictors; one continuity-corrected float
    "q_mcnemar" ->
      (s"""WITH d AS (
        |  SELECT lang, n_chars,
        |    regexp_split_to_array(trim(text), '\\s+') AS toks
        |  FROM documents
        |), f AS (
        |  SELECT (lang = 'en') AS y,
        |    (CAST(len(list_filter(toks,
        |      x -> x IN (${graft.text.TextOps.stopwordsInList})))
        |      AS DOUBLE) / len(toks) >= 0.15) AS pa,
        |    (n_chars >= 100) AS pb
        |  FROM d
        |), m AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN pa = y AND pb = y THEN 1 ELSE 0 END)
        |      AS BIGINT) AS both_right,
        |    CAST(SUM(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b,
        |    CAST(SUM(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c,
        |    CAST(SUM(CASE WHEN pa <> y AND pb <> y THEN 1 ELSE 0 END)
        |      AS BIGINT) AS both_wrong
        |  FROM f
        |)
        |SELECT both_right, b, c, both_wrong,
        |  CASE WHEN b + c > 0 THEN
        |    FLOOR((ABS(CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) - 1.0)
        |      * (ABS(CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) - 1.0)
        |      / (CAST(b AS DOUBLE) + CAST(c AS DOUBLE))
        |      * 1000000.0 + 0.500001) / 1000000.0 END AS chi2,
        |  CAST(CASE WHEN b + c > 0 AND
        |      (ABS(CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) - 1.0)
        |      * (ABS(CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) - 1.0)
        |      / (CAST(b AS DOUBLE) + CAST(c AS DOUBLE))
        |      > 3.841458820694124
        |    THEN 1 ELSE 0 END AS BIGINT) AS reject_95
        |FROM m""").stripMargin,

    // identical per-customer year flags, the exact m²-scaled numerator,
    // one float division
    "q_cochran_q" ->
      """WITH byc AS (
        |  SELECT o_custkey,
        |    MAX(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1996
        |      THEN 1 ELSE 0 END) AS y1,
        |    MAX(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1997
        |      THEN 1 ELSE 0 END) AS y2,
        |    MAX(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1998
        |      THEN 1 ELSE 0 END) AS y3
        |  FROM orders
        |  WHERE year(CAST(o_orderdate AS DATE)) BETWEEN 1996 AND 1998
        |  GROUP BY 1
        |), g AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks,
        |    CAST(SUM(y1) AS BIGINT) AS c1, CAST(SUM(y2) AS BIGINT) AS c2,
        |    CAST(SUM(y3) AS BIGINT) AS c3,
        |    CAST(SUM(y1 + y2 + y3) AS BIGINT) AS t0,
        |    CAST(SUM((y1 + y2 + y3) * (y1 + y2 + y3)) AS BIGINT) AS rr
        |  FROM byc
        |), e AS (
        |  SELECT *,
        |    (3 * c1 - t0) * (3 * c1 - t0) + (3 * c2 - t0) * (3 * c2 - t0)
        |      + (3 * c3 - t0) * (3 * c3 - t0) AS num,
        |    3 * t0 - rr AS den
        |  FROM g
        |)
        |SELECT n_blocks, c1, c2, c3,
        |  CASE WHEN den > 0 THEN
        |    FLOOR(2.0 / 3.0 * CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
        |      * 1000000.0 + 0.500001) / 1000000.0 END AS q_stat,
        |  CAST(CASE WHEN den > 0 AND 2.0 / 3.0 * CAST(num AS DOUBLE)
        |      / CAST(den AS DOUBLE) > 5.991464547107979
        |    THEN 1 ELSE 0 END AS BIGINT) AS reject_95
        |FROM e""".stripMargin,

    // identical custkey-tie-broken rankings and the exact 4S integer
    // identity; one float division
    "q_kendall_w" ->
      """WITH feats AS (
        |  SELECT o_custkey AS custkey,
        |    CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT))
        |      AS BIGINT) AS m,
        |    CAST(COUNT(*) AS BIGINT) AS f,
        |    MAX(CAST(o_orderdate AS DATE)) AS last_d
        |  FROM orders GROUP BY 1
        |), ranked AS (
        |  SELECT ROW_NUMBER() OVER (ORDER BY m DESC, custkey)
        |    + ROW_NUMBER() OVER (ORDER BY f DESC, custkey)
        |    + ROW_NUMBER() OVER (ORDER BY last_d DESC, custkey) AS r_sum
        |  FROM feats
        |), g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ranked),
        |s4 AS (
        |  SELECT n,
        |    SUM(CAST(2 * r_sum - 3 * (n + 1) AS HUGEINT)
        |      * (2 * r_sum - 3 * (n + 1))) AS s4
        |  FROM ranked, g GROUP BY n
        |)
        |SELECT n AS n_customers, CAST(3 AS BIGINT) AS n_rankings,
        |  CASE WHEN n > 1 THEN
        |    FLOOR(CAST(s4 AS DOUBLE)
        |      / (3.0 * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |        * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)))
        |      * 1000000.0 + 0.500001) / 1000000.0 END AS kendall_w
        |FROM s4""".stripMargin,

    // the same user-cluster covariates and md5 arms; avg/var_samp under
    // the q_ab_ttest r6 discipline, identical SMD sequence
    "q_covariate_balance" ->
      """WITH u AS (
        |  SELECT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4)
        |      AS BIGINT) % 2 AS g,
        |    CAST(COUNT(*) AS DOUBLE) AS c1,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |        AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS c2,
        |    CAST(SUM(CAST(FLOOR(value * 100.0 + 0.500001) AS BIGINT))
        |        AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 100.0 AS c3
        |  FROM events GROUP BY user_id
        |), cov AS (
        |  SELECT g, 'event_volume' AS covariate, c1 AS x FROM u
        |  UNION ALL SELECT g, 'purchase_share', c2 FROM u
        |  UNION ALL SELECT g, 'mean_value', c3 FROM u
        |), m AS (
        |  SELECT covariate,
        |    CAST(COUNT(x) FILTER (WHERE g = 0) AS BIGINT) AS na,
        |    CAST(COUNT(x) FILTER (WHERE g = 1) AS BIGINT) AS nb,
        |    AVG(x) FILTER (WHERE g = 0) AS ma,
        |    AVG(x) FILTER (WHERE g = 1) AS mb,
        |    VAR_SAMP(x) FILTER (WHERE g = 0) AS va,
        |    VAR_SAMP(x) FILTER (WHERE g = 1) AS vb
        |  FROM cov GROUP BY covariate
        |), d AS (
        |  SELECT *, CASE WHEN va + vb > 0 THEN
        |    FLOOR((ma - mb) / sqrt((va + vb) / 2.0)
        |      * 1000000.0 + 0.500001) / 1000000.0 END AS smd
        |  FROM m
        |)
        |SELECT covariate, na AS n_a, nb AS n_b,
        |  FLOOR(ma * 1000000.0 + 0.500001) / 1000000.0 AS mean_a,
        |  FLOOR(mb * 1000000.0 + 0.500001) / 1000000.0 AS mean_b,
        |  smd,
        |  CAST(CASE WHEN ABS(smd) > 0.1 THEN 1 ELSE 0 END AS BIGINT)
        |    AS imbalanced
        |FROM d ORDER BY covariate""".stripMargin,

    // identical md5 arms, exact counts, one chi-square float
    "q_ab_srm" ->
      """WITH u AS (
        |  SELECT user_id,
        |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4)
        |      AS BIGINT) % 2 AS g
        |  FROM events GROUP BY user_id
        |), m AS (
        |  SELECT CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS na,
        |    CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
        |  FROM u
        |)
        |SELECT na AS n_a, nb AS n_b,
        |  FLOOR(CAST(na - nb AS DOUBLE) * CAST(na - nb AS DOUBLE)
        |    / CAST(na + nb AS DOUBLE) * 1000000.0 + 0.500001) / 1000000.0
        |    AS chi2,
        |  CAST(CASE WHEN CAST(na - nb AS DOUBLE) * CAST(na - nb AS DOUBLE)
        |      / CAST(na + nb AS DOUBLE) > 10.827566170662733
        |    THEN 1 ELSE 0 END AS BIGINT) AS srm_alarm
        |FROM m""".stripMargin,

    // identical two-flag user frame, exact capture integers, the same
    // Chapman/Seber float sequence
    "q_capture_recapture" ->
      """WITH u AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'view' AND event_id % 7 = 0
        |      THEN 1 ELSE 0 END) AS c1,
        |    MAX(CASE WHEN event_type = 'click' AND event_id % 5 = 0
        |      THEN 1 ELSE 0 END) AS c2
        |  FROM events GROUP BY user_id
        |), g AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
        |    CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2,
        |    CAST(SUM(c1 * c2) AS BIGINT) AS m
        |  FROM u
        |), e AS (
        |  SELECT *,
        |    (CAST(n1 AS DOUBLE) + 1.0) * (CAST(n2 AS DOUBLE) + 1.0)
        |      / (CAST(m AS DOUBLE) + 1.0) - 1.0 AS n_hat,
        |    sqrt((CAST(n1 AS DOUBLE) + 1.0) * (CAST(n2 AS DOUBLE) + 1.0)
        |      * (CAST(n1 AS DOUBLE) - CAST(m AS DOUBLE))
        |      * (CAST(n2 AS DOUBLE) - CAST(m AS DOUBLE))
        |      / ((CAST(m AS DOUBLE) + 1.0) * (CAST(m AS DOUBLE) + 1.0)
        |        * (CAST(m AS DOUBLE) + 2.0))) AS se
        |  FROM g
        |)
        |SELECT n_true, n1, n2, m,
        |  CASE WHEN m > 0
        |    THEN FLOOR(n_hat * 100.0 + 0.500001) / 100.0 END AS n_hat,
        |  CASE WHEN m > 0
        |    THEN FLOOR(se * 100.0 + 0.500001) / 100.0 END AS se,
        |  CAST(CASE WHEN m > 0
        |      AND ABS(n_hat - CAST(n_true AS DOUBLE))
        |        <= 1.959963984540054 * se
        |    THEN 1 ELSE 0 END AS BIGINT) AS covers_truth
        |FROM e""".stripMargin,

    // the same closed-form leave-one-out pseudo-values, micro-unit
    // quantization, and exact integer moment algebra
    "q_jackknife" ->
      """WITH u AS (
        |  SELECT user_id,
        |    CAST(SUM(CASE WHEN event_type = 'purchase'
        |      THEN CAST(FLOOR(value * 100.0 + 0.500001) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS x,
        |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM events GROUP BY user_id
        |), tot AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT)
        |    AS sx, CAST(SUM(y) AS BIGINT) AS sy
        |  FROM u
        |), vs AS (
        |  SELECT n, sx, sy,
        |    CAST(FLOOR(CAST(sx - x AS DOUBLE) / CAST(sy - y AS DOUBLE)
        |      * 1000000.0) AS BIGINT) AS v
        |  FROM u, tot WHERE sy - y > 0
        |), g AS (
        |  SELECT n, sx, sy, CAST(COUNT(*) AS BIGINT) AS n_used,
        |    CAST(SUM(v) AS BIGINT) AS sv,
        |    SUM(CAST(v AS HUGEINT) * v) AS svv
        |  FROM vs GROUP BY n, sx, sy
        |)
        |SELECT n AS n_users, n_used,
        |  FLOOR(CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE)
        |    * 1000000.0 + 0.500001) / 1000000.0 AS ratio_cents_per_view,
        |  FLOOR(CAST(sv AS DOUBLE) / CAST(n_used AS DOUBLE) / 1000000.0
        |    * 1000000.0 + 0.500001) / 1000000.0 AS jk_mean,
        |  FLOOR(sqrt((CAST(n_used AS DOUBLE) - 1.0)
        |      / CAST(n_used AS DOUBLE)
        |      * GREATEST(CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE)
        |        * CAST(sv AS DOUBLE) / CAST(n_used AS DOUBLE), 0.0))
        |    / 1000000.0 * 1000000.0 + 0.500001) / 1000000.0 AS jk_se
        |FROM g""".stripMargin,

    // identical look windows, ≤5× explode, user-cluster totals, exact
    // HUGEINT moments, the same Welch sequence and literal boundaries
    "q_group_sequential" ->
      """WITH p AS (
        |  SELECT user_id, CAST(FLOOR(value * 100.0 + 0.500001) AS BIGINT)
        |      AS c,
        |    CASE WHEN CAST(ts AS DATE) < DATE '2024-01-07' THEN 1
        |      WHEN CAST(ts AS DATE) < DATE '2024-01-13' THEN 2
        |      WHEN CAST(ts AS DATE) < DATE '2024-01-19' THEN 3
        |      WHEN CAST(ts AS DATE) < DATE '2024-01-25' THEN 4
        |      ELSE 5 END AS lk
        |  FROM events WHERE event_type = 'purchase'
        |), ex AS (
        |  SELECT user_id, c, CAST(u.i AS BIGINT) AS look
        |  FROM p, LATERAL unnest(generate_series(p.lk, 5)) AS u(i)
        |), ul AS (
        |  SELECT look, user_id, CAST(SUM(c) AS BIGINT) AS x,
        |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4)
        |      AS BIGINT) % 2 AS g
        |  FROM ex GROUP BY look, user_id
        |), m AS (
        |  SELECT look,
        |    CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |    CAST(SUM(CASE WHEN g = 0 THEN x ELSE 0 END) AS BIGINT) AS sa,
        |    CAST(SUM(CASE WHEN g = 1 THEN x ELSE 0 END) AS BIGINT) AS sb,
        |    SUM(CASE WHEN g = 0 THEN CAST(x AS HUGEINT) * x ELSE 0 END)
        |      AS qa,
        |    SUM(CASE WHEN g = 1 THEN CAST(x AS HUGEINT) * x ELSE 0 END)
        |      AS qb
        |  FROM ul GROUP BY look
        |), zz AS (
        |  SELECT look, na, nb,
        |    (CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
        |      - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))
        |    / sqrt(
        |      GREATEST(CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE)
        |        * CAST(sa AS DOUBLE)
        |        / CAST(na AS DOUBLE), 0.0) / (CAST(na AS DOUBLE) - 1.0)
        |        / CAST(na AS DOUBLE)
        |      + GREATEST(CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE)
        |        * CAST(sb AS DOUBLE)
        |        / CAST(nb AS DOUBLE), 0.0) / (CAST(nb AS DOUBLE) - 1.0)
        |        / CAST(nb AS DOUBLE)) AS z,
        |    CASE WHEN look = 1 THEN 4.877 WHEN look = 2 THEN 3.357
        |      WHEN look = 3 THEN 2.680 WHEN look = 4 THEN 2.290
        |      ELSE 2.031 END AS obf_boundary,
        |    na > 1 AND nb > 1 AS ok
        |  FROM m
        |)
        |SELECT look, na AS n_a, nb AS n_b,
        |  CASE WHEN ok THEN FLOOR(z * 1000000.0 + 0.500001) / 1000000.0 END
        |    AS z_stat,
        |  obf_boundary,
        |  CAST(CASE WHEN ok AND ABS(z) > obf_boundary THEN 1 ELSE 0 END
        |    AS BIGINT) AS crosses
        |FROM zz ORDER BY look""".stripMargin,

    // identical rank cuts ((n·5)//100 both engines), exact BIGINT trimmed
    // and winsorized sums, one division per output
    "q_trimmed_mean" ->
      s"""WITH ${Analytics.CustomerSpendCte}, ranked AS (
        |  SELECT m, ROW_NUMBER() OVER (ORDER BY m, custkey) AS r,
        |    COUNT(*) OVER () AS n
        |  FROM feats
        |), g AS (
        |  SELECT CAST(MAX(n) AS BIGINT) AS n_customers,
        |    CAST(SUM(m) AS BIGINT) AS sum_all,
        |    CAST(SUM(CASE WHEN r >= n * 5 // 100 + 1
        |      AND r <= n - n * 5 // 100 THEN m ELSE 0 END) AS BIGINT)
        |      AS sum_trim,
        |    CAST(SUM(CASE WHEN r >= n * 5 // 100 + 1
        |      AND r <= n - n * 5 // 100 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_trim,
        |    CAST(MAX(CASE WHEN r = n * 5 // 100 + 1 THEN m END) AS BIGINT)
        |      AS lo_cut,
        |    CAST(MAX(CASE WHEN r = n - n * 5 // 100 THEN m END) AS BIGINT)
        |      AS hi_cut
        |  FROM ranked
        |)
        |SELECT n_customers, n_trim,
        |  FLOOR(CAST(sum_all AS DOUBLE) / n_customers / 100.0
        |    * 100.0 + 0.500001) / 100.0 AS raw_mean,
        |  FLOOR(CAST(sum_trim AS DOUBLE) / n_trim / 100.0
        |    * 100.0 + 0.500001) / 100.0 AS trimmed_mean,
        |  FLOOR(CAST(sum_trim + lo_cut * (n_customers * 5 // 100)
        |      + hi_cut * (n_customers * 5 // 100) AS DOUBLE)
        |    / n_customers / 100.0 * 100.0 + 0.500001) / 100.0
        |    AS winsorized_mean
        |FROM g""".stripMargin,

    // the same user-cluster totals, md5 arm, exact HUGEINT moments and
    // the identical delta-method float sequence
    "q_delta_method" ->
      """WITH u AS (
        |  SELECT user_id,
        |    CAST(SUM(CASE WHEN event_type = 'purchase'
        |      THEN CAST(FLOOR(value * 100.0 + 0.500001) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS x,
        |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS y,
        |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4)
        |      AS BIGINT) % 2 AS g
        |  FROM events GROUP BY user_id
        |), m AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |    CAST(SUM(CASE WHEN g = 0 THEN x ELSE 0 END) AS BIGINT) AS sxa,
        |    CAST(SUM(CASE WHEN g = 1 THEN x ELSE 0 END) AS BIGINT) AS sxb,
        |    CAST(SUM(CASE WHEN g = 0 THEN y ELSE 0 END) AS BIGINT) AS sya,
        |    CAST(SUM(CASE WHEN g = 1 THEN y ELSE 0 END) AS BIGINT) AS syb,
        |    SUM(CASE WHEN g = 0 THEN CAST(x AS HUGEINT) * x ELSE 0 END)
        |      AS sxxa,
        |    SUM(CASE WHEN g = 1 THEN CAST(x AS HUGEINT) * x ELSE 0 END)
        |      AS sxxb,
        |    SUM(CASE WHEN g = 0 THEN CAST(y AS HUGEINT) * y ELSE 0 END)
        |      AS syya,
        |    SUM(CASE WHEN g = 1 THEN CAST(y AS HUGEINT) * y ELSE 0 END)
        |      AS syyb,
        |    SUM(CASE WHEN g = 0 THEN CAST(x AS HUGEINT) * y ELSE 0 END)
        |      AS sxya,
        |    SUM(CASE WHEN g = 1 THEN CAST(x AS HUGEINT) * y ELSE 0 END)
        |      AS sxyb
        |  FROM u
        |), d AS (
        |  SELECT *,
        |    CAST(sxa AS DOUBLE) / CAST(sya AS DOUBLE) AS ra,
        |    CAST(sxb AS DOUBLE) / CAST(syb AS DOUBLE) AS rb,
        |    CAST(sya AS DOUBLE) / CAST(na AS DOUBLE) AS yba,
        |    CAST(syb AS DOUBLE) / CAST(nb AS DOUBLE) AS ybb,
        |    (CAST(sxxa AS DOUBLE) - CAST(sxa AS DOUBLE) * CAST(sxa AS DOUBLE)
        |      / CAST(na AS DOUBLE)) / (CAST(na AS DOUBLE) - 1.0) AS vxa,
        |    (CAST(syya AS DOUBLE) - CAST(sya AS DOUBLE) * CAST(sya AS DOUBLE)
        |      / CAST(na AS DOUBLE)) / (CAST(na AS DOUBLE) - 1.0) AS vya,
        |    (CAST(sxya AS DOUBLE) - CAST(sxa AS DOUBLE) * CAST(sya AS DOUBLE)
        |      / CAST(na AS DOUBLE)) / (CAST(na AS DOUBLE) - 1.0) AS cxya,
        |    (CAST(sxxb AS DOUBLE) - CAST(sxb AS DOUBLE) * CAST(sxb AS DOUBLE)
        |      / CAST(nb AS DOUBLE)) / (CAST(nb AS DOUBLE) - 1.0) AS vxb,
        |    (CAST(syyb AS DOUBLE) - CAST(syb AS DOUBLE) * CAST(syb AS DOUBLE)
        |      / CAST(nb AS DOUBLE)) / (CAST(nb AS DOUBLE) - 1.0) AS vyb,
        |    (CAST(sxyb AS DOUBLE) - CAST(sxb AS DOUBLE) * CAST(syb AS DOUBLE)
        |      / CAST(nb AS DOUBLE)) / (CAST(nb AS DOUBLE) - 1.0) AS cxyb
        |  FROM m
        |), v AS (
        |  SELECT *,
        |    (vxa + ra * ra * vya - 2.0 * ra * cxya)
        |      / (CAST(na AS DOUBLE) * (yba * yba)) AS va,
        |    (vxb + rb * rb * vyb - 2.0 * rb * cxyb)
        |      / (CAST(nb AS DOUBLE) * (ybb * ybb)) AS vb,
        |    na > 1 AND nb > 1 AND sya > 0 AND syb > 0 AS ok
        |  FROM d
        |)
        |SELECT na AS n_a, nb AS n_b,
        |  CASE WHEN ok THEN FLOOR(ra * 1000000.0 + 0.500001) / 1000000.0 END
        |    AS ratio_a,
        |  CASE WHEN ok THEN FLOOR(rb * 1000000.0 + 0.500001) / 1000000.0 END
        |    AS ratio_b,
        |  CASE WHEN ok THEN FLOOR((ra - rb) / sqrt(GREATEST(va + vb, 0.0))
        |    * 1000000.0 + 0.500001) / 1000000.0 END AS z_stat,
        |  CAST(CASE WHEN ok AND ABS((ra - rb) / sqrt(GREATEST(va + vb, 0.0)))
        |      > 1.959963984540054
        |    THEN 1 ELSE 0 END AS BIGINT) AS reject_95
        |FROM v""".stripMargin,

    // the same exact HUGEINT moment integers, the identical closed-form
    // 2×2 inverse sequence, and the (d², custkey) top-20
    "q_mahalanobis" ->
      """WITH feats AS (
        |  SELECT o_custkey AS custkey, CAST(COUNT(*) AS BIGINT) AS f,
        |    CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT))
        |      AS BIGINT) AS m
        |  FROM orders GROUP BY 1
        |), g AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(f) AS BIGINT) AS sf0, CAST(SUM(m) AS BIGINT) AS sm,
        |    SUM(CAST(f AS HUGEINT) * f) AS sff,
        |    SUM(CAST(m AS HUGEINT) * m) AS smm,
        |    SUM(CAST(f AS HUGEINT) * m) AS sfm
        |  FROM feats
        |), d AS (
        |  SELECT n,
        |    CAST(sf0 AS DOUBLE) / CAST(n AS DOUBLE) AS mu_f,
        |    CAST(sm AS DOUBLE) / CAST(n AS DOUBLE) AS mu_m,
        |    CAST(sff AS DOUBLE) / CAST(n AS DOUBLE) AS rff,
        |    CAST(smm AS DOUBLE) / CAST(n AS DOUBLE) AS rmm,
        |    CAST(sfm AS DOUBLE) / CAST(n AS DOUBLE) AS rfm
        |  FROM g
        |), st AS (
        |  SELECT *, rff - mu_f * mu_f AS cff, rmm - mu_m * mu_m AS cmm,
        |    rfm - mu_f * mu_m AS cfm
        |  FROM d
        |), st2 AS (SELECT *, cff * cmm - cfm * cfm AS det FROM st),
        |sc AS (
        |  SELECT f2.custkey, f2.f, f2.m,
        |    CAST(f2.f AS DOUBLE) - mu_f AS dx,
        |    CAST(f2.m AS DOUBLE) - mu_m AS dy,
        |    cff, cmm, cfm, det
        |  FROM feats f2, st2
        |), dd AS (
        |  SELECT custkey, f, m,
        |    CASE WHEN det > 0 THEN
        |      FLOOR((dx * (cmm * dx - cfm * dy) + dy * (cff * dy - cfm * dx))
        |        / det * 1000000.0 + 0.500001) / 1000000.0 END AS d2
        |  FROM sc
        |)
        |SELECT custkey, f AS n_orders, m AS spend_cents, d2,
        |  CAST(CASE WHEN d2 > 5.991464547107979 THEN 1 ELSE 0 END AS BIGINT)
        |    AS is_outlier
        |FROM dd ORDER BY d2 DESC, custkey LIMIT 20""".stripMargin,

    // identical bounded-sample 2×2, k-ordered ln-factorial cumsum, and
    // at-most-as-likely enumeration with the same 1e-7 slack
    "q_fisher_exact" ->
      """WITH m AS (
        |  SELECT a, b, c, d, a + b AS r1, a + c AS c1,
        |    a + b + c + d AS n
        |  FROM (
        |    SELECT
        |      CAST(SUM(CASE WHEN urgent AND hv THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |      CAST(SUM(CASE WHEN urgent AND NOT hv THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |      CAST(SUM(CASE WHEN NOT urgent AND hv THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |      CAST(SUM(CASE WHEN NOT urgent AND NOT hv THEN 1 ELSE 0 END) AS BIGINT) AS d
        |    FROM (
        |      SELECT o_orderpriority IN ('1-URGENT', '2-HIGH') AS urgent,
        |        o_totalprice > 240000.0 AS hv
        |      FROM orders WHERE o_orderkey <= 300
        |    )
        |  )
        |), lf AS (
        |  SELECT k,
        |    SUM(CASE WHEN k > 1 THEN LN(CAST(k AS DOUBLE)) ELSE 0.0 END)
        |      OVER (ORDER BY k ROWS UNBOUNDED PRECEDING) AS lf
        |  FROM (SELECT UNNEST(generate_series(0, (SELECT n FROM m))) AS k)
        |), enc AS (
        |  SELECT m.a, m.b, m.c, m.d, m.r1, m.c1, m.n,
        |    lr1.lf + lnr1.lf + lc1.lf + lnc1.lf - lnn.lf AS lconst
        |  FROM m
        |  JOIN lf lr1 ON lr1.k = m.r1
        |  JOIN lf lnr1 ON lnr1.k = m.n - m.r1
        |  JOIN lf lc1 ON lc1.k = m.c1
        |  JOIN lf lnc1 ON lnc1.k = m.n - m.c1
        |  JOIN lf lnn ON lnn.k = m.n
        |), en AS MATERIALIZED (
        |  SELECT a, b, c, d, r1, c1, n, lconst,
        |    UNNEST(generate_series(GREATEST(0, r1 + c1 - n),
        |      LEAST(r1, c1))) AS t
        |  FROM enc
        |), scored AS (
        |  SELECT en.a, en.b, en.c, en.d, en.n, en.t,
        |    en.lconst - lt.lf - lrt.lf - lct.lf - lnt.lf AS lp
        |  FROM en
        |  JOIN lf lt ON lt.k = en.t
        |  JOIN lf lrt ON lrt.k = en.r1 - en.t
        |  JOIN lf lct ON lct.k = en.c1 - en.t
        |  JOIN lf lnt ON lnt.k = en.n - en.r1 - en.c1 + en.t
        |), obs AS (
        |  SELECT lp AS lp_obs FROM scored WHERE t = a
        |), g AS (
        |  SELECT MAX(a) AS a, MAX(b) AS b, MAX(c) AS c, MAX(d) AS d,
        |    MAX(n) AS n_sample,
        |    SUM(CASE WHEN lp <= lp_obs + 0.0000001 THEN EXP(lp)
        |      ELSE 0.0 END) AS p0
        |  FROM scored, obs
        |)
        |SELECT a, b, c, d, n_sample,
        |  FLOOR(LEAST(p0, 1.0) * 1000000.0 + 0.500001) / 1000000.0
        |    AS p_value,
        |  CASE WHEN b > 0 AND c > 0
        |    THEN FLOOR(CAST(a * d AS DOUBLE) / CAST(b * c AS DOUBLE)
        |      * 1000000.0 + 0.500001) / 1000000.0 END AS odds_ratio,
        |  CAST(CASE WHEN FLOOR(LEAST(p0, 1.0) * 1000000.0 + 0.500001)
        |      / 1000000.0 < 0.05
        |    THEN 1 ELSE 0 END AS BIGINT) AS reject_05
        |FROM g""".stripMargin,

    // independent derivation: per-arm window row_number replaces the
    // engine's batched two-level ranking; identical (v, custkey) ties
    "q_cramer_von_mises" ->
      """WITH per AS (
        |  SELECT o_custkey AS custkey,
        |    CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT))
        |      AS BIGINT) AS v,
        |    CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 4)
        |      AS BIGINT) % 2 AS g
        |  FROM orders GROUP BY o_custkey
        |), rk AS (
        |  SELECT g, CAST(ROW_NUMBER() OVER (ORDER BY v, custkey) AS BIGINT)
        |      AS r,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY g ORDER BY v, custkey)
        |      AS BIGINT) AS i
        |  FROM per
        |), m AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |    SUM(CASE WHEN g = 0 THEN CAST(r - i AS HUGEINT) * (r - i) END)
        |      AS sa,
        |    SUM(CASE WHEN g = 1 THEN CAST(r - i AS HUGEINT) * (r - i) END)
        |      AS sb
        |  FROM rk
        |), f AS (
        |  SELECT na, nb,
        |    CAST(CAST(na AS HUGEINT) * sa + CAST(nb AS HUGEINT) * sb
        |      AS DOUBLE) AS u,
        |    CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd
        |  FROM m
        |), s AS (
        |  SELECT na, nb,
        |    u / (nad * nbd * (nad + nbd))
        |      - (4.0 * nad * nbd - 1) / (6.0 * (nad + nbd)) AS t0
        |  FROM f
        |)
        |SELECT na AS n_a, nb AS n_b,
        |  FLOOR(t0 * 1000000.0 + 0.500001) / 1000000.0 AS cvm_t,
        |  CAST(COALESCE(CASE WHEN
        |    FLOOR(t0 * 1000000.0 + 0.500001) / 1000000.0 > 0.461
        |    THEN 1 ELSE 0 END, 0) AS BIGINT) AS reject_05
        |FROM s""".stripMargin,

    // the same exact-integer contingency cells and the identical ln-ratio
    // terms; the reject flag compares the r4-rounded statistic
    "q_g_test" ->
      s"""WITH $CellsCte, cont AS (
        |  SELECT px, sy, c,
        |    SUM(c) OVER (PARTITION BY px) AS rt,
        |    SUM(c) OVER (PARTITION BY sy) AS ct,
        |    SUM(c) OVER () AS n,
        |    ROW_NUMBER() OVER (PARTITION BY px ORDER BY sy) AS rnx,
        |    ROW_NUMBER() OVER (PARTITION BY sy ORDER BY px) AS rny
        |  FROM cells
        |), g AS (
        |  SELECT CAST(MAX(n) AS BIGINT) AS nn,
        |    CAST(COUNT(*) AS BIGINT) AS n_cells,
        |    CAST(SUM(CASE WHEN rnx = 1 THEN 1 ELSE 0 END) AS BIGINT) AS r,
        |    CAST(SUM(CASE WHEN rny = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cc,
        |    SUM(2.0 * CAST(c AS DOUBLE)
        |      * LN(CAST(c AS DOUBLE) * CAST(n AS DOUBLE)
        |        / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)))) AS g0
        |  FROM cont
        |)
        |SELECT nn AS n, n_cells,
        |  FLOOR(g0 * 10000.0 + 0.500001) / 10000.0 AS g_stat,
        |  CAST((r - 1) * (cc - 1) AS BIGINT) AS dof,
        |  CAST(CASE WHEN FLOOR(g0 * 10000.0 + 0.500001) / 10000.0 > 20.09
        |    THEN 1 ELSE 0 END AS BIGINT) AS reject_99
        |FROM g""".stripMargin,

    // identical exact 2x2 cells; ln/sqrt only inside the all-cells-
    // positive CASE (lazy on both engines)
    "q_odds_ratio" ->
      """WITH m AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      AND o_totalprice > 240000.0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS a,
        |    CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      AND NOT o_totalprice > 240000.0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS b,
        |    CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |      AND o_totalprice > 240000.0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c,
        |    CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |      AND NOT o_totalprice > 240000.0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d
        |  FROM orders
        |), e AS (
        |  SELECT a, b, c, d,
        |    a > 0 AND b > 0 AND c > 0 AND d > 0 AS ok,
        |    CAST(a * d AS DOUBLE) / CAST(b * c AS DOUBLE) AS orat,
        |    sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d) AS se
        |  FROM m WHERE a > 0 AND b > 0 AND c > 0 AND d > 0
        |  UNION ALL
        |  SELECT a, b, c, d, FALSE, NULL, NULL
        |  FROM m WHERE NOT (a > 0 AND b > 0 AND c > 0 AND d > 0)
        |)
        |SELECT a, b, c, d,
        |  CASE WHEN ok THEN FLOOR(orat * 1000000.0 + 0.500001) / 1000000.0
        |    END AS odds_ratio,
        |  CASE WHEN ok THEN FLOOR(EXP(LN(orat) - 1.959963984540054 * se)
        |    * 1000000.0 + 0.500001) / 1000000.0 END AS ci_lo,
        |  CASE WHEN ok THEN FLOOR(EXP(LN(orat) + 1.959963984540054 * se)
        |    * 1000000.0 + 0.500001) / 1000000.0 END AS ci_hi,
        |  CAST(COALESCE(CASE WHEN ok THEN
        |      CASE WHEN EXP(LN(orat) - 1.959963984540054 * se) > 1.0
        |        OR EXP(LN(orat) + 1.959963984540054 * se) < 1.0
        |      THEN 1 ELSE 0 END END, 0) AS BIGINT) AS assoc_05
        |FROM e""".stripMargin,

    // identical exact-BIGINT stratum cells (same join + CASE census), the
    // same left-associated per-stratum float terms, and the same
    // segment-ORDERED cumulative accumulation — the float sequence is
    // identical op-for-op, so parity is structural; the guard mirrors
    // try_divide (s_bc ≠ 0) and the n>1 V clamp
    "q_cmh" ->
      """WITH cells AS (
        |  SELECT c.c_mktsegment AS segment,
        |    CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      AND o.o_totalprice > 240000.0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS a,
        |    CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      AND NOT o.o_totalprice > 240000.0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b,
        |    CAST(SUM(CASE WHEN o.o_orderpriority NOT IN
        |      ('1-URGENT', '2-HIGH') AND o.o_totalprice > 240000.0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |    CAST(SUM(CASE WHEN o.o_orderpriority NOT IN
        |      ('1-URGENT', '2-HIGH') AND NOT o.o_totalprice > 240000.0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS d
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1
        |), terms AS (
        |  SELECT segment, a,
        |    CAST(a + b AS DOUBLE) * CAST(a + c AS DOUBLE)
        |      / CAST(a + b + c + d AS DOUBLE) AS e_a,
        |    CASE WHEN CAST(a + b + c + d AS DOUBLE) > 1.0 THEN
        |      CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
        |        * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)
        |      / (CAST(a + b + c + d AS DOUBLE) * CAST(a + b + c + d AS DOUBLE)
        |         * (CAST(a + b + c + d AS DOUBLE) - 1.0))
        |      ELSE 0.0 END AS v_a,
        |    CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
        |      / CAST(a + b + c + d AS DOUBLE) AS ad_n,
        |    CAST(b AS DOUBLE) * CAST(c AS DOUBLE)
        |      / CAST(a + b + c + d AS DOUBLE) AS bc_n
        |  FROM cells
        |), acc AS (
        |  SELECT COUNT(*) OVER () AS n_strata,
        |    ROW_NUMBER() OVER (ORDER BY segment) AS rn,
        |    SUM(a) OVER w AS sa, SUM(e_a) OVER w AS se,
        |    SUM(v_a) OVER w AS sv, SUM(ad_n) OVER w AS s_ad,
        |    SUM(bc_n) OVER w AS s_bc
        |  FROM terms
        |  WINDOW w AS (ORDER BY segment
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), fin AS (
        |  SELECT n_strata, sa, se, sv, s_ad, s_bc,
        |    CASE WHEN sv > 0.0 THEN
        |      FLOOR((CAST(sa AS DOUBLE) - se) * (CAST(sa AS DOUBLE) - se)
        |        / sv * 10000.0 + 0.500001) / 10000.0 END AS chi2
        |  FROM acc WHERE rn = n_strata
        |)
        |SELECT CAST(n_strata AS BIGINT) AS n_strata,
        |  CAST(sa AS BIGINT) AS sum_a,
        |  FLOOR(se * 1000000.0 + 0.500001) / 1000000.0 AS sum_e,
        |  FLOOR(sv * 1000000.0 + 0.500001) / 1000000.0 AS sum_v,
        |  chi2 AS cmh_chi2,
        |  CASE WHEN s_bc <> 0.0 THEN
        |    FLOOR(s_ad / s_bc * 1000000.0 + 0.500001) / 1000000.0 END
        |    AS or_mh,
        |  CAST(COALESCE(CASE WHEN chi2 > 3.8415 THEN 1 ELSE 0 END, 0)
        |    AS BIGINT) AS reject_95
        |FROM fin""".stripMargin,

    // identical per-user counts and exact Σk/Σk² (HUGEINT), the same
    // left-associated D/z float compose; n ≤ 1 or zero purchases
    // abstains NULL identically
    "q_dispersion" ->
      """WITH u AS (
        |  SELECT user_id,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS k
        |  FROM events GROUP BY user_id
        |), m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(k) AS BIGINT) AS sk,
        |    SUM(CAST(k AS HUGEINT) * k) AS skk
        |  FROM u
        |), fin AS (
        |  SELECT n, sk, n > 1 AND sk > 0 AS ok,
        |    CAST(sk AS DOUBLE) / CAST(n AS DOUBLE) AS mean_k,
        |    (CAST(skk AS DOUBLE)
        |      - CAST(sk AS DOUBLE) * CAST(sk AS DOUBLE) / CAST(n AS DOUBLE))
        |      / (CAST(n AS DOUBLE) - 1.0) AS var_k
        |  FROM m
        |), fin2 AS (
        |  SELECT n, sk, ok, mean_k, var_k, var_k / mean_k AS d,
        |    CASE WHEN ok THEN
        |      FLOOR((var_k / mean_k - 1.0)
        |        * SQRT((CAST(n AS DOUBLE) - 1.0) / 2.0)
        |        * 1000000.0 + 0.500001) / 1000000.0 END AS z
        |  FROM fin
        |)
        |SELECT n AS n_users, sk AS n_purchases,
        |  CASE WHEN ok THEN FLOOR(mean_k * 1000000.0 + 0.500001)
        |    / 1000000.0 END AS mean_k,
        |  CASE WHEN ok THEN FLOOR(var_k * 1000000.0 + 0.500001)
        |    / 1000000.0 END AS var_k,
        |  CASE WHEN ok THEN FLOOR(d * 1000000.0 + 0.500001)
        |    / 1000000.0 END AS dispersion,
        |  z AS z_stat,
        |  CAST(COALESCE(CASE WHEN z > 1.959963984540054 THEN 1 ELSE 0 END,
        |    0) AS BIGINT) AS overdispersed_95
        |FROM fin2""".stripMargin,

    // identical per-user purchase counts, md5 arms, exact BIGINT cell
    // frame, and the same Wald float sequence (plain / NULLs on zero
    // exposure, matching the engine's try_divide)
    "q_poisson_rate" ->
      """WITH u AS (
        |  SELECT user_id,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS k,
        |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4)
        |      AS BIGINT) % 2 AS g
        |  FROM events GROUP BY user_id
        |), m AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS t1,
        |    CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS t2,
        |    CAST(SUM(CASE WHEN g = 0 THEN k ELSE 0 END) AS BIGINT) AS k1,
        |    CAST(SUM(CASE WHEN g = 1 THEN k ELSE 0 END) AS BIGINT) AS k2
        |  FROM u
        |), z AS (
        |  SELECT k1, t1, k2, t2,
        |    CAST(k1 AS DOUBLE) / t1 AS l1, CAST(k2 AS DOUBLE) / t2 AS l2,
        |    (CAST(k1 AS DOUBLE) / t1 - CAST(k2 AS DOUBLE) / t2)
        |      / sqrt((CAST(k1 AS DOUBLE) / t1) / t1
        |        + (CAST(k2 AS DOUBLE) / t2) / t2) AS zz
        |  FROM m
        |)
        |SELECT k1, t1, k2, t2,
        |  FLOOR(l1 * 1000000.0 + 0.500001) / 1000000.0 AS rate_a,
        |  FLOOR(l2 * 1000000.0 + 0.500001) / 1000000.0 AS rate_b,
        |  FLOOR(zz * 1000000.0 + 0.500001) / 1000000.0 AS z_stat,
        |  CAST(COALESCE(CASE WHEN ABS(zz) > 1.959963984540054
        |    THEN 1 ELSE 0 END, 0) AS BIGINT) AS reject_95
        |FROM z""".stripMargin,

    // the identical id-ordered cumulative counts and the SAME written-out
    // ln literals; the first crossing encodes (n, side) into one MIN
    "q_sprt" ->
      """WITH u AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x
        |  FROM events WHERE user_id <= 2000 GROUP BY user_id
        |), c AS (
        |  SELECT user_id,
        |    CAST(COUNT(*) OVER (ORDER BY user_id) AS BIGINT) AS n,
        |    CAST(SUM(x) OVER (ORDER BY user_id) AS BIGINT) AS c
        |  FROM u
        |), fl AS (
        |  SELECT n, c,
        |    CAST(c AS DOUBLE) * 0.3364722366212129
        |      + CAST(n - c AS DOUBLE) * (-0.1431008436406733) AS llr
        |  FROM c
        |), cr AS (
        |  SELECT n, c, llr,
        |    CASE WHEN llr >= 2.9444389791664403 THEN 1
        |      WHEN llr <= -2.9444389791664403 THEN -1 ELSE 0 END AS crs
        |  FROM fl
        |), g AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_stream,
        |    CAST(MAX(c) AS BIGINT) AS conversions,
        |    CAST(MIN(CASE WHEN crs <> 0 THEN n END) AS BIGINT) AS decision_n,
        |    MIN(CASE WHEN crs <> 0
        |      THEN n * 2 + (CASE WHEN crs = 1 THEN 1 ELSE 0 END) END)
        |      AS firstenc
        |  FROM cr
        |)
        |SELECT n_stream, conversions, decision_n,
        |  CASE WHEN firstenc IS NULL THEN 'continue'
        |    WHEN firstenc % 2 = 1 THEN 'accept_h1'
        |    ELSE 'accept_h0' END AS decision,
        |  FLOOR((CAST(conversions AS DOUBLE) * 0.3364722366212129
        |    + CAST(n_stream - conversions AS DOUBLE) * (-0.1431008436406733))
        |    * 1000000.0 + 0.500001) / 1000000.0 AS llr_final
        |FROM g""".stripMargin,

    // identical ordinal scores, exact BIGINT cell sums, the same closed
    // float sequence with GREATEST/plain-/ degenerate behavior
    "q_cochran_armitage" ->
      """WITH cells AS (
        |  SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS w,
        |    CAST(COUNT(*) AS BIGINT) AS nk,
        |    CAST(SUM(CASE WHEN o_totalprice > 240000.0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ak
        |  FROM orders GROUP BY 1
        |), g AS (
        |  SELECT CAST(SUM(nk) AS BIGINT) AS nn,
        |    CAST(SUM(ak) AS BIGINT) AS aa,
        |    CAST(COUNT(*) AS BIGINT) AS k_tiers,
        |    CAST(SUM(w * nk) AS BIGINT) AS swn,
        |    CAST(SUM(w * w * nk) AS BIGINT) AS swwn,
        |    CAST(SUM(w * ak) AS BIGINT) AS swa
        |  FROM cells
        |), f AS (
        |  SELECT nn, aa, k_tiers,
        |    CAST(aa AS DOUBLE) / CAST(nn AS DOUBLE) AS pbar,
        |    (CAST(swa AS DOUBLE) - CAST(swn AS DOUBLE) * CAST(aa AS DOUBLE)
        |      / CAST(nn AS DOUBLE))
        |    / sqrt(GREATEST((CAST(aa AS DOUBLE) / CAST(nn AS DOUBLE))
        |      * (1.0 - CAST(aa AS DOUBLE) / CAST(nn AS DOUBLE))
        |      * (CAST(swwn AS DOUBLE) - CAST(swn AS DOUBLE)
        |        * CAST(swn AS DOUBLE) / CAST(nn AS DOUBLE)), 0.0)) AS z
        |  FROM g
        |)
        |SELECT nn AS n, aa AS n_hv, k_tiers,
        |  FLOOR(pbar * 1000000.0 + 0.500001) / 1000000.0 AS rate_overall,
        |  FLOOR(z * 1000000.0 + 0.500001) / 1000000.0 AS z_trend,
        |  CAST(COALESCE(CASE WHEN ABS(z) > 1.959963984540054
        |    THEN 1 ELSE 0 END, 0) AS BIGINT) AS reject_95
        |FROM f""".stripMargin,

    // identical calendar-bounded pair census; quantile_cont matches
    // percentile's midpoint interpolation on exact integers
    "q_hodges_lehmann" ->
      s"""WITH ${Timeseries.DailyRevenueCte}, a AS (SELECT rev AS ra FROM daily WHERE year(day) = 1998
        |), b AS (SELECT rev AS rb FROM daily WHERE year(day) = 1997
        |), pairs AS (SELECT ra - rb AS d FROM a, b
        |), m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    quantile_cont(d, 0.5) AS hl
        |  FROM pairs
        |)
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM a) AS n_a,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM b) AS n_b,
        |  n_pairs,
        |  FLOOR(hl / 100.0 * 100.0 + 0.500001) / 100.0 AS hl_shift_dollars
        |FROM m""".stripMargin,

    // DELIBERATELY the naive form (the q_skyline stance): the full pair
    // census with per-day re-grouping — if the engine's sorted-prefix row
    // sums or the Σ|Δv|² moment identity mishandle any tie case, the two
    // derivations disagree and the hash gate goes red. Every moment an
    // exact HUGEINT; same literal-order final double ops and
    // zero-variance abstention
    "q_dcor" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT))
        |      AS BIGINT) AS x,
        |    CAST(COUNT(*) AS BIGINT) AS y
        |  FROM orders GROUP BY 1
        |), pairs AS (
        |  SELECT a.day AS di,
        |    CAST(abs(a.x - b.x) AS HUGEINT) AS dx,
        |    CAST(abs(a.y - b.y) AS HUGEINT) AS dy
        |  FROM daily a CROSS JOIN daily b
        |), rws AS (
        |  SELECT di, SUM(dx) AS ax, SUM(dy) AS ay,
        |    SUM(dx * dy) AS sxy, SUM(dx * dx) AS sxx, SUM(dy * dy) AS syy
        |  FROM pairs GROUP BY di
        |), g AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(ax) AS tx, SUM(ay) AS ty,
        |    SUM(sxy) AS t1, SUM(sxx) AS t1x, SUM(syy) AS t1y,
        |    SUM(ax * ay) AS t3, SUM(ax * ax) AS t3x, SUM(ay * ay) AS t3y
        |  FROM rws
        |), f0 AS (
        |  SELECT n,
        |    CAST(n AS DOUBLE) * CAST(n AS DOUBLE) AS n2,
        |    CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) AS n3,
        |    tx, ty, t1, t1x, t1y, t3, t3x, t3y
        |  FROM g
        |), f AS (
        |  SELECT n,
        |    CAST(t1 AS DOUBLE) / n2
        |      + (CAST(tx AS DOUBLE) / n2) * (CAST(ty AS DOUBLE) / n2)
        |      - 2.0 * CAST(t3 AS DOUBLE) / n3 AS dcov2,
        |    CAST(t1x AS DOUBLE) / n2
        |      + (CAST(tx AS DOUBLE) / n2) * (CAST(tx AS DOUBLE) / n2)
        |      - 2.0 * CAST(t3x AS DOUBLE) / n3 AS dvx,
        |    CAST(t1y AS DOUBLE) / n2
        |      + (CAST(ty AS DOUBLE) / n2) * (CAST(ty AS DOUBLE) / n2)
        |      - 2.0 * CAST(t3y AS DOUBLE) / n3 AS dvy
        |  FROM f0
        |)
        |SELECT n AS n_days, CAST(n * n AS BIGINT) AS n_pairs,
        |  CASE WHEN dvx * dvy > 0.0
        |    THEN FLOOR(sqrt(greatest(dcov2, 0.0) / sqrt(dvx * dvy))
        |      * 1000000.0 + 0.500001) / 1000000.0 END AS dcor
        |FROM f""".stripMargin,

    // identical strata moments, micro-quantized within-stratum terms,
    // the same prune census
    "q_cem" ->
      """WITH outcomes AS (
        |  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS y
        |  FROM orders GROUP BY o_custkey
        |), units AS (
        |  SELECT c_nationkey AS qn, c_mktsegment AS qs,
        |    COALESCE(o.y, 0) AS y,
        |    CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 4)
        |      AS BIGINT) % 2 AS g
        |  FROM customer c LEFT JOIN outcomes o ON c.c_custkey = o.o_custkey
        |), strata AS (
        |  SELECT qn, qs,
        |    CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nt,
        |    CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
        |    CAST(SUM(CASE WHEN g = 0 THEN y ELSE 0 END) AS BIGINT) AS syt,
        |    CAST(SUM(CASE WHEN g = 1 THEN y ELSE 0 END) AS BIGINT) AS syc
        |  FROM units GROUP BY qn, qs
        |), matched AS (
        |  SELECT *,
        |    CAST(SUM(nt) OVER () AS BIGINT) AS mt,
        |    CAST(SUM(nc) OVER () AS BIGINT) AS mc,
        |    CAST(FLOOR(CAST(nt AS DOUBLE)
        |      * (CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE)
        |        - CAST(syc AS DOUBLE) / CAST(nc AS DOUBLE)) * 1000000.0)
        |      AS BIGINT) AS term_micro
        |  FROM strata WHERE nt > 0 AND nc > 0
        |), pruned AS (
        |  SELECT CAST(COALESCE(SUM(nt), 0) AS BIGINT) AS pruned_treated,
        |    CAST(COALESCE(SUM(nc), 0) AS BIGINT) AS pruned_control
        |  FROM strata WHERE nt = 0 OR nc = 0
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
        |  MAX(mt) AS n_treated_matched, MAX(mc) AS n_control_matched,
        |  MAX(pruned_treated) AS pruned_treated,
        |  MAX(pruned_control) AS pruned_control,
        |  FLOOR(CAST(SUM(term_micro) AS DOUBLE) / 1000000.0
        |    / CAST(MAX(mt) AS DOUBLE) * 1000000.0 + 0.500001) / 1000000.0
        |    AS att_orders
        |FROM matched, pruned""".stripMargin,

    // the q_ab_ttest moment frame, two one-sided z's against ±$50, the
    // verdict on the same r6-rounded statistics
    "q_tost_equivalence" ->
      s"""WITH $ArmMomentsCte
        |SELECT na AS n_a, nb AS n_b,
        |  FLOOR((ma - mb) * 1000000.0 + 0.500001) / 1000000.0 AS diff,
        |  FLOOR(sqrt(va / na + vb / nb) * 1000000.0 + 0.500001) / 1000000.0
        |    AS se,
        |  FLOOR((ma - mb + 50.0) / sqrt(va / na + vb / nb) * 1000000.0
        |    + 0.500001) / 1000000.0 AS z_low,
        |  FLOOR((50.0 - (ma - mb)) / sqrt(va / na + vb / nb) * 1000000.0
        |    + 0.500001) / 1000000.0 AS z_high,
        |  CAST(LEAST(
        |    FLOOR((ma - mb + 50.0) / sqrt(va / na + vb / nb) * 1000000.0
        |      + 0.500001) / 1000000.0,
        |    FLOOR((50.0 - (ma - mb)) / sqrt(va / na + vb / nb) * 1000000.0
        |      + 0.500001) / 1000000.0) > 1.6448536269514722 AS BIGINT)
        |    AS equivalent
        |FROM m""".stripMargin,

    // identical exact moment frame, micro-quantized within/between sums,
    // the same method-of-moments τ² and closed-form shrinkage chain
    "q_eb_shrinkage" ->
      """WITH cells AS (
        |  SELECT o_orderpriority AS prio, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT))
        |      AS BIGINT) AS sv,
        |    SUM(CAST(CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT)
        |      AS HUGEINT) * CAST(FLOOR(o_totalprice * 100.0 + 0.500001)
        |      AS BIGINT)) AS ssq
        |  FROM orders GROUP BY o_orderpriority
        |), tot AS (
        |  SELECT *, CAST(SUM(n) OVER () AS BIGINT) AS nn,
        |    CAST(SUM(n * n) OVER () AS BIGINT) AS snn,
        |    CAST(SUM(sv) OVER () AS BIGINT) AS st,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS jj
        |  FROM cells
        |), q AS (
        |  SELECT *,
        |    CAST(FLOOR(CAST(ssq AS DOUBLE) - CAST(sv AS DOUBLE)
        |      * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))
        |      AS HUGEINT) AS ssw_t,
        |    CAST(FLOOR(CAST(n AS DOUBLE)
        |      * (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)
        |        - CAST(st AS DOUBLE) / CAST(nn AS DOUBLE))
        |      * (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)
        |        - CAST(st AS DOUBLE) / CAST(nn AS DOUBLE)))
        |      AS HUGEINT) AS sbm_t
        |  FROM tot
        |), w AS (
        |  SELECT *, SUM(ssw_t) OVER () AS ssw, SUM(sbm_t) OVER () AS sbm
        |  FROM q
        |), e AS (
        |  SELECT prio, n,
        |    CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) AS mj,
        |    CAST(st AS DOUBLE) / CAST(nn AS DOUBLE) AS m,
        |    CAST(ssw AS DOUBLE)
        |      / (CAST(nn AS DOUBLE) - CAST(jj AS DOUBLE)) AS sigw,
        |    GREATEST((CAST(sbm AS DOUBLE)
        |        - (CAST(jj AS DOUBLE) - 1.0) * CAST(ssw AS DOUBLE)
        |          / (CAST(nn AS DOUBLE) - CAST(jj AS DOUBLE)))
        |      / (CAST(nn AS DOUBLE) - CAST(snn AS DOUBLE)
        |        / CAST(nn AS DOUBLE)), 0.0) AS tau2
        |  FROM w
        |), f AS (
        |  SELECT prio, n, mj, m, tau2,
        |    COALESCE((sigw / CAST(n AS DOUBLE))
        |      / (sigw / CAST(n AS DOUBLE) + tau2), 1.0) AS b
        |  FROM e
        |)
        |SELECT prio, n,
        |  FLOOR(mj / 100.0 * 100.0 + 0.500001) / 100.0 AS raw_mean_dollars,
        |  FLOOR((m + (1.0 - b) * (mj - m)) / 100.0 * 100.0 + 0.500001)
        |    / 100.0 AS shrunk_mean_dollars,
        |  FLOOR(b * 1000000.0 + 0.500001) / 1000000.0 AS shrink_weight,
        |  FLOOR(tau2 / 10000.0 * 1000000.0 + 0.500001) / 1000000.0
        |    AS tau2_dollars2
        |FROM f ORDER BY prio""".stripMargin,

    // identical micro-quantized p-moments, the same staged common/alpha/
    // beta doubles, NULLS LAST made explicit to mirror Spark's desc
    "q_beta_binomial" ->
      """WITH cust AS (
        |  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS k
        |  FROM orders GROUP BY 1 HAVING COUNT(*) >= 5
        |), terms AS (
        |  SELECT o_custkey, n, k,
        |    CAST(FLOOR(CAST(k AS DOUBLE) / CAST(n AS DOUBLE) * 1000000.0
        |      + 0.500001) AS BIGINT) AS pu,
        |    CAST(FLOOR((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (CAST(k AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000000000.0
        |      + 0.500001) AS HUGEINT) AS pu2
        |  FROM cust
        |), m0 AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS m, CAST(SUM(pu) AS BIGINT)
        |    AS spu, CAST(SUM(pu2) AS HUGEINT) AS spu2
        |  FROM terms
        |), mom0 AS (
        |  SELECT m, CAST(spu AS DOUBLE) / 1000000.0 / CAST(m AS DOUBLE)
        |      AS mu,
        |    CAST(spu2 AS DOUBLE) / 1000000000000.0 / CAST(m AS DOUBLE)
        |      - (CAST(spu AS DOUBLE) / 1000000.0 / CAST(m AS DOUBLE))
        |      * (CAST(spu AS DOUBLE) / 1000000.0 / CAST(m AS DOUBLE)) AS v
        |  FROM m0
        |), mom1 AS (
        |  SELECT m, mu,
        |    CASE WHEN v > 0.0 AND mu > 0.0 AND mu < 1.0
        |      THEN mu * (1.0 - mu) / v - 1.0 END AS common
        |  FROM mom0
        |), mom AS (
        |  SELECT m,
        |    CASE WHEN common > 0.0 THEN mu * common END AS alpha,
        |    CASE WHEN common > 0.0 THEN (1.0 - mu) * common END AS beta
        |  FROM mom1
        |), sel AS (
        |  SELECT t.o_custkey AS custkey, t.n, t.k,
        |    FLOOR(CAST(t.k AS DOUBLE) / CAST(t.n AS DOUBLE) * 1000000.0
        |      + 0.500001) / 1000000.0 AS raw_rate,
        |    FLOOR((CAST(t.k AS DOUBLE) + alpha)
        |      / (CAST(t.n AS DOUBLE) + alpha + beta) * 1000000.0
        |      + 0.500001) / 1000000.0 AS shrunk_rate,
        |    FLOOR(alpha * 1000000.0 + 0.500001) / 1000000.0 AS alpha,
        |    FLOOR(beta * 1000000.0 + 0.500001) / 1000000.0 AS beta
        |  FROM terms t CROSS JOIN mom
        |  ORDER BY shrunk_rate DESC NULLS LAST, custkey LIMIT 10
        |)
        |SELECT * FROM sel
        |ORDER BY shrunk_rate DESC NULLS LAST, custkey""".stripMargin,

    // identical midranks off the value-grouped prefix sum, micro-quantized
    // per-group terms, the same engine-neutral weekday and χ² line
    "q_kruskal_wallis" ->
      s"""WITH ${Timeseries.DailyRevenueCte}, d2 AS (
        |  SELECT rev, CAST(((day - DATE '1995-01-01') % 7 + 7) % 7 AS BIGINT) AS wd
        |  FROM daily
        |), vals AS (
        |  SELECT rev, CAST(COUNT(*) AS BIGINT) AS cv FROM d2 GROUP BY rev
        |), mr AS (
        |  SELECT rev, cv,
        |    CAST(SUM(cv) OVER (ORDER BY rev ROWS BETWEEN UNBOUNDED
        |        PRECEDING AND CURRENT ROW) - cv AS DOUBLE)
        |      + CAST(cv + 1 AS DOUBLE) / 2.0 AS midrank
        |  FROM vals
        |), g AS (
        |  SELECT wd, CAST(COUNT(*) AS BIGINT) AS nj, SUM(midrank) AS rj
        |  FROM d2 JOIN mr USING (rev) GROUP BY wd
        |), terms AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
        |    CAST(SUM(CAST(FLOOR(rj * rj / CAST(nj AS DOUBLE) * 1000000.0)
        |      AS BIGINT)) AS BIGINT) AS s_micro
        |  FROM g
        |), tiet AS (
        |  SELECT CAST(SUM(cv * cv * cv - cv) AS BIGINT) AS tie FROM vals
        |), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily
        |), hh AS (
        |  SELECT n_days, n_groups,
        |    12.0 / (CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) + 1.0))
        |      * (CAST(s_micro AS DOUBLE) / 1000000.0)
        |      - 3.0 * (CAST(n_days AS DOUBLE) + 1.0) AS h,
        |    1.0 - CAST(tie AS DOUBLE)
        |      / (CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE)
        |        * CAST(n_days AS DOUBLE) - CAST(n_days AS DOUBLE)) AS c
        |  FROM nn, terms, tiet
        |)
        |SELECT n_days, n_groups,
        |  FLOOR(h * 1000000.0 + 0.500001) / 1000000.0 AS h,
        |  FLOOR(h / c * 1000000.0 + 0.500001) / 1000000.0
        |    AS h_tie_corrected,
        |  COALESCE(CAST(FLOOR(h / c * 1000000.0 + 0.500001) / 1000000.0
        |    > 12.591587243743977 AS BIGINT), 0) AS reject_95
        |FROM hh""".stripMargin,

    // identical per-block midranks (RANK + (ties−1)/2), exact half-integer
    // rank algebra, the same χ² line
    "q_friedman" ->
      s"""WITH $WeekdayRankSumsCte, g AS (
        |  SELECT CAST(MAX(b) AS BIGINT) AS b, CAST(COUNT(*) AS BIGINT) AS k,
        |    SUM(rj * rj) AS srj2
        |  FROM bywd
        |)
        |SELECT b AS n_weeks, k AS k_days,
        |  FLOOR((12.0 / (CAST(b AS DOUBLE) * CAST(k AS DOUBLE)
        |      * (CAST(k AS DOUBLE) + 1.0)) * srj2
        |    - 3.0 * CAST(b AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0))
        |    * 1000000.0 + 0.500001) / 1000000.0 AS chi2_f,
        |  CAST(FLOOR((12.0 / (CAST(b AS DOUBLE) * CAST(k AS DOUBLE)
        |      * (CAST(k AS DOUBLE) + 1.0)) * srj2
        |    - 3.0 * CAST(b AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0))
        |    * 1000000.0 + 0.500001) / 1000000.0 > 12.591587243743977
        |    AS BIGINT) AS reject_95
        |FROM g""".stripMargin,

    // the q_friedman complete-week midrank frame (dyadic-exact sums, so
    // aggregation order cannot matter), the same L/E/Var literal-order
    // closed forms, z on the rounded value
    "q_page_trend" ->
      s"""WITH $WeekdayRankSumsCte, g AS (
        |  SELECT CAST(MAX(b) AS BIGINT) AS b, CAST(COUNT(*) AS BIGINT) AS k,
        |    SUM(CAST(wd + 1 AS DOUBLE) * rj) AS l
        |  FROM bywd
        |), f1 AS (
        |  SELECT b, k, l,
        |    CAST(b AS DOUBLE) * CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0)
        |      * (CAST(k AS DOUBLE) + 1.0) / 4.0 AS el,
        |    CAST(b AS DOUBLE) * CAST(k AS DOUBLE) * CAST(k AS DOUBLE)
        |      * (CAST(k AS DOUBLE) + 1.0)
        |      * (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0) / 144.0 AS vl,
        |    b >= 2 AND k >= 3 AS ok
        |  FROM g
        |), f2 AS (
        |  SELECT b, k, l, el, ok,
        |    CASE WHEN ok THEN
        |      FLOOR((l - el) / SQRT(vl) * 1000000.0 + 0.500001) / 1000000.0
        |    END AS zr
        |  FROM f1
        |)
        |SELECT b AS n_weeks, k AS k_days,
        |  FLOOR(l * 100.0 + 0.500001) / 100.0 AS l_stat,
        |  FLOOR(el * 100.0 + 0.500001) / 100.0 AS l_expected,
        |  zr AS z_stat,
        |  CAST(COALESCE(CASE WHEN ABS(zr) > 1.959963984540054
        |    THEN 1 ELSE 0 END, 0) AS BIGINT) AS reject_95
        |FROM f2""".stripMargin,

    // identical bounded pair census, exact dominance counts, the same
    // r6-rounded |δ| magnitude cuts
    "q_cliffs_delta" ->
      s"""WITH ${Timeseries.DailyRevenueCte}, a AS (SELECT rev AS ra FROM daily WHERE year(day) = 1998
        |), b AS (SELECT rev AS rb FROM daily WHERE year(day) = 1997
        |), dom AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM(CASE WHEN ra > rb THEN 1 ELSE 0 END) AS BIGINT) AS n_gt,
        |    CAST(SUM(CASE WHEN ra < rb THEN 1 ELSE 0 END) AS BIGINT) AS n_lt
        |  FROM a, b
        |), dd AS (
        |  SELECT n_gt, n_lt,
        |    FLOOR(CAST(n_gt - n_lt AS DOUBLE) / CAST(n_pairs AS DOUBLE)
        |      * 1000000.0 + 0.500001) / 1000000.0 AS delta
        |  FROM dom
        |)
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM a) AS n_a,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM b) AS n_b,
        |  n_gt, n_lt, delta,
        |  CASE WHEN ABS(delta) < 0.147 THEN 'negligible'
        |    WHEN ABS(delta) < 0.33 THEN 'small'
        |    WHEN ABS(delta) < 0.474 THEN 'medium'
        |    ELSE 'large' END AS magnitude
        |FROM dd""".stripMargin,

    // identical exact percentile median, micro-quantized cell terms,
    // NULL-on-zero expected counts on both engines
    "q_mood_median" ->
      s"""WITH ${Timeseries.DailyRevenueCte}, d2 AS (
        |  SELECT rev, CAST(((day - DATE '1995-01-01') % 7 + 7) % 7 AS BIGINT) AS wd
        |  FROM daily
        |), med AS (
        |  SELECT quantile_cont(rev, 0.5) AS m,
        |    CAST(COUNT(*) AS BIGINT) AS n_days FROM d2
        |), cells AS (
        |  SELECT wd, MAX(n_days) AS n_days,
        |    CAST(SUM(CASE WHEN rev > m THEN 1 ELSE 0 END) AS BIGINT)
        |      AS above,
        |    CAST(COUNT(*) AS BIGINT) AS nj
        |  FROM d2, med GROUP BY wd
        |), tot AS (
        |  SELECT *, CAST(SUM(above) OVER () AS BIGINT) AS ta,
        |    CAST(SUM(nj) OVER () AS BIGINT) AS tn
        |  FROM cells
        |), terms AS (
        |  SELECT n_days,
        |    CAST(FLOOR((CAST(above AS DOUBLE)
        |        - CAST(nj AS DOUBLE) * CAST(ta AS DOUBLE)
        |          / CAST(tn AS DOUBLE))
        |      * (CAST(above AS DOUBLE)
        |        - CAST(nj AS DOUBLE) * CAST(ta AS DOUBLE)
        |          / CAST(tn AS DOUBLE))
        |      / (CAST(nj AS DOUBLE) * CAST(ta AS DOUBLE)
        |        / CAST(tn AS DOUBLE)) * 1000000.0) AS BIGINT)
        |    + CAST(FLOOR((CAST(nj - above AS DOUBLE)
        |        - CAST(nj AS DOUBLE) * CAST(tn - ta AS DOUBLE)
        |          / CAST(tn AS DOUBLE))
        |      * (CAST(nj - above AS DOUBLE)
        |        - CAST(nj AS DOUBLE) * CAST(tn - ta AS DOUBLE)
        |          / CAST(tn AS DOUBLE))
        |      / (CAST(nj AS DOUBLE) * CAST(tn - ta AS DOUBLE)
        |        / CAST(tn AS DOUBLE)) * 1000000.0) AS BIGINT) AS t12
        |  FROM tot
        |), chi AS (
        |  SELECT n_days, CAST(COUNT(*) AS BIGINT) AS n_groups,
        |    CAST(SUM(t12) AS BIGINT) AS chi_micro
        |  FROM terms GROUP BY n_days
        |)
        |SELECT n_days, n_groups,
        |  FLOOR(CAST(chi_micro AS DOUBLE) / 1000000.0 * 1000000.0
        |    + 0.500001) / 1000000.0 AS chi2,
        |  COALESCE(CAST(FLOOR(CAST(chi_micro AS DOUBLE) / 1000000.0
        |    * 1000000.0 + 0.500001) / 1000000.0 > 12.591587243743977
        |    AS BIGINT), 0) AS reject_95
        |FROM chi""".stripMargin,

    // identical md5-derived sign flips, exact integer sum comparisons,
    // the same (1 + exceed)/(K + 1) rational
    "q_permutation_test" ->
      s"""WITH ${Timeseries.DailyRevenueCte}, pairs AS (
        |  SELECT a.md, a.rev - b.rev AS d FROM
        |    (SELECT CAST(month(day) * 100 + dayofmonth(day) AS BIGINT) AS md,
        |       rev FROM daily WHERE year(day) = 1998) a
        |  JOIN
        |    (SELECT CAST(month(day) * 100 + dayofmonth(day) AS BIGINT) AS md,
        |       rev FROM daily WHERE year(day) = 1997) b
        |  USING (md)
        |), obs AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM(d) AS BIGINT) AS s_obs FROM pairs
        |), flips AS (
        |  SELECT p.p,
        |    CAST(SUM(d * (1 - 2 * (CAST('0x' || substr(md5(
        |      CAST(md AS VARCHAR) || '_' || CAST(p.p AS VARCHAR)), 1, 4)
        |      AS BIGINT) % 2))) AS BIGINT) AS sp
        |  FROM pairs, LATERAL unnest(generate_series(1, 200)) AS p(p)
        |  GROUP BY p.p
        |), pv AS (
        |  SELECT MAX(n_pairs) AS n_pairs, MAX(s_obs) AS s_obs,
        |    CAST(COUNT(*) AS BIGINT) AS k_perms,
        |    CAST(SUM(CASE WHEN ABS(sp) >= ABS(s_obs) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS exceed
        |  FROM flips, obs
        |)
        |SELECT n_pairs, k_perms,
        |  FLOOR(CAST(s_obs AS DOUBLE) / CAST(n_pairs AS DOUBLE) / 100.0
        |    * 100.0 + 0.500001) / 100.0 AS mean_diff_dollars,
        |  FLOOR(CAST(exceed + 1 AS DOUBLE) / CAST(k_perms + 1 AS DOUBLE)
        |    * 1000000.0 + 0.500001) / 1000000.0 AS p_value,
        |  CAST(CAST(exceed + 1 AS DOUBLE) / CAST(k_perms + 1 AS DOUBLE)
        |    < 0.05 AS BIGINT) AS reject_05
        |FROM pv""".stripMargin,

    // identical exact pooled moments, the same closed-form 2x2 inverse
    // sequence, and the same F conversion
    "q_hotelling" ->
      """WITH feats AS (
        |  SELECT CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 4)
        |      AS BIGINT) % 2 AS g,
        |    CAST(COUNT(*) AS BIGINT) AS f,
        |    CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT))
        |      AS BIGINT) AS m
        |  FROM orders GROUP BY o_custkey
        |), gg AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |    CAST(SUM(CASE WHEN g = 0 THEN f ELSE 0 END) AS BIGINT) AS sfa,
        |    CAST(SUM(CASE WHEN g = 1 THEN f ELSE 0 END) AS BIGINT) AS sfb,
        |    CAST(SUM(CASE WHEN g = 0 THEN m ELSE 0 END) AS BIGINT) AS sma,
        |    CAST(SUM(CASE WHEN g = 1 THEN m ELSE 0 END) AS BIGINT) AS smb,
        |    SUM(CASE WHEN g = 0 THEN CAST(f AS HUGEINT) * f ELSE 0 END)
        |      AS sffa,
        |    SUM(CASE WHEN g = 1 THEN CAST(f AS HUGEINT) * f ELSE 0 END)
        |      AS sffb,
        |    SUM(CASE WHEN g = 0 THEN CAST(m AS HUGEINT) * m ELSE 0 END)
        |      AS smma,
        |    SUM(CASE WHEN g = 1 THEN CAST(m AS HUGEINT) * m ELSE 0 END)
        |      AS smmb,
        |    SUM(CASE WHEN g = 0 THEN CAST(f AS HUGEINT) * m ELSE 0 END)
        |      AS sfma,
        |    SUM(CASE WHEN g = 1 THEN CAST(f AS HUGEINT) * m ELSE 0 END)
        |      AS sfmb
        |  FROM feats
        |), w AS (
        |  SELECT na, nb,
        |    CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) AS nn,
        |    ((CAST(sffa AS DOUBLE) - CAST(sfa AS DOUBLE) * CAST(sfa AS DOUBLE)
        |        / CAST(na AS DOUBLE))
        |      + (CAST(sffb AS DOUBLE) - CAST(sfb AS DOUBLE)
        |        * CAST(sfb AS DOUBLE) / CAST(nb AS DOUBLE)))
        |      / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 2) AS wff,
        |    ((CAST(smma AS DOUBLE) - CAST(sma AS DOUBLE) * CAST(sma AS DOUBLE)
        |        / CAST(na AS DOUBLE))
        |      + (CAST(smmb AS DOUBLE) - CAST(smb AS DOUBLE)
        |        * CAST(smb AS DOUBLE) / CAST(nb AS DOUBLE)))
        |      / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 2) AS wmm,
        |    ((CAST(sfma AS DOUBLE) - CAST(sfa AS DOUBLE) * CAST(sma AS DOUBLE)
        |        / CAST(na AS DOUBLE))
        |      + (CAST(sfmb AS DOUBLE) - CAST(sfb AS DOUBLE)
        |        * CAST(smb AS DOUBLE) / CAST(nb AS DOUBLE)))
        |      / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 2) AS wfm,
        |    CAST(sfa AS DOUBLE) / CAST(na AS DOUBLE)
        |      - CAST(sfb AS DOUBLE) / CAST(nb AS DOUBLE) AS df0,
        |    CAST(sma AS DOUBLE) / CAST(na AS DOUBLE)
        |      - CAST(smb AS DOUBLE) / CAST(nb AS DOUBLE) AS dm0
        |  FROM gg
        |), t AS (
        |  SELECT na, nb, nn, df0, dm0,
        |    CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / nn
        |      * ((df0 * (wmm * df0 - wfm * dm0)
        |        + dm0 * (wff * dm0 - wfm * df0))
        |        / (wff * wmm - wfm * wfm)) AS t2
        |  FROM w
        |), f AS (
        |  SELECT na, nb, df0, dm0, t2,
        |    (nn - 3) / (2.0 * (nn - 2)) * t2 AS fs
        |  FROM t
        |)
        |SELECT na AS n_a, nb AS n_b,
        |  FLOOR(df0 * 1000000.0 + 0.500001) / 1000000.0 AS diff_orders,
        |  FLOOR(dm0 / 100.0 * 100.0 + 0.500001) / 100.0 AS diff_spend,
        |  FLOOR(t2 * 1000000.0 + 0.500001) / 1000000.0 AS t2,
        |  FLOOR(fs * 1000000.0 + 0.500001) / 1000000.0 AS f_stat,
        |  CAST(COALESCE(CASE WHEN
        |      FLOOR(fs * 1000000.0 + 0.500001) / 1000000.0 > 3.0
        |    THEN 1 ELSE 0 END, 0) AS BIGINT) AS reject_05
        |FROM f""".stripMargin,

    // identical per-cell exact moments, clamped variances, guarded ln,
    // whole-test abstention on a degenerate cell
    "q_bartlett" ->
      """WITH cells AS (
        |  SELECT o_orderpriority AS prio, CAST(COUNT(*) AS BIGINT) AS ni,
        |    CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT))
        |      AS BIGINT) AS si,
        |    SUM(CAST(CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT)
        |      AS HUGEINT)
        |      * CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT)) AS qi
        |  FROM orders GROUP BY 1
        |), vs AS (
        |  SELECT ni,
        |    GREATEST(CAST(qi AS DOUBLE) - CAST(si AS DOUBLE)
        |      * CAST(si AS DOUBLE) / CAST(ni AS DOUBLE), 0.0)
        |      / (CAST(ni AS DOUBLE) - 1) AS vi
        |  FROM cells
        |), g AS (
        |  SELECT CAST(SUM(ni) AS BIGINT) AS nn,
        |    CAST(COUNT(*) AS BIGINT) AS k,
        |    SUM((CAST(ni AS DOUBLE) - 1)
        |      * (CASE WHEN vi > 0 THEN LN(vi) END)) AS sln,
        |    SUM((CAST(ni AS DOUBLE) - 1) * vi) AS ssp,
        |    SUM(1.0 / (CAST(ni AS DOUBLE) - 1)) AS sinv,
        |    CAST(SUM(CASE WHEN vi > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_ok
        |  FROM vs
        |), f AS (
        |  SELECT nn, k, n_ok,
        |    CASE WHEN n_ok = k THEN
        |      ((CAST(nn AS DOUBLE) - CAST(k AS DOUBLE))
        |        * (CASE WHEN ssp / (CAST(nn AS DOUBLE) - CAST(k AS DOUBLE)) > 0
        |          THEN LN(ssp / (CAST(nn AS DOUBLE) - CAST(k AS DOUBLE))) END)
        |        - sln)
        |      / (1.0 + (sinv - 1.0 / (CAST(nn AS DOUBLE) - CAST(k AS DOUBLE)))
        |        / (3.0 * (CAST(k AS DOUBLE) - 1))) END AS b
        |  FROM g
        |)
        |SELECT nn AS n, k AS k_groups,
        |  FLOOR(b * 10000.0 + 0.500001) / 10000.0 AS bartlett_stat,
        |  CAST(k - 1 AS BIGINT) AS dof,
        |  CAST(COALESCE(CASE WHEN FLOOR(b * 10000.0 + 0.500001) / 10000.0
        |      > 9.487729036781154
        |    THEN 1 ELSE 0 END, 0) AS BIGINT) AS reject_95
        |FROM f""".stripMargin,

    // the same ln-factorial table (fisher pattern), identical integer
    // Beta reductions, and the same bounded exp-sum
    "q_bayes_ab" ->
      """WITH m AS (
        |  SELECT na, ca, nb, cb,
        |    ca + 1 AS aa, na - ca + 1 AS ba,
        |    cb + 1 AS ab, nb - cb + 1 AS bb,
        |    na + nb + 4 AS kmax
        |  FROM (
        |    SELECT
        |      CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |      CAST(SUM(CASE WHEN g = 0 THEN x ELSE 0 END) AS BIGINT) AS ca,
        |      CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |      CAST(SUM(CASE WHEN g = 1 THEN x ELSE 0 END) AS BIGINT) AS cb
        |    FROM (
        |      SELECT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4)
        |          AS BIGINT) % 2 AS g,
        |        MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x
        |      FROM events WHERE user_id <= 400 GROUP BY user_id
        |    )
        |  )
        |), lf AS (
        |  SELECT k,
        |    SUM(CASE WHEN k > 1 THEN LN(CAST(k AS DOUBLE)) ELSE 0.0 END)
        |      OVER (ORDER BY k ROWS UNBOUNDED PRECEDING) AS lf
        |  FROM (SELECT UNNEST(generate_series(0, (SELECT kmax FROM m))) AS k)
        |), en AS MATERIALIZED (
        |  SELECT m.*, laa1.lf AS laa1, lba1.lf AS lba1, laba.lf AS laba,
        |    lbab.lf AS lbab, lbb1.lf AS lbb1,
        |    UNNEST(generate_series(0, m.ab - 1)) AS i
        |  FROM m
        |  JOIN lf laa1 ON laa1.k = m.aa - 1
        |  JOIN lf lba1 ON lba1.k = m.ba - 1
        |  JOIN lf laba ON laba.k = m.aa + m.ba - 1
        |  JOIN lf lbab ON lbab.k = m.ba + m.bb - 1
        |  JOIN lf lbb1 ON lbb1.k = m.bb - 1
        |), scored AS (
        |  SELECT en.na, en.ca, en.nb, en.cb,
        |    exp((lai.lf + en.lbab - labi.lf)
        |      - LN(CAST(en.bb + en.i AS DOUBLE))
        |      - (li.lf + en.lbb1 - lib.lf)
        |      - (en.laa1 + en.lba1 - en.laba)) AS p_i
        |  FROM en
        |  JOIN lf lai ON lai.k = en.aa + en.i - 1
        |  JOIN lf labi ON labi.k = en.aa + en.i + en.ba + en.bb - 1
        |  JOIN lf lib ON lib.k = en.i + en.bb
        |  JOIN lf li ON li.k = en.i
        |), g AS (
        |  SELECT na, ca, nb, cb, SUM(p_i) AS p0
        |  FROM scored GROUP BY na, ca, nb, cb
        |)
        |SELECT na AS n_a, ca AS conv_a, nb AS n_b, cb AS conv_b,
        |  FLOOR(LEAST(GREATEST(p0, 0.0), 1.0) * 1000000.0 + 0.500001)
        |    / 1000000.0 AS prob_b_beats_a,
        |  CAST(CASE WHEN
        |      FLOOR(LEAST(GREATEST(p0, 0.0), 1.0) * 1000000.0 + 0.500001)
        |        / 1000000.0 > 0.95
        |      OR FLOOR(LEAST(GREATEST(p0, 0.0), 1.0) * 1000000.0 + 0.500001)
        |        / 1000000.0 < 0.05
        |    THEN 1 ELSE 0 END AS BIGINT) AS decisive_95
        |FROM g""".stripMargin,

    // identical exact moments, order-statistic ranks via ROW_NUMBER, the
    // SAME Zelen–Severo literals and clamp, 1e-6 micro terms in HUGEINT
    "q_anderson_darling" ->
      """WITH feats AS (
        |  SELECT o_custkey AS custkey,
        |    CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT))
        |      AS BIGINT) AS x
        |  FROM orders GROUP BY 1
        |), st AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx
        |  FROM feats
        |), rk AS (
        |  SELECT x, CAST(ROW_NUMBER() OVER (ORDER BY x, custkey) AS BIGINT)
        |    AS i
        |  FROM feats
        |), zz AS (
        |  SELECT rk.i, st.n,
        |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
        |    sqrt(GREATEST(CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
        |          / CAST(n AS DOUBLE), 0.0)
        |      / (CAST(n AS DOUBLE) - 1)) AS sd,
        |    (CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |      / sqrt(GREATEST(CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
        |            / CAST(n AS DOUBLE), 0.0)
        |        / (CAST(n AS DOUBLE) - 1)) AS z
        |  FROM rk, st
        |), ph AS (
        |  SELECT i, n, mu, sd,
        |    LEAST(GREATEST(CASE WHEN z >= 0 THEN
        |      1.0 - 0.3989422804014327 * exp(-abs(z) * abs(z) / 2.0)
        |        * ((1.0 / (1.0 + 0.2316419 * abs(z)))
        |          * (0.319381530 + (1.0 / (1.0 + 0.2316419 * abs(z)))
        |            * (-0.356563782 + (1.0 / (1.0 + 0.2316419 * abs(z)))
        |              * (1.781477937 + (1.0 / (1.0 + 0.2316419 * abs(z)))
        |                * (-1.821255978 + (1.0 / (1.0 + 0.2316419 * abs(z)))
        |                  * 1.330274429)))))
        |      ELSE 0.3989422804014327 * exp(-abs(z) * abs(z) / 2.0)
        |        * ((1.0 / (1.0 + 0.2316419 * abs(z)))
        |          * (0.319381530 + (1.0 / (1.0 + 0.2316419 * abs(z)))
        |            * (-0.356563782 + (1.0 / (1.0 + 0.2316419 * abs(z)))
        |              * (1.781477937 + (1.0 / (1.0 + 0.2316419 * abs(z)))
        |                * (-1.821255978 + (1.0 / (1.0 + 0.2316419 * abs(z)))
        |                  * 1.330274429)))))
        |      END, 1e-15), 1.0 - 1e-15) AS phi
        |  FROM zz
        |), g AS (
        |  SELECT n, mu, sd,
        |    SUM(CAST(FLOOR((CAST(2 * i - 1 AS DOUBLE) * LN(phi)
        |      + CAST(2 * (n - i) + 1 AS DOUBLE) * LN(1.0 - phi))
        |      * 1000000.0) AS HUGEINT)) AS smic
        |  FROM ph GROUP BY n, mu, sd
        |)
        |SELECT n AS n_customers,
        |  FLOOR(mu / 100.0 * 100.0 + 0.500001) / 100.0 AS mean_spend,
        |  FLOOR(sd / 100.0 * 100.0 + 0.500001) / 100.0 AS sd_spend,
        |  FLOOR((-CAST(n AS DOUBLE) - CAST(smic AS DOUBLE) / 1000000.0
        |      / CAST(n AS DOUBLE)) * 1000000.0 + 0.500001) / 1000000.0 AS a2,
        |  FLOOR((-CAST(n AS DOUBLE) - CAST(smic AS DOUBLE) / 1000000.0
        |      / CAST(n AS DOUBLE))
        |    * (1.0 + 0.75 / CAST(n AS DOUBLE)
        |      + 2.25 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
        |    * 1000000.0 + 0.500001) / 1000000.0 AS a2_mod,
        |  CAST(COALESCE(CASE WHEN
        |    FLOOR((-CAST(n AS DOUBLE) - CAST(smic AS DOUBLE) / 1000000.0
        |        / CAST(n AS DOUBLE))
        |      * (1.0 + 0.75 / CAST(n AS DOUBLE)
        |        + 2.25 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
        |      * 1000000.0 + 0.500001) / 1000000.0 > 0.787
        |    THEN 1 ELSE 0 END, 0) AS BIGINT) AS reject_05
        |FROM g""".stripMargin
  )
}
