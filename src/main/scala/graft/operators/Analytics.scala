package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.Sources.{table => t}
import graft.similarity.Ann
import graft.functions.ColumnOps
import graft.functions.ColumnOps.{r2, r4, r6}

/** Marketing-analytics + retrieval-fusion family: the question surface a
  * CLV warehouse answers AFTER the reference's feature/score tables exist
  * (reference: dags/clv_data_dag.py builds customer_features + clv scores;
  * cohorts / funnels / RFM segmentation are the standard reads over them),
  * plus the rank-fusion and embedding-hygiene operators a training-data
  * pipeline runs next to the ANN stack.
  *
  * Scale notes per query live on each entry; the common theme: every
  * aggregate reduces to a frame bounded by something SMALL (calendar
  * months, funnel stages, 125 RFM segments, k fused candidates, |labels|
  * centroids) and the bounded frame is what broadcasts/sorts — raw rows
  * never gather on one task.
  */
object Analytics {

  /** Pinned "today" for RFM-style recency — one month past the fixture's
    * max(o_orderdate) (2001-08-01); the reference's CURRENT_DATE() trap
    * (SURVEY §2.7 E5) pinned for determinism, same as q_rfm_features. */
  val SegAsOf = "2001-09-01"

  /** Churn horizon for q_survival: a customer whose last order is more than
    * this many days before [[SegAsOf]] is treated as churned (event
    * observed); later activity means the lifetime is right-censored. 90 days
    * is the conventional retail churn window. */
  val ChurnGapDays = 90

  /** The Kaplan–Meier risk table `(t_days, n_at_t, n_events, n_risk)` over
    * customer lifetimes: t_days = days between a customer's first and last
    * order, an event = churn (last order more than [[ChurnGapDays]] before
    * [[SegAsOf]]), n_at_t / n_events = customers and events per t_days, and
    * n_risk = customers whose lifetime is at least t_days. ONE customer-key
    * shuffle, then everything lives on the calendar-bounded t_days frame.
    */
  private def riskTable(s: SparkSession, dir: String): DataFrame = {
    val asOf = lit(SegAsOf).cast("date")
    val life = t(s, dir, "orders").groupBy(col("o_custkey"))
      .agg(to_date(min(col("o_orderdate"))).as("first_d"),
        to_date(max(col("o_orderdate"))).as("last_d"))
      .select(datediff(col("last_d"), col("first_d")).cast("long").as("t_days"),
        (datediff(asOf, col("last_d")) > lit(ChurnGapDays))
          .cast("long").as("event"))
    val byT = life.groupBy("t_days")
      .agg(count(lit(1)).as("n_at_t"), sum(col("event")).as("n_events"))
    val wOrd = BoundedWindow.ordered(col("t_days"), col("t_days"))
    byT.withColumn("n_risk",
      sum(col("n_at_t")).over(BoundedWindow.whole(col("t_days"))) - coalesce(
        sum(col("n_at_t")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
  }

  /** The life and byt CTEs of [[RiskTableCte]], for the oracles that build
    * their own risk CTE. */
  private val KmLifeCte =
    """life AS (
      |  SELECT CAST(date_diff('day', MIN(CAST(o_orderdate AS DATE)),
      |      MAX(CAST(o_orderdate AS DATE))) AS BIGINT) AS t_days,
      |    CASE WHEN date_diff('day', MAX(CAST(o_orderdate AS DATE)),
      |      DATE '2001-09-01') > 90 THEN 1 ELSE 0 END AS event
      |  FROM orders GROUP BY o_custkey
      |), byt AS (
      |  SELECT t_days, CAST(COUNT(*) AS BIGINT) AS n_at_t,
      |    CAST(SUM(event) AS BIGINT) AS n_events
      |  FROM life GROUP BY t_days
      |)""".stripMargin

  /** The DuckDB mirror of [[riskTable]] without n_at_t in its last CTE: life
    * (per-customer lifetime and churn event), byt (per t_days counts) and
    * risk (n_risk). */
  private val RiskTableCte =
    s"""$KmLifeCte, risk AS (
       |  SELECT t_days, n_events,
       |    CAST(SUM(n_at_t) OVER () AS BIGINT) - CAST(COALESCE(
       |      SUM(n_at_t) OVER (ORDER BY t_days
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS n_risk
       |  FROM byt
       |)""".stripMargin

  /** RRF constant (Cormack et al. 2009: k=60 is the published default). */
  val RrfK = 60

  /** Candidates taken from each ranking before fusion. */
  val FuseTopK = 50

  /** Per-user event-type transition matrix (the first-order Markov view of
    * session paths): lead() pairs each event with its successor on ONE
    * user_id Exchange; the (from, to) counts reduce map-side to a frame
    * bounded by |event types|², and the row-normalizing total is a window
    * over that bounded frame. Exposed for spec-level brute-force parity.
    */
  def markovTransitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val trans = events
      .select(col("event_type").as("src"),
        lead(col("event_type"), 1).over(w).as("dst"))
      .where(col("dst").isNotNull)
      .groupBy("src", "dst").agg(count(lit(1)).as("n"))
    trans.select(col("src"), col("dst"), col("n").cast("long").as("n"),
        r6(col("n").cast("double")
          / sum(col("n")).over(Window.partitionBy("src"))).as("p"))
      .orderBy("src", "dst")
  }

  /** Multi-touch attribution: each purchase's value attributed to the
    * view/click touches since the user's previous purchase (the journey),
    * linearly (value/n_touches each) and last-touch (all to the latest
    * touch, ties on (ts, event_id)). Campaign = props.k mod 5. Scale
    * shape: the journey index is a running purchase count on ONE user_id
    * Exchange; the per-journey windows (conversion value, touch count,
    * last-touch key) are partitioned by (user, journey) — a SUBSET-keyed
    * partitioning, so they re-sort but never re-shuffle; the channel
    * rollup is the only further exchange, onto a |channels|-bounded frame.
    */
  def attribution(events: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val isTouch = col("event_type").isin("view", "click")
    val isPurchase = col("event_type") === "purchase"
    val wj = Window.partitionBy("user_id", "journey")
    val touches = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        col("value"),
        concat(lit("c"), pmod(get_json_object(col("props"), "$.k")
          .cast("long"), lit(5))).as("channel"))
      .withColumn("journey", coalesce(sum(isPurchase.cast("long"))
        .over(wOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("conv_value", max(when(isPurchase, col("value"))).over(wj))
      .withColumn("n_touches", sum(isTouch.cast("long")).over(wj))
      .withColumn("last_ts", max(when(isTouch, col("ts"))).over(wj))
      .withColumn("last_eid", max(when(isTouch && col("ts") === col("last_ts"),
        col("event_id"))).over(wj))
      .where(isTouch && col("conv_value").isNotNull)
    touches.groupBy("channel")
      .agg(
        r4(sum(col("conv_value") / col("n_touches"))).as("attr_linear"),
        r4(sum(when(col("ts") === col("last_ts")
          && col("event_id") === col("last_eid"), col("conv_value"))
          .otherwise(0.0))).as("attr_last"),
        count(lit(1)).as("n_touch_events"))
      .orderBy("channel")
  }

  /** Z-score + min-max scaling of per-customer order features — the
    * standardization step every downstream model consumes. Scale shape:
    * features are one key shuffle; the 8 scaling statistics reduce to ONE
    * broadcast row; scaling is a pure projection. Zero-variance /
    * zero-range columns scale to 0.0 by contract on BOTH engines (Spark's
    * double Divide yields NULL where DuckDB yields ±inf — the q_mad_outliers
    * lesson, guarded identically here).
    */
  def featureScale(orders: DataFrame): DataFrame = {
    val feats = orders
      .groupBy(col("o_custkey").as("custkey"))
      .agg(count(lit(1)).cast("double").as("f"), sum(col("o_totalprice")).as("m"))
    val stats = feats.agg(
      avg(col("f")).as("f_mean"), stddev_samp(col("f")).as("f_sd"),
      min(col("f")).as("f_min"), max(col("f")).as("f_max"),
      avg(col("m")).as("m_mean"), stddev_samp(col("m")).as("m_sd"),
      min(col("m")).as("m_min"), max(col("m")).as("m_max"))
    def z(x: Column, mean: Column, sd: Column): Column =
      when(sd =!= 0.0, (x - mean) / sd).otherwise(0.0)
    def mm(x: Column, lo: Column, hi: Column): Column =
      when(hi =!= lo, (x - lo) / (hi - lo)).otherwise(0.0)
    feats.crossJoin(broadcast(stats))
      .select(col("custkey"),
        r6(z(col("f"), col("f_mean"), col("f_sd"))).as("f_z"),
        r6(mm(col("f"), col("f_min"), col("f_max"))).as("f_mm"),
        r6(z(col("m"), col("m_mean"), col("m_sd"))).as("m_z"),
        r6(mm(col("m"), col("m_min"), col("m_max"))).as("m_mm"))
      .orderBy("custkey")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_markov_transitions" -> ((s, dir) => markovTransitions(t(s, dir, "events"))),

    // ---- Markov entropy rate ----------------------------------------------
    // The information rate of the behavioral chain q_markov_transitions
    // estimates: H = Σ_s π̂_s·H(next|s) with π̂ the empirical source
    // frequencies — "how predictable is the next event", the
    // sequence-data complexity scalar (bot streams ≈ 0, uniform noise ≈
    // ln k). Algebra that removes float accumulation entirely:
    // H = (Σ_s n_s·ln n_s − Σ_{s,d} n_sd·ln n_sd)/N, so each n·ln n term
    // is quantized to integer micro-units ONCE (one deterministic float
    // op per bounded cell — the linkPrediction discipline) and everything
    // else is BIGINT sums over the ≤|types|² cell frame; the micro-unit
    // headroom holds to ~1e11 transitions per cell (decimal(38,0) swap
    // past that). Per-source conditional entropies + the overall rate
    // share the same integers, so all rows are hash-exact.
    "q_entropy_rate" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val cells = t(s, dir, "events")
        .select(col("event_type").as("src"),
          lead(col("event_type"), 1).over(w).as("dst"))
        .where(col("dst").isNotNull)
        .groupBy("src", "dst").agg(count(lit(1)).as("n"))
      def nlogn(c: Column): Column =
        floor(c.cast("double") * log(c.cast("double")) * lit(1000000.0))
          .cast("long")
      val perSrc = cells
        .select(col("src"), col("n"), nlogn(col("n")).as("m"))
        .groupBy("src")
        .agg(sum(col("n")).as("n_out"), count(lit(1)).as("n_dst"),
          sum(col("m")).as("a"))
        .select(col("src"), col("n_out"), col("n_dst"),
          col("a"), nlogn(col("n_out")).as("b"))
      val wAll = BoundedWindow.whole(col("src"))
      val hCond = (col("b") - col("a")).cast("double") / 1000000.0 /
        col("n_out").cast("double")
      val rate = (sum(col("b")).over(wAll) - sum(col("a")).over(wAll))
        .cast("double") / 1000000.0 /
        sum(col("n_out")).over(wAll).cast("double")
      perSrc.select(col("src"), col("n_out"), col("n_dst"),
        r6(hCond).as("h_cond"),
        r6(rate).as("entropy_rate"),
        sum(col("n_out")).over(wAll).as("n_transitions"))
        .orderBy("src")
    }),

    // ---- customer segment migration --------------------------------------
    // The CLV-adjacent lifecycle question q_rfm_segments can't answer:
    // how do customers MOVE between value segments over time? Two
    // half-period snapshots (split at the orders midpoint 1998-05-01),
    // each a freq×value tier from EXACT integers (order counts, summed
    // cents — no percentile cuts, so the tiers are reproducible on any
    // engine), full-outer-joined per customer (absent in a window ⇒
    // segment 0 "inactive" — churn and acquisition are first-class cells),
    // rolled into the transition matrix with row-conditional shares. Plan:
    // two customer-key hash-aggs + one full outer join on the same key
    // (exchange reuse), then a ≤10×10 bounded matrix frame; row_share is
    // the single float division. At 100 TB every shuffle is customer-keyed
    // and the matrix never exceeds |tiers|².
    "q_segment_migration" -> ((s, dir) => {
      val cents = ColumnOps.cents(col("o_totalprice"))
      val split = lit("1998-05-01").cast("date")
      def snap(pred: Column, name: String) = t(s, dir, "orders").where(pred)
        .groupBy(col("o_custkey").as("customer_id"))
        .agg(count(lit(1)).as("n"), sum(cents).as("c"))
        .select(col("customer_id"),
          (when(col("n") > 6, 3L).when(col("n") > 3, 2L).otherwise(1L) *
            lit(10L) +
           when(col("c") > 110000000L, 3L).when(col("c") > 60000000L, 2L)
             .otherwise(1L)).as(name))
      val s1 = snap(to_date(col("o_orderdate")) < split, "seg_from")
      val s2 = snap(to_date(col("o_orderdate")) >= split, "seg_to")
      val matrix = s1.join(s2, Seq("customer_id"), "full_outer")
        .select(coalesce(col("seg_from"), lit(0L)).as("seg_from"),
          coalesce(col("seg_to"), lit(0L)).as("seg_to"))
        .groupBy(col("seg_from"), col("seg_to"))
        .agg(count(lit(1)).as("n_customers"))
      matrix.withColumn("row_share",
          r6(col("n_customers").cast("double") /
            sum(col("n_customers")).over(Window.partitionBy(col("seg_from")))
              .cast("double")))
        .orderBy("seg_from", "seg_to")
    }),

    "q_attribution" -> ((s, dir) => attribution(t(s, dir, "events"))),

    "q_feature_scale" -> ((s, dir) => featureScale(t(s, dir, "orders"))),

    // ---- cohort retention matrix ------------------------------------------
    // Customers grouped by first-purchase month; for each (cohort, months
    // since cohort) the distinct active customers and the retention rate
    // vs the cohort's own month-0 size. Plan shape: ONE shuffle on the
    // customer key carries the per-customer cohort window-min, ONE more
    // builds the (cohort, offset) distinct-count — and that output is
    // bounded by the CALENDAR (months²/2 cells, independent of SF), so
    // the month-0 denominator rides a window over the tiny frame instead
    // of a self-join, and the final sort is over cells, not customers.
    "q_cohort_retention" -> ((s, dir) => {
      val m = t(s, dir, "orders").select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("mi"))
      val act = m
        .withColumn("cohort", min(col("mi")).over(Window.partitionBy("o_custkey")))
        .groupBy(col("cohort"), (col("mi") - col("cohort")).as("offset_m"))
        .agg(countDistinct(col("o_custkey")).as("active_users"))
      act
        .withColumn("cohort_n",
          max(when(col("offset_m") === 0, col("active_users")))
            .over(Window.partitionBy("cohort")))
        .select(col("cohort"), col("offset_m"), col("active_users"),
          r2(col("active_users").cast("double") / col("cohort_n")).as("retention"))
        .orderBy("cohort", "offset_m")
    }),

    // ---- strict-sequence funnel -------------------------------------------
    // view → click-after-view → purchase-after-click over the event log,
    // counted per user then collapsed to one row of stage counts +
    // conversion rates. The staged "first X after the previous stage's
    // first Y" needs the previous stage's timestamp on every row — three
    // sequential full-partition window mins SHARE one Exchange on
    // user_id (no joins, no second shuffle of raw events); the per-user
    // collapse reuses the same partitioning and the global roll-up is a
    // single partial-aggregated row.
    // ---- weekly growth accounting (r11) -----------------------------------
    // The canonical growth-accounting decomposition (the Social Capital
    // table), at WEEK grain because the events table spans ~a month:
    // each week's actives split into new (first week ever), retained
    // (active last week too), and resurrected (returning after a gap);
    // churned = last week's actives who didn't return, quick ratio =
    // (new + resurrected)/churned. Identities active = new + retained +
    // resurrected and churned = active_{w−1} − retained hold EXACTLY by
    // construction. One (user, week) distinct shuffle, a user-keyed min
    // for first weeks, the previous-week flag via an equi-join on the
    // (user, w−1) key — gap-safe where a lag window would slip across
    // empty weeks. All counts exact BIGINTs.
    "q_growth_accounting" -> ((s, dir) => {
      val um = t(s, dir, "events")
        .select(col("user_id"),
          floor(datediff(to_date(col("ts")),
            lit("2000-01-03").cast("date")) / 7).cast("long").as("m"))
        .distinct()
      val fm = um.groupBy("user_id").agg(min(col("m")).as("fm"))
      val prev = um.select(col("user_id"), (col("m") + 1L).as("m"),
        lit(1L).as("was_prev"))
      val flags = um.join(fm, Seq("user_id"))
        .join(prev, Seq("user_id", "m"), "left")
        .select(col("m"),
          (col("m") === col("fm")).cast("long").as("is_new"),
          coalesce(col("was_prev"), lit(0L)).as("ret"))
      val counts = flags.groupBy("m").agg(
        count(lit(1)).as("active"),
        sum(col("is_new")).as("new_users"),
        sum(col("ret")).as("retained"),
        sum(when(col("is_new") === 0L && col("ret") === 0L, 1L)
          .otherwise(0L)).as("resurrected"))
      val prevActive = counts.select((col("m") + 1L).as("m"),
        col("active").as("active_prev"))
      counts.join(prevActive, Seq("m"), "left")
        .na.fill(0L, Seq("active_prev"))
        .select(col("m").as("week_idx"), col("active"), col("new_users"),
          col("retained"), col("resurrected"),
          (col("active_prev") - col("retained")).as("churned"),
          r4(try_divide(
            (col("new_users") + col("resurrected")).cast("double"),
            (col("active_prev") - col("retained")).cast("double")))
            .as("quick_ratio"))
        .orderBy("week_idx")
    }),

    "q_funnel" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
      val staged = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"))
        .withColumn("v_ts",
          min(when(col("event_type") === "view", col("ts"))).over(w))
        .withColumn("c_ts",
          min(when(col("event_type") === "click" && col("ts") > col("v_ts"),
            col("ts"))).over(w))
        .withColumn("p_ts",
          min(when(col("event_type") === "purchase" && col("ts") > col("c_ts"),
            col("ts"))).over(w))
      staged
        .groupBy("user_id")
        .agg(max(col("v_ts")).as("v_ts"), max(col("c_ts")).as("c_ts"),
          max(col("p_ts")).as("p_ts"))
        .agg(count(lit(1)).as("n_users"), count(col("v_ts")).as("n_view"),
          count(col("c_ts")).as("n_click"), count(col("p_ts")).as("n_purchase"))
        .select(col("n_users"), col("n_view"), col("n_click"), col("n_purchase"),
          r2(col("n_click").cast("double") / col("n_view")).as("view_to_click"),
          r2(col("n_purchase").cast("double") / col("n_click")).as("click_to_purchase"))
    }),

    // ---- monthly new vs returning actives ---------------------------------
    // Per month: distinct active customers split into first-ever-month
    // (new) vs returning — the growth-accounting read on the order log.
    // Same shape as q_cohort_retention: one customer-key Exchange carries
    // the first-month window-min, the per-month distinct counts reduce to
    // a calendar-bounded frame.
    "q_new_vs_returning" -> ((s, dir) => {
      val m = t(s, dir, "orders").select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("mi"))
      m.withColumn("first_mi", min(col("mi")).over(Window.partitionBy("o_custkey")))
        .groupBy(col("mi"))
        .agg(countDistinct(col("o_custkey")).as("active"),
          countDistinct(when(col("mi") === col("first_mi"), col("o_custkey")))
            .as("new_customers"))
        .select(col("mi"), col("active"), col("new_customers"),
          (col("active") - col("new_customers")).as("returning"))
        .orderBy("mi")
    }),

    // ---- funnel timing ----------------------------------------------------
    // Distribution of view→purchase conversion latency: per user, hours
    // between the first view and the first purchase after it; median and
    // p90 over converting users. Same one-Exchange staged-window shape as
    // q_funnel; the percentile aggregate runs over the (bounded-by-users)
    // duration frame — at 100 TB the sketch swap-in of q_group_percentile
    // applies to the final quantiles.
    "q_time_to_convert" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
      val staged = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"))
        .withColumn("v_ts",
          min(when(col("event_type") === "view", col("ts"))).over(w))
        .withColumn("p_ts",
          min(when(col("event_type") === "purchase" && col("ts") > col("v_ts"),
            col("ts"))).over(w))
      staged.groupBy("user_id")
        .agg(max(col("v_ts")).as("v_ts"), max(col("p_ts")).as("p_ts"))
        .where(col("p_ts").isNotNull)
        .select(((col("p_ts").cast("long") - col("v_ts").cast("long"))
          / lit(3600.0)).as("hours"))
        .agg(count(lit(1)).as("n_converted"),
          expr("percentile(hours, array(0.5, 0.9))").as("qs"))
        .select(col("n_converted"),
          r2(element_at(col("qs"), 1)).as("median_hours"),
          r2(element_at(col("qs"), 2)).as("p90_hours"))
    }),

    // ---- RFM quintile segmentation ----------------------------------------
    // The classic R×F×M 5-tier segmentation over per-customer order
    // features (recency days vs the pinned as-of, order count, avg spend).
    // Recency scores INVERTED (5 = most recent) per the marketing
    // convention. Plan shape: one shuffle builds the customer feature
    // frame; the 12 quintile cuts reduce to ONE broadcast row (exact
    // percentile — the sketch swap-in argument of q_quantile_bucket
    // applies verbatim at 100 TB); scoring is a pure projection against
    // the broadcast cuts and the output is bounded by 125 segments.
    "q_rfm_segments" -> ((s, dir) => {
      // mon from exact integer cents (r13 sf1 finding: avg(double) is
      // summation-order-dependent — a tier boundary or the segment mean
      // can cross the rounding grid on scan-order luck); the division
      // chain (Σcents/100)/n is a deterministic double of exact inputs,
      // mirrored textually in the oracle
      def feats = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(
          datediff(lit(SegAsOf).cast("date"), to_date(max(col("o_orderdate"))))
            .cast("double").as("rec"),
          count(lit(1)).cast("double").as("freq"),
          (sum(ColumnOps.cents(col("o_totalprice"))).cast("double") / lit(100.0)
            / count(lit(1)).cast("double")).as("mon"))
      val cuts = feats.agg(
        expr("percentile(rec, array(0.2,0.4,0.6,0.8))").as("rc"),
        expr("percentile(freq, array(0.2,0.4,0.6,0.8))").as("fc"),
        expr("percentile(mon, array(0.2,0.4,0.6,0.8))").as("mc"))
      def tier(v: Column, cs: Column): Column =
        (size(filter(cs, c => v > c)) + 1).cast("long")
      feats.crossJoin(broadcast(cuts))
        .select(
          (lit(6L) - tier(col("rec"), col("rc"))).as("r_score"),
          tier(col("freq"), col("fc")).as("f_score"),
          tier(col("mon"), col("mc")).as("m_score"),
          col("mon"))
        .groupBy((col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
          .as("segment"), col("r_score"), col("f_score"), col("m_score"))
        // per-customer mon quantized to 1e-4 integer units before the
        // segment sum (the house cross-frame discipline): the BIGINT sum
        // is order-free, so the mean is a deterministic double
        .agg(count(lit(1)).as("n_customers"),
          r2(sum(floor(col("mon") * lit(10000.0) + lit(0.500001))
            .cast("long")).cast("double") / lit(10000.0)
            / count(lit(1)).cast("double")).as("avg_monetary"))
        .orderBy("segment")
    }),

    // ---- reciprocal-rank fusion -------------------------------------------
    // Fuse two retrieval rankings of the corpus against one query vector
    // (cosine similarity / L2 distance) with RRF (Cormack et al. 2009):
    // score = Σ 1/(k + rank_i), absent from a list contributes 0. Plan
    // shape: the query vector is a broadcast 1-row frame; each ranking is
    // ONE corpus scan into a distributed TakeOrdered top-50 (per-partition
    // heaps, never a global sort); ranks + the full-outer fusion then
    // live on two ≤50-row frames. L2 derives from the same three native
    // vec_dot products the oracle uses, so doubles match bit-for-bit.
    "q_rrf_fusion" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      def scored = e.filter(col("vec_id") > 0).crossJoin(broadcast(q))
        .select(col("vec_id"),
          (Ann.dot(col("embedding"), col("qv"))
            / (Ann.norm(col("embedding")) * Ann.norm(col("qv")))).as("cos"),
          (Ann.dot(col("embedding"), col("embedding"))
            - lit(2.0) * Ann.dot(col("embedding"), col("qv"))
            + Ann.dot(col("qv"), col("qv"))).as("d2"))
      val topA = scored.orderBy(col("cos").desc, col("vec_id")).limit(FuseTopK)
        .select(col("vec_id").as("id_a"),
          row_number().over(BoundedWindow.ordered(col("vec_id"),
            col("cos").desc, col("vec_id"))).cast("long").as("rank_a"))
      val topB = scored.orderBy(col("d2").asc, col("vec_id")).limit(FuseTopK)
        .select(col("vec_id").as("id_b"),
          row_number().over(BoundedWindow.ordered(col("vec_id"),
            col("d2").asc, col("vec_id"))).cast("long").as("rank_b"))
      // fuse via union + groupBy, not a full-outer join: Spark can't
      // broadcast full-outer, and an SMJ — however tiny here — is the
      // wrong shape; the union shuffles ≤ 2·FuseTopK rank rows total
      def side(c: Column): Column = when(c > 0, lit(1.0) / (lit(RrfK.toDouble) + c)).otherwise(lit(0.0))
      topA.select(col("id_a").as("vec_id"), col("rank_a"), lit(0L).as("rank_b"))
        .unionByName(topB.select(col("id_b").as("vec_id"),
          lit(0L).as("rank_a"), col("rank_b")))
        .groupBy("vec_id")
        .agg(max(col("rank_a")).as("rank_a"), max(col("rank_b")).as("rank_b"))
        .select(col("vec_id"), col("rank_a"), col("rank_b"),
          r6(side(col("rank_a")) + side(col("rank_b"))).as("rrf"))
        .orderBy(col("rrf").desc, col("vec_id"))
        .limit(20)
    }),

    // ---- per-label centroid cohesion --------------------------------------
    // Embedding-hygiene report: exact per-label centroid, then every
    // vector's cosine to its own centroid, reduced to per-label n / mean /
    // min cohesion — the "is this cluster label coherent" check run before
    // SemDeDup-style curation. Plan shape: the centroid is a two-level
    // aggregate over the posexploded components (the one shuffle that
    // scales with data is keyed (label, pos) — dim×|labels| reduce keys,
    // map-side combined, no hot key); the |labels|×dim centroid frame
    // broadcasts back and scoring is a shuffle-free projection through
    // native vec_dot; the final roll-up is bounded by |labels|.
    "q_embed_centroid" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cent = e
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos"))
        .agg(avg(col("v").cast("double")).as("m"))
        .groupBy("label")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          x => x.getField("m")).as("centroid"))
      e.join(broadcast(cent), "label")
        .select(col("label"),
          (Ann.dot(col("embedding"), col("centroid"))
            / (Ann.norm(col("embedding")) * Ann.norm(col("centroid")))).as("cos"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          r4(avg(col("cos"))).as("avg_cos"), r4(min(col("cos"))).as("min_cos"))
        .orderBy("label")
    }),

    // ---- 2-D skyline (Pareto front) ---------------------------------------
    // Multi-criteria selection: parts no other part strictly dominates on
    // (price ↓, size ↑). The naive formulation is an all-pairs NOT EXISTS —
    // quadratic, the thing that cannot run at 100 TB (the ORACLE keeps that
    // form precisely because it is an independent derivation). The engine
    // ---- revenue concentration: Gini + top-decile share -------------------
    // The Lorenz-curve summary over per-customer revenue — the
    // concentration report every marketing/mix analysis opens with. Exact
    // rank formula G = 2·Σ rank·x / (n·Σx) − (n+1)/n over integer-cents
    // customer totals: ranks and both Σ are exact integers (the products
    // stay far under 2^63), so the only floats are the two final
    // divisions — cross-engine parity structural. The top-decile cut is
    // the integer comparison rank·10 > 9·n (no float boundary). Shape:
    // one customer-key shuffle to the checkpointed aggregate frame, then
    // ranks via [[Ranks.withGlobalRank]] — the two-level value-bucketed
    // prefix pattern (r9 VERDICT item: the swap-in is now CODE, not
    // prose; no single-partition Window anywhere, PlanSpec-gated). The
    // row count rides the bucket-offset aggregate's 1-row sibling and
    // broadcasts back for the top-decile cut.
    "q_gini" -> ((s, dir) => {
      val cents = ColumnOps.cents(col("o_totalprice"))
      val perCust = t(s, dir, "orders")
        .groupBy(col("o_custkey")).agg(sum(cents).as("x"))
      // checkpointed: referenced by the moment aggregate AND the
      // n-attached top-decile pass (the utility checkpoints its own input)
      val ranked = Ranks.withGlobalRank(perCust, col("x"), col("o_custkey"),
        "rank").localCheckpoint()
      val g0 = ranked.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("rank") * col("x")).as("srx"))
      val top = ranked.crossJoin(broadcast(g0.select(col("n"))))
        .agg(sum(when(col("rank") * 10 > col("n") * 9, col("x"))
          .otherwise(0L)).as("top"))
      val g = g0.crossJoin(broadcast(top))
      g.select(col("n").as("n_customers"),
        (col("sx") / lit(100)).as("total_rev"),
        r6(lit(2.0) * col("srx") / (col("n") * col("sx").cast("double"))
          - (col("n") + lit(1)).cast("double") / col("n")).as("gini"),
        r6(col("top").cast("double") / col("sx")).as("top10_share"))
    }),

    // ---- exact Shapley-value attribution ----------------------------------
    // The game-theoretic credit split (Shapley 1953; Zhao et al. 2018 for
    // marketing) next to q_attribution's linear/last-touch heuristics —
    // the ONLY attribution satisfying efficiency + symmetry + dummy. With
    // 5 channels the coalition space is 32 masks, so the EXACT value is
    // computable: converting journeys reduce to a bounded channel-SET
    // census (one journey-window pass — the q_attribution journey
    // algebra), v(T) = conversions covered by T via a 32×32 subset join,
    // and φ_c·120 = Σ_T |T|!(4−|T|)!·[v(T∪c) − v(T)] is EXACT INTEGER
    // arithmetic (5! = 120 clears every denominator) until one final
    // division. Efficiency Σφ = v(full) is exact by construction and
    // spec-gated. Scale shape: the corpus collapses to ≤32 census rows
    // in one shuffle; everything after is literal-sized broadcast joins.
    "q_shapley_attribution" -> ((s, dir) => {
      val wOrd = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val isTouch = col("event_type").isin("view", "click")
      val isPurchase = col("event_type") === "purchase"
      val bitOf = (c: Column) =>
        when(c === 0L, 1L).when(c === 1L, 2L).when(c === 2L, 4L)
          .when(c === 3L, 8L).otherwise(16L)
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
          pmod(get_json_object(col("props"), "$.k").cast("long"), lit(5))
            .as("ch"))
        .withColumn("journey", coalesce(sum(isPurchase.cast("long"))
          .over(wOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val wj = Window.partitionBy("user_id", "journey")
      val jmask = ev
        .withColumn("has_conv", max(isPurchase.cast("long")).over(wj))
        .where(col("has_conv") === 1L && isTouch)
        .groupBy(col("user_id"), col("journey"))
        .agg(sum_distinct(bitOf(col("ch"))).as("mask"))
      val census = jmask.groupBy(col("mask"))
        .agg(count(lit(1)).as("n_conv"))
      val coal = s.range(32).select(col("id").as("tmask"))
      val v = coal
        .join(broadcast(census),
          census("mask").bitwiseAND(col("tmask")) === census("mask"), "left")
        .groupBy(col("tmask"))
        .agg(coalesce(sum(col("n_conv")), lit(0L)).as("v"))
      val popcnt = Seq(1L, 2L, 4L, 8L, 16L)
        .map(b => when(col("tmask").bitwiseAND(lit(b)) =!= 0L, 1L)
          .otherwise(0L)).reduce(_ + _)
      val w120 = when(popcnt === 0L, 24L).when(popcnt === 1L, 6L)
        .when(popcnt === 2L, 4L).when(popcnt === 3L, 6L).otherwise(24L)
      val pairs = coal.crossJoin(s.range(5).select(col("id").as("ch")))
        .where(col("tmask").bitwiseAND(bitOf(col("ch"))) === 0L)
        .withColumn("w120", w120)
        .withColumn("inmask", col("tmask") + bitOf(col("ch")))
      val phi = pairs
        .join(broadcast(v.select(col("tmask").as("inmask"),
          col("v").as("v_in"))), Seq("inmask"))
        .join(broadcast(v), Seq("tmask"))
        .groupBy(col("ch"))
        .agg(sum(col("w120") * (col("v_in") - col("v"))).as("phi120"))
      val total = v.where(col("tmask") === 31L)
        .select(col("v").as("total_conv"))
      phi.crossJoin(broadcast(total))
        .select(concat(lit("c"), col("ch")).as("channel"),
          col("phi120"),
          r6(col("phi120").cast("double") / lit(120.0)).as("phi"),
          when(col("total_conv") > 0L,
            r6(col("phi120").cast("double") / lit(120.0)
              / col("total_conv").cast("double"))).as("share"),
          col("total_conv"))
        .orderBy("channel")
    }),

    // ---- Theil inequality index with nation decomposition -----------------
    // The information-theoretic inequality measure (Theil 1967) next to
    // q_gini's Lorenz summary — chosen for the property Gini lacks:
    // EXACT additive decomposability, T = T_between + Σ s_g·T_g, so the
    // one number splits into "inequality ACROSS nations" vs "within
    // them". Per-customer revenue joined to nation (one co-partitioned
    // customer-key join), exact integer moments globally and per nation,
    // then every ln-bearing term is micro-quantized (1e-6 per-customer,
    // 1e-9 on the 25-row nation frame) before its exact decimal sum — the
    // §2.13 ln discipline, so aggregation order cannot diverge engines.
    // Both T (income-weighted) and L (mean log deviation) are reported;
    // x > 0 filter guards every ln input by construction. Shape: one
    // customer-key shuffle + one equi-join; the global/nation moment
    // frames (1 + ≤25 rows) broadcast back onto the customer frame.
    "q_theil_index" -> ((s, dir) => {
      val cents = ColumnOps.cents(col("o_totalprice"))
      val perCust = t(s, dir, "orders")
        .groupBy(col("o_custkey")).agg(sum(cents).as("x"))
        .where(col("x") > 0)
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val xc = perCust
        .join(cust, perCust("o_custkey") === cust("c_custkey"))
        .select(col("c_nationkey").as("nk"), col("x"))
      val g0 = xc.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
      val gn = xc.groupBy(col("nk"))
        .agg(count(lit(1)).as("ng"), sum(col("x")).as("sxg"))
      val terms = xc.crossJoin(broadcast(g0))
        .join(broadcast(gn), Seq("nk"))
        .withColumn("mu", col("sx").cast("double") / col("n").cast("double"))
        .withColumn("mug",
          col("sxg").cast("double") / col("ng").cast("double"))
        .withColumn("rat", col("x").cast("double") / col("mu"))
        .withColumn("ratg", col("x").cast("double") / col("mug"))
        .select(col("nk"), col("n"), col("sx"), col("ng"), col("sxg"),
          floor(col("rat") * log(col("rat")) * lit(1000000.0)
            + lit(0.500001)).cast("decimal(38,0)").as("tt"),
          floor(-log(col("rat")) * lit(1000000.0) + lit(0.500001))
            .cast("decimal(38,0)").as("tl"),
          floor(col("ratg") * log(col("ratg")) * lit(1000000.0)
            + lit(0.500001)).cast("decimal(38,0)").as("tw"))
      val byNation = terms
        .groupBy(col("nk"), col("ng"), col("sxg"), col("n"), col("sx"))
        .agg(sum(col("tw")).as("swg"))
        .withColumn("sg", col("sxg").cast("double") / col("sx").cast("double"))
        .withColumn("tg", col("swg").cast("double") / lit(1000000.0)
          / col("ng").cast("double"))
        .withColumn("mug",
          col("sxg").cast("double") / col("ng").cast("double"))
        .withColumn("mu", col("sx").cast("double") / col("n").cast("double"))
        .select(
          floor(col("sg") * col("tg") * lit(1000000000.0) + lit(0.500001))
            .cast("decimal(38,0)").as("wterm"),
          floor(col("sg") * log(col("mug") / col("mu")) * lit(1000000000.0)
            + lit(0.500001)).cast("decimal(38,0)").as("bterm"))
      val parts = byNation
        .agg(sum(col("wterm")).as("w"), sum(col("bterm")).as("btw"))
      terms.groupBy(col("n"), col("sx"))
        .agg(sum(col("tt")).as("stt"), sum(col("tl")).as("stl"))
        .crossJoin(broadcast(parts))
        .select(col("n").as("n_customers"),
          (col("sx") / lit(100)).as("total_rev"),
          r6(col("stt").cast("double") / lit(1000000.0)
            / col("n").cast("double")).as("theil_t"),
          r6(col("stl").cast("double") / lit(1000000.0)
            / col("n").cast("double")).as("theil_l"),
          r6(col("btw").cast("double") / lit(1000000000.0))
            .as("theil_between"),
          r6(col("w").cast("double") / lit(1000000000.0)).as("theil_within"))
    }),

    // side exploits the 2-D structure: a point survives iff its size equals
    // its price-group max AND strictly beats every cheaper group's max —
    // one groupBy(price), one prefix-max window over the GROUP table
    // (distinct-price cardinality, not rows), one co-partitioned join back.
    // At 100 TB the group-table window uses the q_token_budget two-level
    // prefix pattern; row-cardinality work stays embarrassingly parallel.
    "q_skyline" -> ((s, dir) => {
      val p = t(s, dir, "part").select(col("p_partkey"),
        col("p_retailprice").as("price"), col("p_size").cast("long").as("size"))
      val g = p.groupBy("price").agg(max("size").as("gmax"))
      val gm = g.select(col("price"), col("gmax"),
        coalesce(max(col("gmax")).over(
          BoundedWindow.ordered(col("price"), col("price"))
            .rowsBetween(Window.unboundedPreceding, -1)),
          lit(Long.MinValue)).as("m1"))
      p.join(gm, Seq("price"))
        .where(col("size") === col("gmax") && col("size") > col("m1"))
        .select(col("p_partkey"), col("price"), col("size"))
        .orderBy("p_partkey")
    }),

    // ---- Kaplan–Meier survival curve (customer churn) ---------------------
    // Nonparametric survival estimate (Kaplan & Meier 1958) over customer
    // lifetimes: duration = days between first and last order, event =
    // churn (last order > ChurnGapDays before the pinned as-of), otherwise
    // right-censored — the time-to-churn read on the reference's
    // customer_features table (recency/T are this curve's raw inputs).
    // Plan shape: ONE customer-key shuffle builds the lifetime frame
    // (map-side partial min/max), then everything lives on the
    // duration-grouped frame — bounded by the CALENDAR (≤ days-of-history
    // rows, SF-independent), so risk sets and the survival product ride
    // windows over the tiny frame. Float discipline: the KM product is
    // exp(Σ ln(1−d/n)) via an ORDERED cumulative window, so both engines
    // add the identical term sequence (the q_anova structural-parity
    // discipline); d and n stay BIGINT. A risk set that dies out entirely
    // (d = n) would send ln(0) → −∞/NULL divergently per engine, so that
    // tail is flagged via a cumulative max and pinned to survival = 0
    // explicitly on both sides.
    "q_survival" -> ((s, dir) => {
      val asOf = lit(SegAsOf).cast("date")
      val life = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(to_date(min(col("o_orderdate"))).as("first_d"),
          to_date(max(col("o_orderdate"))).as("last_d"))
        .select(datediff(col("last_d"), col("first_d")).cast("long").as("t_days"),
          (datediff(asOf, col("last_d")) > lit(ChurnGapDays))
            .cast("long").as("event"))
      val byT = life.groupBy("t_days")
        .agg(count(lit(1)).as("n_at_t"), sum(col("event")).as("n_events"))
      val wOrd = BoundedWindow.ordered(col("t_days"), col("t_days"))
      val wAll = BoundedWindow.whole(col("t_days"))
      val withRisk = byT
        .withColumn("n_censored", col("n_at_t") - col("n_events"))
        .withColumn("n_risk",
          sum(col("n_at_t")).over(wAll) - coalesce(
            sum(col("n_at_t")).over(
              wOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val term = when(col("n_events") > 0 && col("n_events") < col("n_risk"),
        log(lit(1.0) - col("n_events").cast("double")
          / col("n_risk").cast("double"))).otherwise(lit(0.0))
      val dead = when(col("n_events") >= col("n_risk"), lit(1L)).otherwise(lit(0L))
      withRisk
        .withColumn("ln_s", sum(term).over(wOrd))
        .withColumn("dead", max(dead).over(wOrd))
        .select(col("t_days"), col("n_risk"), col("n_events"), col("n_censored"),
          when(col("dead") === 1, lit(0.0))
            .otherwise(r6(exp(col("ln_s")))).as("survival"))
        .orderBy("t_days")
    }),

    // ---- Pareto 80/20 concentration (beyond reference, r9) ----------------
    // The concentration readout q_gini's coefficient summarizes but
    // doesn't answer directly: what fraction of customers produces 80% /
    // 90% / 95% of revenue? Customers rank by spend DESC; the crossing
    // rank is found by the INTEGER comparison cum·20 ≥ 16·total (no
    // float threshold can mis-round a boundary), so every output is
    // exact-integer-derived. One orders shuffle to the customer frame,
    // ranking window + ordered cumsum on it (the q_quantile_normalize
    // stance), three threshold rows via conditional min.
    "q_pareto_8020" -> ((s, dir) => {
      val cents = ColumnOps.cents(col("o_totalprice"))
      val feats = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("custkey"))
        .agg(sum(cents).as("m"))
      val wOrd = BoundedWindow.ordered(col("custkey"),
        col("m").desc, col("custkey"))
      val wCum = wOrd.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      val wAll = BoundedWindow.whole(col("custkey"))
      val ranked = feats.select(
        row_number().over(wOrd).cast("long").as("rk"),
        sum(col("m")).over(wCum).as("cum"),
        sum(col("m")).over(wAll).as("total"),
        count(lit(1)).over(wAll).as("n"))
      val g = ranked.agg(
        max(col("n")).as("n_customers"),
        min(when(col("cum") * 20L >= col("total") * 16L, col("rk")))
          .as("rk80"),
        min(when(col("cum") * 10L >= col("total") * 9L, col("rk")))
          .as("rk90"),
        min(when(col("cum") * 20L >= col("total") * 19L, col("rk")))
          .as("rk95"))
      def share(rc: String): Column =
        floor(col(rc).cast("double") / col("n_customers").cast("double")
          * lit(1000000.0) + lit(0.500001)) / lit(1000000.0)
      g.select(col("n_customers"), col("rk80"), share("rk80").as("share80"),
        col("rk90"), share("rk90").as("share90"),
        col("rk95"), share("rk95").as("share95"))
    }),

    // ---- Lorenz decile table (beyond reference, r11) -----------------------
    // The CURVE whose area q_gini reduces to a scalar and whose crossings
    // q_pareto_8020 picks out: customers ranked by spend ascending, the
    // revenue share and cumulative share of each spend decile — the
    // concentration table every revenue review actually reads. Scale
    // shape: ranks come from Ranks.withGlobalRank (two-level bucketed
    // exact ranking — NO partition-less window anywhere), the decile is
    // ntileOf's pure integer arithmetic on (rank, n), and everything
    // after the customer aggregate lives on the ≤10-row decile frame.
    // Shares are single divisions of exact BIGINT cents — FP-identical
    // cross-engine; the oracle's NTILE is provably the same tiling
    // (RanksSpec pins rank ≡ row_number, ntileOf ≡ NTILE semantics).
    "q_lorenz" -> ((s, dir) => {
      val cents = ColumnOps.cents(col("o_totalprice"))
      val feats = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("custkey"))
        .agg(sum(cents).as("m"))
      val total = feats.agg(count(lit(1)).as("n_total"))
      val ranked = Ranks.withGlobalRank(feats, col("m"), col("custkey"), "rk")
        .crossJoin(broadcast(total))
        .withColumn("decile", Ranks.ntileOf(col("rk"), col("n_total"), 10))
      val byD = ranked.groupBy("decile")
        .agg(count(lit(1)).as("n_cust"), sum(col("m")).as("spend"))
      val wAll = BoundedWindow.whole(col("decile"))
      val wCum = BoundedWindow.ordered(col("decile"), col("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byD
        .withColumn("mt", sum(col("spend")).over(wAll))
        .withColumn("cum", sum(col("spend")).over(wCum))
        .select(col("decile"), col("n_cust"), col("spend").as("spend_cents"),
          r6(col("spend").cast("double") / col("mt").cast("double"))
            .as("share"),
          r6(col("cum").cast("double") / col("mt").cast("double"))
            .as("cum_share"))
        .orderBy("decile")
    }),

    // ---- inter-arrival exponentiality check (r11) ----------------------------
    // The ARRIVAL-side twin of q_dispersion's count-side Poisson check:
    // if customer orders form a Poisson process, inter-order gaps are
    // exponential and the coefficient of variation is exactly 1 (CV ≪ 1
    // reads scheduled/regular ordering, CV ≫ 1 bursty clumping — the
    // BG/NBD model's timing assumption made inspectable). One customer-
    // keyed window (data-scaled partition key — scale-safe) yields exact
    // integer day gaps; Σg/Σg² exact decimal, CV one closed float with
    // the raw-moment variance clamped at 0 (§2.13 discipline) and the
    // verdict flag compared on the ROUNDED CV.
    "q_interarrival" -> ((s, dir) => {
      val wC = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val gaps = t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
        .withColumn("g", datediff(to_date(col("o_orderdate")),
          to_date(lag(col("o_orderdate"), 1).over(wC))).cast("long"))
        .where(col("g").isNotNull)
      val dec = "decimal(38,0)"
      val m = gaps.agg(count(lit(1)).as("n"), sum(col("g")).as("sg"),
        sum(col("g").cast(dec) * col("g").cast(dec)).as("sgg"))
      val nD = col("n").cast("double")
      val mean = col("sg").cast("double") / nD
      val vr = col("sgg").cast("double") / nD - mean * mean
      val cv = sqrt(greatest(vr, lit(0.0))) / mean
      val ok = col("n") > 1L && col("sg") > 0L
      val cvR = when(ok, r6(cv))
      m.select(col("n").as("n_gaps"),
        when(ok, r4(mean)).as("mean_gap_days"),
        cvR.as("cv"),
        coalesce((abs(cvR - lit(1.0)) <= lit(0.25)).cast("long"), lit(0L))
          .as("poissonish"))
    }),

    // ---- Herfindahl–Hirschman concentration (r11) ---------------------------
    // The market-concentration scalar next to q_gini's inequality and
    // q_theil_index's decomposition: HHI = Σ share² of revenue across
    // nations and across segments, plus its inverse (the "effective
    // number" of markets). Exactness the easy way: HHI = Σvᵢ²/V², so both
    // numerator and denominator are EXACT decimal(38,0) sums of cents² —
    // one division per row, zero float-order risk anywhere. One orders
    // scan, broadcast customer dim, two ≤|groups| aggregates.
    "q_hhi" -> ((s, dir) => {
      val cents = ColumnOps.cents(col("o_totalprice"))
      val joined = t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"),
          col("c_nationkey").as("nation"), cents.as("v"))
      def hhiOf(key: Column, name: String): DataFrame = {
        val dec = "decimal(38,0)"
        val byG = joined.groupBy(key.as("grp"))
          .agg(sum(col("v")).as("gv"))
        byG.agg(count(lit(1)).as("n_groups"),
            sum(col("gv").cast(dec) * col("gv").cast(dec)).as("s2"),
            sum(col("gv")).as("tot"))
          .select(lit(name).as("dim"), col("n_groups"),
            r6(col("s2").cast("double") /
              (col("tot").cast(dec) * col("tot").cast(dec)).cast("double"))
              .as("hhi"),
            r2((col("tot").cast(dec) * col("tot").cast(dec)).cast("double") /
              col("s2").cast("double")).as("effective_n"))
      }
      hhiOf(col("nation"), "nation")
        .unionAll(hhiOf(col("segment"), "segment"))
        .orderBy("dim")
    }),

    // ---- Laspeyres / Paasche / Fisher price index (r11) ---------------------
    // Year-over-year price inflation of the part catalog, the classic
    // index-number triplet (Laspeyres 1871, Paasche 1874, Fisher 1922):
    // base year 1997 vs 1998 by l_shipdate, per-part unit price pᵧ =
    // Vᵧ/Qᵧ from exact per-part-year cents/quantity sums. L = Σp₁q₀/Σp₀q₀
    // and P = Σp₁q₁/Σp₀q₁ over parts traded in BOTH years; the cross
    // terms p₁q₀ = V₁·Q₀/Q₁ quantize per part to integer micro-cents
    // BEFORE summing (the q_durbin_watson discipline — order-free exact
    // sums), while Σp₀q₀ = ΣV₀ and Σp₁q₁ = ΣV₁ are exact outright.
    // Plan: one lineitem scan partial-aggregates to the part×2-year
    // frame, one part-keyed self-join (part-bounded), one global
    // aggregate. Fisher is √(L·P) of the two rounded-from-exact ratios.
    "q_price_index" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("yr", year(to_date(col("l_shipdate"))))
        .where(col("yr").isin(1997, 1998))
      val cents = ColumnOps.cents(col("l_extendedprice"))
      val qty = floor(col("l_quantity") + lit(0.500001)).cast("long")
      val byPy = li.groupBy(col("l_partkey").as("pk"), col("yr"))
        .agg(sum(cents).as("v"), sum(qty).as("q"))
      val base = byPy.where(col("yr") === 1997)
        .select(col("pk"), col("v").as("v0"), col("q").as("q0"))
      val cur = byPy.where(col("yr") === 1998)
        .select(col("pk"), col("v").as("v1"), col("q").as("q1"))
      val both = base.join(cur, Seq("pk"))
      val p1q0 = floor(col("v1").cast("double") * col("q0").cast("double") /
        col("q1").cast("double") + lit(0.500001)).cast("long")
      val p0q1 = floor(col("v0").cast("double") * col("q1").cast("double") /
        col("q0").cast("double") + lit(0.500001)).cast("long")
      val g = both.agg(count(lit(1)).as("n_parts"),
        sum(col("v0")).as("s_p0q0"), sum(col("v1")).as("s_p1q1"),
        sum(p1q0).as("s_p1q0"), sum(p0q1).as("s_p0q1"))
      val lasp = r6(col("s_p1q0").cast("double") / col("s_p0q0").cast("double"))
      val paas = r6(col("s_p1q1").cast("double") / col("s_p0q1").cast("double"))
      g.select(col("n_parts"), lasp.as("laspeyres"), paas.as("paasche"),
        r6(sqrt(lasp * paas)).as("fisher"))
    }),

    // ---- log-log demand elasticity (r11) ------------------------------------
    // The price-sensitivity readout of the order log: the OLS slope of
    // ln(quantity) on ln(unit price) across lineitem lines — the
    // constant-elasticity model's ε (a 1% price increase moves demand
    // ε%). Per-line unit price = exact cents / exact integer quantity;
    // both logs quantize to integer MICRO-units per row (the
    // q_link_prediction Adamic–Adar discipline: sums of quantized ints
    // are order-free exact, and the 10⁻⁶ grid cancels in the slope since
    // cov/var rescale identically). One scan, one 1-row moment
    // aggregate, closed-form slope/r²; flat price or flat quantity
    // abstains NULL.
    "q_elasticity" -> ((s, dir) => {
      val cents = ColumnOps.cents(col("l_extendedprice"))
      val qty = floor(col("l_quantity") + lit(0.500001)).cast("long")
      val u = cents.cast("double") / qty.cast("double")
      val xq = floor(log(u) * lit(1000000.0)).cast("long")
      val yq = floor(log(qty.cast("double")) * lit(1000000.0)).cast("long")
      val dec = "decimal(38,0)"
      val m = t(s, dir, "lineitem")
        .select(xq.as("x"), yq.as("y"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"),
          sum(col("x").cast(dec) * col("x").cast(dec)).as("sxx"),
          sum(col("x").cast(dec) * col("y").cast(dec)).as("sxy"),
          sum(col("y").cast(dec) * col("y").cast(dec)).as("syy"))
      val nD = col("n").cast("double")
      val cxx = col("sxx").cast("double") -
        col("sx").cast("double") * col("sx").cast("double") / nD
      val cyy = col("syy").cast("double") -
        col("sy").cast("double") * col("sy").cast("double") / nD
      val cxy = col("sxy").cast("double") -
        col("sx").cast("double") * col("sy").cast("double") / nD
      val ok = cxx > 0.0 && cyy > 0.0
      m.select(col("n").as("n_lines"),
        when(ok, r6(cxy / cxx)).as("elasticity"),
        when(ok, r6(cxy * cxy / (cxx * cyy))).as("r2"))
    }),

    // ---- restricted mean survival time (beyond reference, r9) -------------
    // The scalar the KM curve (q_survival) is usually read FOR (Royston &
    // Parmar 2013): RMST(τ) = ∫₀^τ S(t)dt — expected retained lifetime
    // within a τ = 730-day horizon, the hazard-ratio-free effect size.
    // The step-function integral is exact given the curve: each interval
    // contributes S(tᵢ₋₁)·(min(tᵢ,τ) − min(tᵢ₋₁,τ)) plus the τ tail; the
    // same KM frame as q_survival (calendar-bounded), the contribution
    // sum rides the ORDERED cumulative window (the q_tukey_hsd
    // discipline — no engine-order accumulation), and the last row
    // carries the total. Widths are exact integer days; each term is one
    // multiply of the deterministic S sequence.
    "q_rmst" -> ((s, dir) => {
      val tau = lit(730L)
      val withRisk = riskTable(s, dir)
      val wOrd = BoundedWindow.ordered(col("t_days"), col("t_days"))
      val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = BoundedWindow.whole(col("t_days"))
      val term = when(col("n_events") > 0 && col("n_events") < col("n_risk"),
        log(lit(1.0) - col("n_events").cast("double")
          / col("n_risk").cast("double"))).otherwise(lit(0.0))
      val dead = when(col("n_events") >= col("n_risk"), lit(1L))
        .otherwise(lit(0L))
      val surv = withRisk
        .withColumn("ln_s", sum(term).over(wCum))
        .withColumn("is_dead", max(dead).over(wCum))
        .select(col("t_days"),
          when(col("is_dead") === 1, lit(0.0)).otherwise(exp(col("ln_s")))
            .as("s"))
      val stepped = surv.select(col("t_days"), col("s"),
        coalesce(lag(col("t_days"), 1).over(wOrd), lit(0L)).as("prev_t"),
        coalesce(lag(col("s"), 1).over(wOrd), lit(1.0)).as("prev_s"),
        row_number().over(wOrd).cast("long").as("rn"),
        count(lit(1)).over(wAll).as("n_rows"))
      val width = (least(col("t_days"), tau) - least(col("prev_t"), tau))
        .cast("double")
      val cum = stepped.select(col("t_days"), col("s"), col("rn"),
        col("n_rows"),
        sum(col("prev_s") * width).over(wCum).as("area"))
      cum.where(col("rn") === col("n_rows"))
        .select(tau.as("tau_days"), col("n_rows").as("n_times"),
          r4(col("area") + col("s") *
            (tau - least(col("t_days"), tau)).cast("double")).as("rmst_days"),
          r6((col("area") + col("s") *
            (tau - least(col("t_days"), tau)).cast("double")) /
            tau.cast("double")).as("retained_share"))
    }),

    // ---- Kaplan–Meier Greenwood confidence bands (r11) ---------------------
    // The uncertainty q_survival's point curve hides: Greenwood's (1926)
    // variance V̂[S(t)] = S(t)²·Σ_{i≤t} dᵢ/(nᵢ(nᵢ−dᵢ)), the standard KM
    // standard error every survival plot shades. Same calendar-bounded
    // KM frame and ordered-cumulative discipline as q_survival (identical
    // float term sequence both engines); the Greenwood sum is a SECOND
    // cumulative over the same ordered window. The d = n tail (S pinned
    // 0) and d = n partial terms abstain the band with NULL — the
    // variance formula divides by n−d, so both engines skip those terms
    // identically and flag the dead tail. Bands clamp to [0, 1].
    "q_km_ci" -> ((s, dir) => {
      val withRisk = riskTable(s, dir)
      val wOrd = BoundedWindow.ordered(col("t_days"), col("t_days"))
      val wCum = wOrd.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      val lnTerm = when(col("n_events") > 0 &&
        col("n_events") < col("n_risk"),
        log(lit(1.0) - col("n_events").cast("double")
          / col("n_risk").cast("double"))).otherwise(lit(0.0))
      val gwTerm = when(col("n_events") > 0 &&
        col("n_events") < col("n_risk"),
        col("n_events").cast("double") /
          (col("n_risk").cast("double") *
            (col("n_risk") - col("n_events")).cast("double")))
        .otherwise(lit(0.0))
      val dead = when(col("n_events") >= col("n_risk"), lit(1L))
        .otherwise(lit(0L))
      val cum = withRisk
        .withColumn("ln_s", sum(lnTerm).over(wCum))
        .withColumn("gw", sum(gwTerm).over(wCum))
        .withColumn("is_dead", max(dead).over(wCum))
      val sv = exp(col("ln_s"))
      val se = sv * sqrt(col("gw"))
      val z = lit(1.959963984540054)
      cum.select(col("t_days"), col("n_risk"), col("n_events"),
          when(col("is_dead") === 1, lit(0.0)).otherwise(r6(sv))
            .as("survival"),
          when(col("is_dead") === 0, r6(se)).as("se"),
          when(col("is_dead") === 0,
            r6(greatest(sv - z * se, lit(0.0)))).as("ci_lo"),
          when(col("is_dead") === 0,
            r6(least(sv + z * se, lit(1.0)))).as("ci_hi"))
        .orderBy("t_days")
    }),

    // ---- Nelson–Aalen cumulative hazard (beyond reference, r12) -----------
    // The HAZARD-scale twin of q_survival's KM product (Nelson 1972, Aalen
    // 1978): Ĥ(t) = Σ_{tᵢ≤t} dᵢ/nᵢ with variance Σ dᵢ/nᵢ² — the estimator
    // recommended over −ln(KM) in small risk sets, and the base quantity
    // behind q_log_rank's expected counts. Same ONE customer-key shuffle
    // to the calendar-bounded lifetime frame as q_survival/q_km_ci; both
    // cumulatives ride the same t-ORDERED window, so the float term
    // sequence is identical cross-engine and every term is a single
    // division of exact BIGINTs (d = n needs no guard here — hazard
    // increments are finite by construction, unlike KM's ln(1−d/n)).
    // Log-transformed 95% band H·exp(±z·se/H) (Bie et al. 1987),
    // abstaining NULL while H = 0 (no events yet: the band is undefined,
    // and NULL mirrors identically — §2.13 discipline).
    "q_nelson_aalen" -> ((s, dir) => {
      val withRisk = riskTable(s, dir)
      val wOrd = BoundedWindow.ordered(col("t_days"), col("t_days"))
      val wCum = wOrd.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      val hTerm = col("n_events").cast("double") /
        col("n_risk").cast("double")
      val vTerm = col("n_events").cast("double") /
        (col("n_risk").cast("double") * col("n_risk").cast("double"))
      val acc = withRisk
        .withColumn("h", sum(hTerm).over(wCum))
        .withColumn("v", sum(vTerm).over(wCum))
      val se = sqrt(col("v"))
      val band = exp(lit(1.959963984540054) * se / col("h"))
      acc.select(col("t_days"), col("n_risk"), col("n_events"),
          r6(col("h")).as("cum_hazard"), r6(se).as("se"),
          when(col("h") > 0.0, r6(col("h") / band)).as("ci_lo"),
          when(col("h") > 0.0, r6(col("h") * band)).as("ci_hi"))
        .orderBy("t_days")
    }),

    // ---- log-rank two-group survival test (beyond reference, r11) ---------
    // The comparison q_survival's single curve can't make: do BUILDING-
    // segment customers churn on a DIFFERENT schedule than everyone else?
    // The log-rank test (Mantel 1966) — the standard two-sample survival
    // comparison, CMH applied at every event time: at each distinct
    // lifetime t with d events over n at risk (n₁ in group 1), group 1
    // expects E₁ᵗ = d·n₁/n events with hypergeometric variance Vᵗ =
    // d·(n₁/n)(1−n₁/n)(n−d)/(n−1); χ² = (O₁−ΣE₁)²/ΣV. Plan shape: the
    // same ONE customer-key shuffle as q_survival builds lifetimes (the
    // segment dim attaches by BROADCAST), then the entire test lives on
    // the calendar-bounded t_days frame — risk sets are the KM prefix
    // windows, the float term sums ride the ORDERED cumulative window
    // (identical op sequence both engines, the q_survival ln_s
    // discipline), and one row survives. O₁ stays exact BIGINT; a
    // degenerate ΣV = 0 abstains χ² with NULL (§2.13).
    "q_log_rank" -> ((s, dir) => {
      val asOf = lit(SegAsOf).cast("date")
      val life = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(to_date(min(col("o_orderdate"))).as("first_d"),
          to_date(max(col("o_orderdate"))).as("last_d"))
        .join(broadcast(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))),
          col("o_custkey") === col("c_custkey"))
        .select(
          datediff(col("last_d"), col("first_d")).cast("long").as("t_days"),
          (datediff(asOf, col("last_d")) > lit(ChurnGapDays))
            .cast("long").as("event"),
          (col("c_mktsegment") === "BUILDING").cast("long").as("g1"))
      val byT = life.groupBy("t_days").agg(
        count(lit(1)).as("n_at"), sum(col("g1")).as("n1_at"),
        sum(col("event")).as("d"),
        sum(col("event") * col("g1")).as("d1"))
      val wOrd = BoundedWindow.ordered(col("t_days"), col("t_days"))
      val wCum = wOrd.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
      val wAll = BoundedWindow.whole(col("t_days"))
      val risk = byT
        .withColumn("n_tot", sum(col("n_at")).over(wAll))
        .withColumn("n1_tot", sum(col("n1_at")).over(wAll))
        .withColumn("n_risk", col("n_tot") -
          coalesce(sum(col("n_at")).over(wPrev), lit(0L)))
        .withColumn("n1_risk", col("n1_tot") -
          coalesce(sum(col("n1_at")).over(wPrev), lit(0L)))
      val f1 = col("n1_risk").cast("double") / col("n_risk").cast("double")
      val contrib = col("d") > 0L && col("n_risk") > 1L
      val eT = when(contrib, col("d").cast("double") * f1)
        .otherwise(lit(0.0))
      val vT = when(contrib, col("d").cast("double") * f1 *
        (lit(1.0) - f1) * (col("n_risk") - col("d")).cast("double") /
        (col("n_risk") - 1L).cast("double")).otherwise(lit(0.0))
      val cum = risk.select(col("n_tot"), col("n1_tot"),
        row_number().over(wOrd).as("rn"),
        count(lit(1)).over(wAll).as("n_rows"),
        sum(col("d1")).over(wCum).as("o1"),
        sum(eT).over(wCum).as("e1"),
        sum(vT).over(wCum).as("v1"))
      val dev = col("o1").cast("double") - col("e1")
      val chi2 = r4(when(col("v1") > 0.0, dev * dev / col("v1")))
      cum.where(col("rn") === col("n_rows"))
        .select(col("n1_tot").as("n_grp"),
          (col("n_tot") - col("n1_tot")).as("n_rest"),
          col("o1").as("observed"), r6(col("e1")).as("expected"),
          r6(col("v1")).as("variance"), chi2.as("chi2"),
          coalesce((chi2 > lit(3.8415)).cast("long"), lit(0L))
            .as("reject_95"))
    }),

    // ---- market-basket association rules ----------------------------------
    // Top-20 part pairs co-ordered most often, with both rule directions'
    // confidence and the symmetric lift (Agrawal–Imieliński–Swami 1993) —
    // the cross-sell read on the order log. Plan shape: pair generation is
    // a CO-PARTITIONED self-equi-join on l_orderkey (never all-pairs across
    // orders — output is Σ picks(items-per-order, 2), a per-order constant ≈
    // 6–21 rows); pair supports shuffle on the (a,b) key with map-side
    // partials; the part-bounded item-support frame broadcasts back twice;
    // n_orders attaches as a broadcast 1-row aggregate. The slice is a
    // TakeOrdered heap, not a global sort. At 100 TB a genuinely
    // dim-table-sized parts list still broadcasts; a parts list past
    // broadcast size degrades to one more shuffled equi-join — same plan
    // class as the pair aggregate itself. In production a min-support
    // HAVING prunes the pair frame before the attach; the harness keeps
    // every pair so the heap's ordering is exercised end-to-end. Floats:
    // confidence/lift are single divisions over exact BIGINTs, ordering
    // uses the unrounded doubles (identical IEEE ops both engines) with a
    // (part_a, part_b) tie-break for full determinism.
    "q_assoc_rules" -> ((s, dir) => {
      // r18: the distinct item frame feeds FOUR subtrees (both self-join
      // arms, item supports, the order count) — materialize it once so
      // each reads RAM blocks instead of re-running the scan + distinct
      // (the kCore/linkPrediction single-materialization discipline;
      // ReuseExchange only dedups identical exchanges, not the distinct's
      // reduce side re-keyed by ok)
      val items = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
        .localCheckpoint()
      val a = items.select(col("ok"), col("pk").as("part_a"))
      val b = items.select(col("ok"), col("pk").as("part_b"))
      val pairSupp = a.join(b, Seq("ok"))
        .where(col("part_a") < col("part_b"))
        .groupBy("part_a", "part_b").agg(count(lit(1)).as("supp_ab"))
      val itemSupp = items.groupBy("pk").agg(count(lit(1)).as("supp"))
      val nOrders = items.agg(countDistinct(col("ok")).as("n_orders"))
      pairSupp
        .join(broadcast(itemSupp.select(col("pk").as("part_a"),
          col("supp").as("supp_a"))), Seq("part_a"))
        .join(broadcast(itemSupp.select(col("pk").as("part_b"),
          col("supp").as("supp_b"))), Seq("part_b"))
        .crossJoin(broadcast(nOrders))
        .withColumn("lift_raw",
          (col("supp_ab") * col("n_orders")).cast("double")
            / (col("supp_a") * col("supp_b")))
        .orderBy(col("supp_ab").desc, col("lift_raw").desc,
          col("part_a"), col("part_b"))
        .limit(20)
        .select(col("part_a"), col("part_b"), col("supp_ab"),
          col("supp_a"), col("supp_b"),
          r6(col("supp_ab").cast("double") / col("supp_a")).as("conf_ab"),
          r6(col("supp_ab").cast("double") / col("supp_b")).as("conf_ba"),
          r6(col("lift_raw")).as("lift"))
        .orderBy(col("supp_ab").desc, col("lift").desc,
          col("part_a"), col("part_b"))
    }),

    // ---- top-k churn across periods (beyond reference, round 9) -----------
    // Rank-list stability — the BI question behind every "top products"
    // dashboard: how much of last period's top-20 survives into this
    // period's? Top-20 parts by revenue cents per ship-date half, then
    // overlap count, Jaccard, and the rank-displacement sum over the
    // intersection (a Kendall-flavored footrule — integer-exact). Scale
    // shape: one lineitem scan partial-aggregates to (part × period)
    // revenue, two bounded top-20 heads via row_number over the part
    // frame, one full-outer self-join of two 20-row lists (UNHINTED:
    // Spark cannot broadcast a full-outer side, so a broadcast hint here
    // is dead code that only logs a HintErrorLogger WARN — a sort-merge
    // of two 20-row frames is already free). Cents BIGINT end-to-end;
    // the Jaccard is the single float division.
    "q_topk_churn" -> ((s, dir) => {
      val cents = ColumnOps.cents(col("l_extendedprice"))
      val cut = lit("1998-01-01").cast("date")
      val pp = t(s, dir, "lineitem")
        .groupBy(col("l_partkey").as("part"),
          (to_date(col("l_shipdate")) >= cut).cast("long").as("period"))
        .agg(sum(cents).as("rev"))
      val w = Window.partitionBy(col("period"))
        .orderBy(col("rev").desc, col("part"))
      val top = pp.select(col("part"), col("period"), col("rev"),
          row_number().over(w).cast("long").as("rk"))
        .where(col("rk") <= 20L)
      val a = top.where(col("period") === 0L)
        .select(col("part"), col("rk").as("rk_a"))
      val b = top.where(col("period") === 1L)
        .select(col("part"), col("rk").as("rk_b"))
      val j = a.join(b, Seq("part"), "full")
      // churned_out counts against the period-0 list's ACTUAL size (the
      // count of non-null rk_a), not the literal 20 — on a slice with
      // fewer than 20 ranked parts the literal would overstate churn
      j.agg(
          sum(when(col("rk_a").isNotNull && col("rk_b").isNotNull, 1L)
            .otherwise(0L)).as("n_overlap"),
          count(lit(1)).as("n_union"),
          sum(col("rk_a").isNotNull.cast("long")).as("n_list_a"),
          sum(when(col("rk_a").isNotNull && col("rk_b").isNotNull,
            abs(col("rk_a") - col("rk_b"))).otherwise(0L))
            .as("rank_displacement"))
        .select(col("n_overlap"), col("n_union"),
          r6(col("n_overlap").cast("double") / col("n_union"))
            .as("jaccard"),
          col("rank_displacement"),
          (col("n_list_a") - col("n_overlap")).as("churned_out"))
    }),

    // ---- Simpson's paradox audit (beyond reference, round 9) --------------
    // The observational-data trap detector: does the pooled association
    // between urgency and high-value orders keep its SIGN inside every
    // customer-segment stratum (Simpson 1951)? Pooled and per-stratum
    // high-value-rate differences (urgent − other) from exact integer
    // counts; the audit row flags a paradox when every stratum agrees on
    // one sign and the pooled difference carries the other. Scale shape:
    // one orders scan joins the segment dimension by BROADCAST (customer
    // is the smaller table and AQE would pick it anyway at these
    // proportions; at warehouse scale segment rides denormalized),
    // partial-aggregates to the ≤|segments| cell frame, and the pooled
    // row is a window over that bounded frame. Every rate is one
    // division of exact BIGINTs; signs compare on r6-rounded diffs so
    // the flag cannot flip cross-engine.
    "q_simpsons_paradox" -> ((s, dir) => {
      val urgent = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      val hv = (col("o_totalprice") > 240000.0).cast("long")
      val cells = t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(sum(when(urgent, 1L).otherwise(0L)).as("n_u"),
          sum(when(urgent, hv).otherwise(0L)).as("hv_u"),
          sum(when(!urgent, 1L).otherwise(0L)).as("n_o"),
          sum(when(!urgent, hv).otherwise(0L)).as("hv_o"))
      val w = BoundedWindow.whole(col("segment"))
      def rate(num: Column, den: Column): Column =
        when(den > 0L, num.cast("double") / den.cast("double"))
      val diff = r6(rate(col("hv_u"), col("n_u")) -
        rate(col("hv_o"), col("n_o")))
      val pooledDiff = r6(rate(sum(col("hv_u")).over(w),
        sum(col("n_u")).over(w)) -
        rate(sum(col("hv_o")).over(w), sum(col("n_o")).over(w)))
      val withDiff = cells.select(col("segment"), col("n_u"), col("hv_u"),
        col("n_o"), col("hv_o"), diff.as("stratum_diff"),
        pooledDiff.as("pooled_diff"))
      withDiff.select(col("segment"), col("n_u"), col("hv_u"), col("n_o"),
          col("hv_o"), col("stratum_diff"), col("pooled_diff"),
          coalesce(((max(signum(col("stratum_diff"))).over(w) ===
            min(signum(col("stratum_diff"))).over(w)) &&
            signum(col("pooled_diff")) =!=
              max(signum(col("stratum_diff"))).over(w))
            .cast("long"), lit(0L)).as("paradox"))
        .orderBy("segment")
    }),

    // ---- quantile normalization (beyond reference, round 9) ---------------
    // The microarray-era distribution equalizer (Bolstad et al. 2003) the
    // feature-prep layer needs beside z/min-max scaling (q_feature_scale):
    // force each customer's early-period and late-period spend onto ONE
    // common distribution — rank each column, replace the rank-r value in
    // BOTH columns with the mean of the two rank-r order statistics. After
    // QN the two columns have literally identical value multisets, so
    // cross-period comparisons are calibration-free. Exactness: spend
    // stays integer cents; each reference value is (a+b)/2 over two exact
    // BIGINTs (an exactly-representable .5 double), and rank ties break on
    // custkey, so both engines produce identical ranks, references and
    // hashes — zero float accumulation anywhere. Scale shape: one orders
    // scan partial-aggregates to the checkpointed per-customer frame;
    // both rankings run the [[Ranks.withGlobalRank]] two-level bucket
    // pattern (no single-partition Window — the r9 swap-in, now code)
    // and the two rank-equi-joins live on that CUSTOMER-bounded frame,
    // never raw orders.
    "q_quantile_normalize" -> ((s, dir) => {
      val cents = ColumnOps.cents(col("o_totalprice"))
      val cut = lit("1998-01-01").cast("date")
      val feats = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("custkey"))
        .agg(sum(when(to_date(col("o_orderdate")) < cut, cents)
          .otherwise(0L)).as("m1"),
          sum(when(to_date(col("o_orderdate")) >= cut, cents)
            .otherwise(0L)).as("m2"))
        .localCheckpoint()
      // both rankings ride ONE batched lane pass (withGlobalRanks — the
      // fixed boundary/offset/window cost is shared), checkpointed
      // because the result is referenced four times (the output row plus
      // both sides of the rank-equi-joined reference distribution)
      val ranked = Ranks.withGlobalRanks(feats,
          Seq(col("m1") -> "r1", col("m2") -> "r2"), col("custkey"))
        .localCheckpoint()
      val ref = ranked.select(col("r1").as("r"), col("m1"))
        .join(ranked.select(col("r2").as("r"), col("m2")), Seq("r"))
        .select(col("r"),
          ((col("m1") + col("m2")).cast("double") / lit(2.0)).as("ref"))
      ranked
        .join(ref.select(col("r").as("r1"), col("ref").as("ref1")), Seq("r1"))
        .join(ref.select(col("r").as("r2"), col("ref").as("ref2")), Seq("r2"))
        .select(col("custkey"), col("m1"), col("m2"),
          col("r1").cast("long").as("rank1"), col("r2").cast("long").as("rank2"),
          (col("ref1") / lit(100.0)).as("qn_m1"),
          (col("ref2") / lit(100.0)).as("qn_m2"))
        .orderBy("custkey")
    }))

  /** Each customer's total spend in integer cents (feats: custkey, m). */
  private[operators] val CustomerSpendCte =
    """feats AS (
      |  SELECT o_custkey AS custkey,
      |    CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT))
      |      AS BIGINT) AS m
      |  FROM orders GROUP BY 1
      |)""".stripMargin

  val oracleSql: Map[String, String] = Map(

    // same exact-integer risk sets and the identical ordered ln-sum
    // sequence; the died-out tail pinned to 0 on both engines
    "q_survival" ->
      s"""WITH $KmLifeCte, risk AS (
        |  SELECT t_days, n_at_t, n_events, n_at_t - n_events AS n_censored,
        |    CAST(SUM(n_at_t) OVER () AS BIGINT) - CAST(COALESCE(
        |      SUM(n_at_t) OVER (ORDER BY t_days
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS n_risk
        |  FROM byt
        |), s AS (
        |  SELECT *,
        |    SUM(CASE WHEN n_events > 0 AND n_events < n_risk
        |      THEN LN(1.0 - CAST(n_events AS DOUBLE) / CAST(n_risk AS DOUBLE))
        |      ELSE 0.0 END) OVER (ORDER BY t_days) AS ln_s,
        |    MAX(CASE WHEN n_events >= n_risk THEN 1 ELSE 0 END)
        |      OVER (ORDER BY t_days) AS dead
        |  FROM risk
        |)
        |SELECT t_days, n_risk, n_events, n_censored,
        |  CASE WHEN dead = 1 THEN 0.0
        |    ELSE FLOOR(EXP(ln_s) * 1000000.0 + 0.500001) / 1000000.0 END
        |    AS survival
        |FROM s ORDER BY t_days""".stripMargin,

    // same KM chain as q_survival plus the Greenwood cumulative — both
    // ordered float sums replay op-for-op; the d=n dead tail abstains the
    // band with NULL identically, clamps mirror
    "q_km_ci" ->
      s"""WITH $KmLifeCte, risk AS (
        |  SELECT t_days, n_at_t, n_events,
        |    CAST(SUM(n_at_t) OVER () AS BIGINT) - CAST(COALESCE(
        |      SUM(n_at_t) OVER (ORDER BY t_days
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS n_risk
        |  FROM byt
        |), s AS (
        |  SELECT *,
        |    SUM(CASE WHEN n_events > 0 AND n_events < n_risk
        |      THEN LN(1.0 - CAST(n_events AS DOUBLE) / CAST(n_risk AS DOUBLE))
        |      ELSE 0.0 END) OVER w AS ln_s,
        |    SUM(CASE WHEN n_events > 0 AND n_events < n_risk
        |      THEN CAST(n_events AS DOUBLE)
        |        / (CAST(n_risk AS DOUBLE)
        |           * CAST(n_risk - n_events AS DOUBLE))
        |      ELSE 0.0 END) OVER w AS gw,
        |    MAX(CASE WHEN n_events >= n_risk THEN 1 ELSE 0 END)
        |      OVER w AS dead
        |  FROM risk
        |  WINDOW w AS (ORDER BY t_days
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)
        |SELECT t_days, n_risk, n_events,
        |  CASE WHEN dead = 1 THEN 0.0
        |    ELSE FLOOR(EXP(ln_s) * 1000000.0 + 0.500001) / 1000000.0 END
        |    AS survival,
        |  CASE WHEN dead = 0 THEN
        |    FLOOR(EXP(ln_s) * SQRT(gw) * 1000000.0 + 0.500001) / 1000000.0
        |    END AS se,
        |  CASE WHEN dead = 0 THEN
        |    FLOOR(GREATEST(EXP(ln_s)
        |        - 1.959963984540054 * (EXP(ln_s) * SQRT(gw)), 0.0)
        |      * 1000000.0 + 0.500001) / 1000000.0 END AS ci_lo,
        |  CASE WHEN dead = 0 THEN
        |    FLOOR(LEAST(EXP(ln_s)
        |        + 1.959963984540054 * (EXP(ln_s) * SQRT(gw)), 1.0)
        |      * 1000000.0 + 0.500001) / 1000000.0 END AS ci_hi
        |FROM s ORDER BY t_days""".stripMargin,

    // same lifetime frame and prefix-window risk sets as q_survival; both
    // cumulative hazard sums replay the identical t-ordered division
    // sequence, the log-band composes in the same literal order, and the
    // H = 0 head abstains NULL on both engines
    "q_nelson_aalen" ->
      s"""WITH $RiskTableCte, s AS (
        |  SELECT *,
        |    SUM(CAST(n_events AS DOUBLE) / CAST(n_risk AS DOUBLE))
        |      OVER w AS h,
        |    SUM(CAST(n_events AS DOUBLE)
        |      / (CAST(n_risk AS DOUBLE) * CAST(n_risk AS DOUBLE)))
        |      OVER w AS v
        |  FROM risk
        |  WINDOW w AS (ORDER BY t_days
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)
        |SELECT t_days, n_risk, n_events,
        |  FLOOR(h * 1000000.0 + 0.500001) / 1000000.0 AS cum_hazard,
        |  FLOOR(SQRT(v) * 1000000.0 + 0.500001) / 1000000.0 AS se,
        |  CASE WHEN h > 0.0 THEN
        |    FLOOR(h / EXP(1.959963984540054 * SQRT(v) / h)
        |      * 1000000.0 + 0.500001) / 1000000.0 END AS ci_lo,
        |  CASE WHEN h > 0.0 THEN
        |    FLOOR(h * EXP(1.959963984540054 * SQRT(v) / h)
        |      * 1000000.0 + 0.500001) / 1000000.0 END AS ci_hi
        |FROM s ORDER BY t_days""".stripMargin,

    // identical lifetime frame + segment join, the same prefix-window risk
    // sets, and the same t-ORDERED cumulative float term sums — op-for-op
    // identical sequence, so parity is structural; guards mirror (d>0 ∧
    // n_risk>1 zero-terms, ΣV=0 abstains NULL)
    "q_log_rank" ->
      """WITH cust AS (
        |  SELECT o_custkey,
        |    MIN(CAST(o_orderdate AS DATE)) AS first_d,
        |    MAX(CAST(o_orderdate AS DATE)) AS last_d
        |  FROM orders GROUP BY 1
        |), life AS (
        |  SELECT CAST(date_diff('day', first_d, last_d) AS BIGINT) AS t_days,
        |    CASE WHEN date_diff('day', last_d, DATE '2001-09-01') > 90
        |      THEN 1 ELSE 0 END AS event,
        |    CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS g1
        |  FROM cust JOIN customer c ON cust.o_custkey = c.c_custkey
        |), byt AS (
        |  SELECT t_days, CAST(COUNT(*) AS BIGINT) AS n_at,
        |    CAST(SUM(g1) AS BIGINT) AS n1_at,
        |    CAST(SUM(event) AS BIGINT) AS d,
        |    CAST(SUM(event * g1) AS BIGINT) AS d1
        |  FROM life GROUP BY 1
        |), risk AS (
        |  SELECT t_days, d, d1,
        |    CAST(SUM(n_at) OVER () AS BIGINT) AS n_tot,
        |    CAST(SUM(n1_at) OVER () AS BIGINT) AS n1_tot,
        |    CAST(SUM(n_at) OVER () AS BIGINT) - CAST(COALESCE(
        |      SUM(n_at) OVER (ORDER BY t_days
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS n_risk,
        |    CAST(SUM(n1_at) OVER () AS BIGINT) - CAST(COALESCE(
        |      SUM(n1_at) OVER (ORDER BY t_days
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS n1_risk
        |  FROM byt
        |), cum AS (
        |  SELECT n_tot, n1_tot,
        |    ROW_NUMBER() OVER (ORDER BY t_days) AS rn,
        |    COUNT(*) OVER () AS n_rows,
        |    CAST(SUM(d1) OVER w AS BIGINT) AS o1,
        |    SUM(CASE WHEN d > 0 AND n_risk > 1 THEN
        |      CAST(d AS DOUBLE)
        |        * (CAST(n1_risk AS DOUBLE) / CAST(n_risk AS DOUBLE))
        |      ELSE 0.0 END) OVER w AS e1,
        |    SUM(CASE WHEN d > 0 AND n_risk > 1 THEN
        |      CAST(d AS DOUBLE)
        |        * (CAST(n1_risk AS DOUBLE) / CAST(n_risk AS DOUBLE))
        |        * (1.0 - CAST(n1_risk AS DOUBLE) / CAST(n_risk AS DOUBLE))
        |        * CAST(n_risk - d AS DOUBLE) / CAST(n_risk - 1 AS DOUBLE)
        |      ELSE 0.0 END) OVER w AS v1
        |  FROM risk
        |  WINDOW w AS (ORDER BY t_days
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), fin AS (
        |  SELECT n1_tot, n_tot, o1, e1, v1,
        |    CASE WHEN v1 > 0.0 THEN
        |      FLOOR((CAST(o1 AS DOUBLE) - e1) * (CAST(o1 AS DOUBLE) - e1)
        |        / v1 * 10000.0 + 0.500001) / 10000.0 END AS chi2
        |  FROM cum WHERE rn = n_rows
        |)
        |SELECT n1_tot AS n_grp, n_tot - n1_tot AS n_rest, o1 AS observed,
        |  FLOOR(e1 * 1000000.0 + 0.500001) / 1000000.0 AS expected,
        |  FLOOR(v1 * 1000000.0 + 0.500001) / 1000000.0 AS variance,
        |  chi2,
        |  CAST(COALESCE(CASE WHEN chi2 > 3.8415 THEN 1 ELSE 0 END, 0)
        |    AS BIGINT) AS reject_95
        |FROM fin""".stripMargin,

    // identical per-customer LAG gaps (exact integer days), exact HUGEINT
    // moments, the same clamped-variance CV compose, flag on the rounded
    // CV
    "q_interarrival" ->
      """WITH gaps AS (
        |  SELECT CAST(date_diff('day',
        |      LAG(CAST(o_orderdate AS DATE), 1) OVER (
        |        PARTITION BY o_custkey
        |        ORDER BY o_orderdate, o_orderkey),
        |      CAST(o_orderdate AS DATE)) AS BIGINT) AS g
        |  FROM orders
        |), gg AS (SELECT g FROM gaps WHERE g IS NOT NULL),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(g) AS BIGINT) AS sg,
        |    SUM(CAST(g AS HUGEINT) * g) AS sgg
        |  FROM gg
        |), fin AS (
        |  SELECT n, sg, n > 1 AND sg > 0 AS ok,
        |    CAST(sg AS DOUBLE) / CAST(n AS DOUBLE) AS mean_g,
        |    CAST(sgg AS DOUBLE) / CAST(n AS DOUBLE)
        |      - (CAST(sg AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (CAST(sg AS DOUBLE) / CAST(n AS DOUBLE)) AS vr
        |  FROM m
        |), fin2 AS (
        |  SELECT n, ok, mean_g,
        |    CASE WHEN ok THEN
        |      FLOOR(SQRT(GREATEST(vr, 0.0)) / mean_g * 1000000.0 + 0.500001)
        |        / 1000000.0 END AS cv
        |  FROM fin
        |)
        |SELECT n AS n_gaps,
        |  CASE WHEN ok THEN FLOOR(mean_g * 10000.0 + 0.500001) / 10000.0
        |    END AS mean_gap_days,
        |  cv,
        |  CAST(COALESCE(CASE WHEN ABS(cv - 1.0) <= 0.25 THEN 1 ELSE 0 END,
        |    0) AS BIGINT) AS poissonish
        |FROM fin2""".stripMargin,

    // HHI = Σv²/V² with both sides exact HUGEINT sums of cents² — one
    // division per output row, no float accumulation anywhere
    "q_hhi" ->
      """WITH joined AS (
        |  SELECT c.c_mktsegment AS segment, c.c_nationkey AS nation,
        |    CAST(FLOOR(o.o_totalprice * 100.0 + 0.500001) AS BIGINT) AS v
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |), bn AS (
        |  SELECT nation AS grp, CAST(SUM(v) AS BIGINT) AS gv
        |  FROM joined GROUP BY 1
        |), bs AS (
        |  SELECT segment AS grp, CAST(SUM(v) AS BIGINT) AS gv
        |  FROM joined GROUP BY 1
        |), hn AS (
        |  SELECT 'nation' AS dim, CAST(COUNT(*) AS BIGINT) AS n_groups,
        |    SUM(CAST(gv AS HUGEINT) * gv) AS s2,
        |    CAST(SUM(gv) AS HUGEINT) AS tot
        |  FROM bn
        |), hs AS (
        |  SELECT 'segment' AS dim, CAST(COUNT(*) AS BIGINT) AS n_groups,
        |    SUM(CAST(gv AS HUGEINT) * gv) AS s2,
        |    CAST(SUM(gv) AS HUGEINT) AS tot
        |  FROM bs
        |), u AS (
        |  SELECT * FROM hn UNION ALL SELECT * FROM hs
        |)
        |SELECT dim, n_groups,
        |  FLOOR(CAST(s2 AS DOUBLE) / CAST(tot * tot AS DOUBLE)
        |    * 1000000.0 + 0.500001) / 1000000.0 AS hhi,
        |  FLOOR(CAST(tot * tot AS DOUBLE) / CAST(s2 AS DOUBLE)
        |    * 100.0 + 0.500001) / 100.0 AS effective_n
        |FROM u ORDER BY dim""".stripMargin,

    // identical part×year exact sums, the same per-part micro-cents
    // quantization of the cross terms before summation, Fisher from the
    // two rounded ratios
    "q_price_index" ->
      """WITH li AS (
        |  SELECT l_partkey AS pk,
        |    EXTRACT(YEAR FROM CAST(l_shipdate AS DATE)) AS yr,
        |    CAST(FLOOR(l_extendedprice * 100.0 + 0.500001) AS BIGINT) AS v,
        |    CAST(FLOOR(l_quantity + 0.500001) AS BIGINT) AS q
        |  FROM lineitem
        |  WHERE EXTRACT(YEAR FROM CAST(l_shipdate AS DATE)) IN (1997, 1998)
        |), bypy AS (
        |  SELECT pk, yr, CAST(SUM(v) AS BIGINT) AS v,
        |    CAST(SUM(q) AS BIGINT) AS q
        |  FROM li GROUP BY 1, 2
        |), pair AS (
        |  SELECT b.pk, b.v AS v0, b.q AS q0, c.v AS v1, c.q AS q1
        |  FROM (SELECT * FROM bypy WHERE yr = 1997) b
        |  JOIN (SELECT * FROM bypy WHERE yr = 1998) c ON b.pk = c.pk
        |), g AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
        |    CAST(SUM(v0) AS BIGINT) AS s_p0q0,
        |    CAST(SUM(v1) AS BIGINT) AS s_p1q1,
        |    CAST(SUM(CAST(FLOOR(CAST(v1 AS DOUBLE) * CAST(q0 AS DOUBLE)
        |      / CAST(q1 AS DOUBLE) + 0.500001) AS BIGINT)) AS BIGINT)
        |      AS s_p1q0,
        |    CAST(SUM(CAST(FLOOR(CAST(v0 AS DOUBLE) * CAST(q1 AS DOUBLE)
        |      / CAST(q0 AS DOUBLE) + 0.500001) AS BIGINT)) AS BIGINT)
        |      AS s_p0q1
        |  FROM pair
        |), fin AS (
        |  SELECT n_parts,
        |    FLOOR(CAST(s_p1q0 AS DOUBLE) / CAST(s_p0q0 AS DOUBLE)
        |      * 1000000.0 + 0.500001) / 1000000.0 AS laspeyres,
        |    FLOOR(CAST(s_p1q1 AS DOUBLE) / CAST(s_p0q1 AS DOUBLE)
        |      * 1000000.0 + 0.500001) / 1000000.0 AS paasche
        |  FROM g
        |)
        |SELECT n_parts, laspeyres, paasche,
        |  FLOOR(SQRT(laspeyres * paasche) * 1000000.0 + 0.500001)
        |    / 1000000.0 AS fisher
        |FROM fin""".stripMargin,

    // identical micro-quantized logs (LN is natural log on both engines,
    // arguments structurally ≥ 1), exact HUGEINT moments, the same
    // centered closed form; flat price/quantity abstains NULL
    "q_elasticity" ->
      """WITH pts AS (
        |  SELECT
        |    CAST(FLOOR(LN(CAST(CAST(FLOOR(l_extendedprice * 100.0
        |        + 0.500001) AS BIGINT) AS DOUBLE)
        |      / CAST(CAST(FLOOR(l_quantity + 0.500001) AS BIGINT) AS DOUBLE))
        |      * 1000000.0) AS BIGINT) AS x,
        |    CAST(FLOOR(LN(CAST(CAST(FLOOR(l_quantity + 0.500001) AS BIGINT)
        |      AS DOUBLE)) * 1000000.0) AS BIGINT) AS y
        |  FROM lineitem
        |), m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |    SUM(CAST(y AS HUGEINT) * y) AS syy
        |  FROM pts
        |), fin AS (
        |  SELECT n,
        |    CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
        |      AS cxx,
        |    CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
        |      AS cyy,
        |    CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
        |      AS cxy
        |  FROM m
        |)
        |SELECT n AS n_lines,
        |  CASE WHEN cxx > 0.0 AND cyy > 0.0 THEN
        |    FLOOR(cxy / cxx * 1000000.0 + 0.500001) / 1000000.0 END
        |    AS elasticity,
        |  CASE WHEN cxx > 0.0 AND cyy > 0.0 THEN
        |    FLOOR(cxy * cxy / (cxx * cyy) * 1000000.0 + 0.500001)
        |      / 1000000.0 END AS r2
        |FROM fin""".stripMargin,

    // NTILE over (m, custkey) ascending ≡ ntileOf(two-level exact rank):
    // same tiling by construction; shares are divisions of exact cents
    "q_lorenz" ->
      s"""WITH $CustomerSpendCte, ranked AS (
        |  SELECT m, NTILE(10) OVER (ORDER BY m, custkey) AS decile
        |  FROM feats
        |), byd AS (
        |  SELECT CAST(decile AS BIGINT) AS decile,
        |    CAST(COUNT(*) AS BIGINT) AS n_cust,
        |    CAST(SUM(m) AS BIGINT) AS spend
        |  FROM ranked GROUP BY 1
        |)
        |SELECT decile, n_cust, spend AS spend_cents,
        |  FLOOR(CAST(spend AS DOUBLE)
        |      / CAST(SUM(spend) OVER () AS DOUBLE)
        |    * 1000000.0 + 0.500001) / 1000000.0 AS share,
        |  FLOOR(CAST(SUM(spend) OVER (ORDER BY decile
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |      / CAST(SUM(spend) OVER () AS DOUBLE)
        |    * 1000000.0 + 0.500001) / 1000000.0 AS cum_share
        |FROM byd ORDER BY decile""".stripMargin,

    // identical (spend DESC, custkey) ranking and INTEGER threshold
    // crossings — no float boundary anywhere
    "q_pareto_8020" ->
      s"""WITH $CustomerSpendCte, ranked AS (
        |  SELECT ROW_NUMBER() OVER (ORDER BY m DESC, custkey) AS rk,
        |    SUM(m) OVER (ORDER BY m DESC, custkey
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(m) OVER () AS total, COUNT(*) OVER () AS n
        |  FROM feats
        |), g AS (
        |  SELECT CAST(MAX(n) AS BIGINT) AS n_customers,
        |    CAST(MIN(CASE WHEN cum * 20 >= total * 16 THEN rk END)
        |      AS BIGINT) AS rk80,
        |    CAST(MIN(CASE WHEN cum * 10 >= total * 9 THEN rk END)
        |      AS BIGINT) AS rk90,
        |    CAST(MIN(CASE WHEN cum * 20 >= total * 19 THEN rk END)
        |      AS BIGINT) AS rk95
        |  FROM ranked
        |)
        |SELECT n_customers, rk80,
        |  FLOOR(CAST(rk80 AS DOUBLE) / CAST(n_customers AS DOUBLE)
        |    * 1000000.0 + 0.500001) / 1000000.0 AS share80,
        |  rk90,
        |  FLOOR(CAST(rk90 AS DOUBLE) / CAST(n_customers AS DOUBLE)
        |    * 1000000.0 + 0.500001) / 1000000.0 AS share90,
        |  rk95,
        |  FLOOR(CAST(rk95 AS DOUBLE) / CAST(n_customers AS DOUBLE)
        |    * 1000000.0 + 0.500001) / 1000000.0 AS share95
        |FROM g""".stripMargin,

    // the same KM frame with UNROUNDED S, ordered step-integral
    // accumulation, identical tail term
    "q_rmst" ->
      s"""WITH $RiskTableCte, sv AS (
        |  SELECT t_days,
        |    CASE WHEN MAX(CASE WHEN n_events >= n_risk THEN 1 ELSE 0 END)
        |        OVER (ORDER BY t_days) = 1 THEN 0.0
        |      ELSE EXP(SUM(CASE WHEN n_events > 0 AND n_events < n_risk
        |        THEN LN(1.0 - CAST(n_events AS DOUBLE)
        |          / CAST(n_risk AS DOUBLE))
        |        ELSE 0.0 END) OVER (ORDER BY t_days)) END AS s
        |  FROM risk
        |), st AS (
        |  SELECT t_days, s,
        |    COALESCE(LAG(t_days) OVER (ORDER BY t_days), 0) AS prev_t,
        |    COALESCE(LAG(s) OVER (ORDER BY t_days), 1.0) AS prev_s,
        |    ROW_NUMBER() OVER (ORDER BY t_days) AS rn,
        |    COUNT(*) OVER () AS n_rows
        |  FROM sv
        |), c AS (
        |  SELECT *,
        |    SUM(prev_s * CAST(LEAST(t_days, 730) - LEAST(prev_t, 730)
        |      AS DOUBLE)) OVER (ORDER BY t_days ROWS UNBOUNDED PRECEDING)
        |      AS area
        |  FROM st
        |)
        |SELECT CAST(730 AS BIGINT) AS tau_days,
        |  CAST(n_rows AS BIGINT) AS n_times,
        |  FLOOR((area + s * CAST(730 - LEAST(t_days, 730) AS DOUBLE))
        |    * 10000.0 + 0.500001) / 10000.0 AS rmst_days,
        |  FLOOR((area + s * CAST(730 - LEAST(t_days, 730) AS DOUBLE))
        |    / CAST(730 AS DOUBLE) * 1000000.0 + 0.500001) / 1000000.0
        |    AS retained_share
        |FROM c WHERE rn = n_rows""".stripMargin,

    // identical pair/item supports (BIGINT), the top-20 boundary decided on
    // the UNROUNDED lift with (part_a, part_b) tie-breaks
    "q_assoc_rules" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |), pair_supp AS (
        |  SELECT a.pk AS part_a, b.pk AS part_b,
        |    CAST(COUNT(*) AS BIGINT) AS supp_ab
        |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY a.pk, b.pk
        |), item_supp AS (
        |  SELECT pk, CAST(COUNT(*) AS BIGINT) AS supp FROM items GROUP BY pk
        |), n AS (
        |  SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM items
        |), top AS (
        |  SELECT part_a, part_b, supp_ab, sa.supp AS supp_a, sb.supp AS supp_b,
        |    CAST(supp_ab * n_orders AS DOUBLE) / (sa.supp * sb.supp) AS lift_raw
        |  FROM pair_supp
        |    JOIN item_supp sa ON sa.pk = part_a
        |    JOIN item_supp sb ON sb.pk = part_b, n
        |  ORDER BY supp_ab DESC, lift_raw DESC, part_a, part_b
        |  LIMIT 20
        |)
        |SELECT part_a, part_b, supp_ab, supp_a, supp_b,
        |  FLOOR(CAST(supp_ab AS DOUBLE) / supp_a * 1000000.0 + 0.500001)
        |    / 1000000.0 AS conf_ab,
        |  FLOOR(CAST(supp_ab AS DOUBLE) / supp_b * 1000000.0 + 0.500001)
        |    / 1000000.0 AS conf_ba,
        |  FLOOR(lift_raw * 1000000.0 + 0.500001) / 1000000.0 AS lift
        |FROM top
        |ORDER BY supp_ab DESC, lift DESC, part_a, part_b""".stripMargin,

    "q_markov_transitions" ->
      """WITH tr AS (
        |  SELECT event_type AS src,
        |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS dst
        |  FROM events
        |), c AS (
        |  SELECT src, dst, CAST(COUNT(*) AS DOUBLE) AS n
        |  FROM tr WHERE dst IS NOT NULL GROUP BY src, dst
        |)
        |SELECT src, dst, CAST(n AS BIGINT) AS n,
        |  FLOOR((n / SUM(n) OVER (PARTITION BY src)) * 1000000.0 + 0.500001)
        |    / 1000000.0 AS p
        |FROM c ORDER BY src, dst""".stripMargin,

    // identical micro-unit quantization of every n·ln n term, BIGINT sums
    // only — no float accumulation on either engine
    "q_entropy_rate" ->
      """WITH tr AS (
        |  SELECT event_type AS src,
        |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS dst
        |  FROM events
        |), c AS (
        |  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM tr WHERE dst IS NOT NULL GROUP BY src, dst
        |), per AS (
        |  SELECT src, CAST(SUM(n) AS BIGINT) AS n_out,
        |    CAST(COUNT(*) AS BIGINT) AS n_dst,
        |    CAST(SUM(CAST(FLOOR(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE))
        |      * 1000000.0) AS BIGINT)) AS BIGINT) AS a
        |  FROM c GROUP BY src
        |), pb AS (
        |  SELECT src, n_out, n_dst, a,
        |    CAST(FLOOR(CAST(n_out AS DOUBLE) * ln(CAST(n_out AS DOUBLE))
        |      * 1000000.0) AS BIGINT) AS b
        |  FROM per
        |)
        |SELECT src, n_out, n_dst,
        |  FLOOR(CAST(b - a AS DOUBLE) / 1000000.0 / CAST(n_out AS DOUBLE)
        |    * 1000000.0 + 0.500001) / 1000000.0 AS h_cond,
        |  FLOOR(CAST(SUM(b) OVER () - SUM(a) OVER () AS DOUBLE) / 1000000.0
        |      / CAST(SUM(n_out) OVER () AS DOUBLE)
        |    * 1000000.0 + 0.500001) / 1000000.0 AS entropy_rate,
        |  CAST(SUM(n_out) OVER () AS BIGINT) AS n_transitions
        |FROM pb ORDER BY src""".stripMargin,

    // exact-integer tiering both engines; row_share is the one float op
    "q_segment_migration" ->
      """WITH s1 AS (
        |  SELECT o_custkey AS customer_id, CAST(
        |    (CASE WHEN COUNT(*) > 6 THEN 3 WHEN COUNT(*) > 3 THEN 2
        |      ELSE 1 END) * 10 +
        |    CASE WHEN SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.500001)
        |        AS BIGINT)) > 110000000 THEN 3
        |      WHEN SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.500001)
        |        AS BIGINT)) > 60000000 THEN 2 ELSE 1 END AS BIGINT)
        |    AS seg_from
        |  FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '1998-05-01'
        |  GROUP BY 1
        |), s2 AS (
        |  SELECT o_custkey AS customer_id, CAST(
        |    (CASE WHEN COUNT(*) > 6 THEN 3 WHEN COUNT(*) > 3 THEN 2
        |      ELSE 1 END) * 10 +
        |    CASE WHEN SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.500001)
        |        AS BIGINT)) > 110000000 THEN 3
        |      WHEN SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.500001)
        |        AS BIGINT)) > 60000000 THEN 2 ELSE 1 END AS BIGINT)
        |    AS seg_to
        |  FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '1998-05-01'
        |  GROUP BY 1
        |), j AS (
        |  SELECT COALESCE(seg_from, 0) AS seg_from,
        |    COALESCE(seg_to, 0) AS seg_to
        |  FROM s1 FULL OUTER JOIN s2 USING (customer_id)
        |), g AS (
        |  SELECT seg_from, seg_to, CAST(COUNT(*) AS BIGINT) AS n_customers
        |  FROM j GROUP BY 1, 2
        |)
        |SELECT seg_from, seg_to, n_customers,
        |  FLOOR(CAST(n_customers AS DOUBLE)
        |      / CAST(SUM(n_customers) OVER (PARTITION BY seg_from) AS DOUBLE)
        |    * 1000000.0 + 0.500001) / 1000000.0 AS row_share
        |FROM g ORDER BY seg_from, seg_to""".stripMargin,

    "q_attribution" ->
      """WITH tagged AS (
        |  SELECT user_id, ts, event_id, event_type, value,
        |    'c' || (CAST(json_extract_string(props, '$.k') AS BIGINT) % 5)
        |      AS channel,
        |    COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS journey
        |  FROM events
        |), j1 AS (
        |  SELECT *,
        |    MAX(CASE WHEN event_type = 'purchase' THEN value END)
        |      OVER (PARTITION BY user_id, journey) AS conv_value,
        |    SUM(CASE WHEN event_type IN ('view', 'click') THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id, journey) AS n_touches,
        |    MAX(CASE WHEN event_type IN ('view', 'click') THEN ts END)
        |      OVER (PARTITION BY user_id, journey) AS last_ts
        |  FROM tagged
        |), j2 AS (
        |  SELECT *,
        |    MAX(CASE WHEN event_type IN ('view', 'click') AND ts = last_ts
        |      THEN event_id END) OVER (PARTITION BY user_id, journey) AS last_eid
        |  FROM j1
        |)
        |SELECT channel,
        |  FLOOR((SUM(conv_value / n_touches)) * 10000.0 + 0.500001) / 10000.0
        |    AS attr_linear,
        |  FLOOR((SUM(CASE WHEN ts = last_ts AND event_id = last_eid
        |    THEN conv_value ELSE 0.0 END)) * 10000.0 + 0.500001) / 10000.0
        |    AS attr_last,
        |  CAST(COUNT(*) AS BIGINT) AS n_touch_events
        |FROM j2
        |WHERE event_type IN ('view', 'click') AND conv_value IS NOT NULL
        |GROUP BY channel ORDER BY channel""".stripMargin,

    // identical journey algebra, set census, subset join, and the exact
    // phi*120 integer sum — one division at the very end
    "q_shapley_attribution" ->
      """WITH tagged AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) % 5 AS ch,
        |    COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS journey
        |  FROM events
        |), j1 AS (
        |  SELECT *, MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id, journey) AS has_conv
        |  FROM tagged
        |), jm AS (
        |  SELECT user_id, journey,
        |    CAST(SUM(DISTINCT CASE WHEN ch = 0 THEN 1 WHEN ch = 1 THEN 2
        |      WHEN ch = 2 THEN 4 WHEN ch = 3 THEN 8 ELSE 16 END) AS BIGINT)
        |      AS mask
        |  FROM j1
        |  WHERE has_conv = 1 AND event_type IN ('view', 'click')
        |  GROUP BY 1, 2
        |), census AS (
        |  SELECT mask, CAST(COUNT(*) AS BIGINT) AS n_conv FROM jm GROUP BY 1
        |), coal AS (
        |  SELECT CAST(t.i AS BIGINT) AS tmask FROM range(0, 32) t(i)
        |), v AS (
        |  SELECT tmask, CAST(COALESCE(SUM(n_conv), 0) AS BIGINT) AS v
        |  FROM coal LEFT JOIN census ON (census.mask & coal.tmask)
        |    = census.mask
        |  GROUP BY tmask
        |), pairs AS (
        |  SELECT c.tmask, CAST(h.i AS BIGINT) AS ch,
        |    CAST(CASE WHEN h.i = 0 THEN 1 WHEN h.i = 1 THEN 2
        |      WHEN h.i = 2 THEN 4 WHEN h.i = 3 THEN 8 ELSE 16 END
        |      AS BIGINT) AS bitv
        |  FROM coal c CROSS JOIN range(0, 5) h(i)
        |  WHERE (c.tmask & CAST(CASE WHEN h.i = 0 THEN 1 WHEN h.i = 1 THEN 2
        |    WHEN h.i = 2 THEN 4 WHEN h.i = 3 THEN 8 ELSE 16 END AS BIGINT))
        |    = 0
        |), wp AS (
        |  SELECT tmask, ch, bitv,
        |    CASE WHEN (tmask & 1) <> 0 THEN 1 ELSE 0 END
        |      + CASE WHEN (tmask & 2) <> 0 THEN 1 ELSE 0 END
        |      + CASE WHEN (tmask & 4) <> 0 THEN 1 ELSE 0 END
        |      + CASE WHEN (tmask & 8) <> 0 THEN 1 ELSE 0 END
        |      + CASE WHEN (tmask & 16) <> 0 THEN 1 ELSE 0 END AS pc
        |  FROM pairs
        |), phi AS (
        |  SELECT wp.ch,
        |    CAST(SUM((CASE WHEN pc = 0 THEN 24 WHEN pc = 1 THEN 6
        |        WHEN pc = 2 THEN 4 WHEN pc = 3 THEN 6 ELSE 24 END)
        |      * (vi.v - vo.v)) AS BIGINT) AS phi120
        |  FROM wp
        |  JOIN v vi ON vi.tmask = wp.tmask + wp.bitv
        |  JOIN v vo ON vo.tmask = wp.tmask
        |  GROUP BY wp.ch
        |), total AS (
        |  SELECT v AS total_conv FROM v WHERE tmask = 31
        |)
        |SELECT 'c' || CAST(ch AS VARCHAR) AS channel, phi120,
        |  FLOOR(CAST(phi120 AS DOUBLE) / 120.0 * 1000000.0 + 0.500001)
        |    / 1000000.0 AS phi,
        |  CASE WHEN total_conv > 0
        |    THEN FLOOR(CAST(phi120 AS DOUBLE) / 120.0
        |      / CAST(total_conv AS DOUBLE) * 1000000.0 + 0.500001)
        |      / 1000000.0 END AS share,
        |  total_conv
        |FROM phi CROSS JOIN total ORDER BY channel""".stripMargin,

    "q_feature_scale" ->
      """WITH feats AS (
        |  SELECT o_custkey AS custkey, CAST(COUNT(*) AS DOUBLE) AS f,
        |    SUM(o_totalprice) AS m
        |  FROM orders GROUP BY o_custkey
        |), st AS (
        |  SELECT AVG(f) AS f_mean, STDDEV_SAMP(f) AS f_sd,
        |    MIN(f) AS f_min, MAX(f) AS f_max,
        |    AVG(m) AS m_mean, STDDEV_SAMP(m) AS m_sd,
        |    MIN(m) AS m_min, MAX(m) AS m_max
        |  FROM feats
        |)
        |SELECT custkey,
        |  FLOOR((CASE WHEN f_sd <> 0 THEN (f - f_mean) / f_sd ELSE 0.0 END)
        |    * 1000000.0 + 0.500001) / 1000000.0 AS f_z,
        |  FLOOR((CASE WHEN f_max <> f_min THEN (f - f_min) / (f_max - f_min)
        |    ELSE 0.0 END) * 1000000.0 + 0.500001) / 1000000.0 AS f_mm,
        |  FLOOR((CASE WHEN m_sd <> 0 THEN (m - m_mean) / m_sd ELSE 0.0 END)
        |    * 1000000.0 + 0.500001) / 1000000.0 AS m_z,
        |  FLOOR((CASE WHEN m_max <> m_min THEN (m - m_min) / (m_max - m_min)
        |    ELSE 0.0 END) * 1000000.0 + 0.500001) / 1000000.0 AS m_mm
        |FROM feats, st ORDER BY custkey""".stripMargin,

    "q_cohort_retention" ->
      """WITH m AS (
        |  SELECT o_custkey,
        |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS mi
        |  FROM orders
        |), c AS (
        |  SELECT o_custkey, mi,
        |    min(mi) OVER (PARTITION BY o_custkey) AS cohort
        |  FROM m
        |), a AS (
        |  SELECT cohort, mi - cohort AS offset_m,
        |    COUNT(DISTINCT o_custkey) AS active_users
        |  FROM c GROUP BY 1, 2
        |)
        |SELECT CAST(cohort AS BIGINT) AS cohort,
        |  CAST(offset_m AS BIGINT) AS offset_m,
        |  CAST(active_users AS BIGINT) AS active_users,
        |  FLOOR((CAST(active_users AS DOUBLE) /
        |    max(CASE WHEN offset_m = 0 THEN active_users END)
        |      OVER (PARTITION BY cohort)) * 100.0 + 0.500001) / 100.0 AS retention
        |FROM a ORDER BY cohort, offset_m""".stripMargin,

    // identical month index, first-month min, and (user, m−1) equi-join;
    // churned identity from the m−1 KEY lookup, NULL-on-zero quick ratio
    "q_growth_accounting" ->
      """WITH um AS (
        |  SELECT DISTINCT user_id,
        |    CAST(FLOOR((CAST(ts AS DATE) - DATE '2000-01-03') / 7.0)
        |      AS BIGINT) AS m
        |  FROM events
        |), fm AS (
        |  SELECT user_id, MIN(m) AS fm FROM um GROUP BY user_id
        |), flags AS (
        |  SELECT um.m,
        |    CASE WHEN um.m = fm.fm THEN 1 ELSE 0 END AS is_new,
        |    CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END AS ret
        |  FROM um JOIN fm USING (user_id)
        |  LEFT JOIN um p ON p.user_id = um.user_id AND p.m = um.m - 1
        |), counts AS (
        |  SELECT m, CAST(COUNT(*) AS BIGINT) AS active,
        |    CAST(SUM(is_new) AS BIGINT) AS new_users,
        |    CAST(SUM(ret) AS BIGINT) AS retained,
        |    CAST(SUM(CASE WHEN is_new = 0 AND ret = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS resurrected
        |  FROM flags GROUP BY m
        |)
        |SELECT c.m AS week_idx, c.active, c.new_users, c.retained,
        |  c.resurrected,
        |  CAST(COALESCE(p.active, 0) - c.retained AS BIGINT) AS churned,
        |  FLOOR(CAST(c.new_users + c.resurrected AS DOUBLE)
        |    / CAST(COALESCE(p.active, 0) - c.retained AS DOUBLE)
        |    * 10000.0 + 0.500001) / 10000.0 AS quick_ratio
        |FROM counts c LEFT JOIN counts p ON p.m = c.m - 1
        |ORDER BY week_idx""".stripMargin,

    "q_funnel" ->
      """WITH v AS (
        |  SELECT user_id, min(ts) AS v_ts FROM events
        |  WHERE event_type = 'view' GROUP BY 1
        |), c AS (
        |  SELECT e.user_id, min(e.ts) AS c_ts FROM events e
        |  JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.v_ts GROUP BY 1
        |), p AS (
        |  SELECT e.user_id, min(e.ts) AS p_ts FROM events e
        |  JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.c_ts GROUP BY 1
        |)
        |SELECT
        |  (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events) AS n_users,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n_view,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_click,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_purchase,
        |  FLOOR(((SELECT CAST(COUNT(*) AS DOUBLE) FROM c) /
        |    (SELECT COUNT(*) FROM v)) * 100.0 + 0.500001) / 100.0 AS view_to_click,
        |  FLOOR(((SELECT CAST(COUNT(*) AS DOUBLE) FROM p) /
        |    (SELECT COUNT(*) FROM c)) * 100.0 + 0.500001) / 100.0 AS click_to_purchase""".stripMargin,

    "q_new_vs_returning" ->
      """WITH m AS (
        |  SELECT o_custkey,
        |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS mi
        |  FROM orders
        |), f AS (
        |  SELECT o_custkey, mi,
        |    min(mi) OVER (PARTITION BY o_custkey) AS first_mi
        |  FROM m
        |)
        |SELECT mi,
        |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS active,
        |  CAST(COUNT(DISTINCT CASE WHEN mi = first_mi THEN o_custkey END)
        |    AS BIGINT) AS new_customers,
        |  CAST(COUNT(DISTINCT o_custkey)
        |    - COUNT(DISTINCT CASE WHEN mi = first_mi THEN o_custkey END)
        |    AS BIGINT) AS returning
        |FROM f GROUP BY mi ORDER BY mi""".stripMargin,

    "q_time_to_convert" ->
      """WITH v AS (
        |  SELECT user_id, min(ts) AS v_ts FROM events
        |  WHERE event_type = 'view' GROUP BY 1
        |), p AS (
        |  SELECT e.user_id,
        |    min(CAST(FLOOR(extract(epoch FROM e.ts)) AS BIGINT)) AS p_sec,
        |    max(CAST(FLOOR(extract(epoch FROM v.v_ts)) AS BIGINT)) AS v_sec
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > v.v_ts GROUP BY 1
        |), d AS (
        |  SELECT (p_sec - v_sec) / 3600.0 AS hours FROM p
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
        |  FLOOR((quantile_cont(hours, 0.5)) * 100.0 + 0.500001) / 100.0
        |    AS median_hours,
        |  FLOOR((quantile_cont(hours, 0.9)) * 100.0 + 0.500001) / 100.0
        |    AS p90_hours
        |FROM d""".stripMargin,

    "q_rfm_segments" ->
      """WITH f AS (
        |  SELECT o_custkey,
        |    CAST(date_diff('day', CAST(max(o_orderdate) AS DATE),
        |      DATE '2001-09-01') AS DOUBLE) AS rec,
        |    CAST(COUNT(*) AS DOUBLE) AS freq,
        |    CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT))
        |      AS DOUBLE) / 100.0 / CAST(COUNT(*) AS DOUBLE) AS mon
        |  FROM orders GROUP BY 1
        |), cuts AS (
        |  SELECT quantile_cont(rec, [0.2,0.4,0.6,0.8]) AS rc,
        |    quantile_cont(freq, [0.2,0.4,0.6,0.8]) AS fc,
        |    quantile_cont(mon, [0.2,0.4,0.6,0.8]) AS mc
        |  FROM f
        |), sc AS (
        |  SELECT 6 - (1 + len(list_filter(rc, x -> rec > x))) AS r_score,
        |    1 + len(list_filter(fc, x -> freq > x)) AS f_score,
        |    1 + len(list_filter(mc, x -> mon > x)) AS m_score,
        |    mon
        |  FROM f, cuts
        |)
        |SELECT CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS segment,
        |  CAST(r_score AS BIGINT) AS r_score, CAST(f_score AS BIGINT) AS f_score,
        |  CAST(m_score AS BIGINT) AS m_score,
        |  CAST(COUNT(*) AS BIGINT) AS n_customers,
        |  FLOOR((CAST(SUM(CAST(FLOOR(mon * 10000.0 + 0.500001) AS BIGINT))
        |      AS DOUBLE) / 10000.0 / CAST(COUNT(*) AS DOUBLE))
        |    * 100.0 + 0.500001) / 100.0 AS avg_monetary
        |FROM sc GROUP BY 1, 2, 3, 4 ORDER BY segment""".stripMargin,

    // both rankings recomputed from the same three dot products, in the
    // same index order, so ranks and the 2-term RRF sum agree exactly
    "q_rrf_fusion" ->
      """WITH q AS (
        |  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
        |), s AS (
        |  SELECT vec_id,
        |    list_dot_product(embedding::DOUBLE[], qv)
        |      / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
        |         * sqrt(list_dot_product(qv, qv))) AS cos,
        |    list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])
        |      - 2 * list_dot_product(embedding::DOUBLE[], qv)
        |      + list_dot_product(qv, qv) AS d2
        |  FROM embeddings, q WHERE vec_id > 0
        |), a AS (
        |  SELECT vec_id, row_number() OVER (ORDER BY cos DESC, vec_id) AS rank_a
        |  FROM s ORDER BY cos DESC, vec_id LIMIT 50
        |), b AS (
        |  SELECT vec_id, row_number() OVER (ORDER BY d2 ASC, vec_id) AS rank_b
        |  FROM s ORDER BY d2 ASC, vec_id LIMIT 50
        |)
        |SELECT CAST(COALESCE(a.vec_id, b.vec_id) AS BIGINT) AS vec_id,
        |  CAST(COALESCE(rank_a, 0) AS BIGINT) AS rank_a,
        |  CAST(COALESCE(rank_b, 0) AS BIGINT) AS rank_b,
        |  FLOOR((COALESCE(1.0 / (60 + rank_a), 0)
        |    + COALESCE(1.0 / (60 + rank_b), 0)) * 1000000.0 + 0.500001)
        |    / 1000000.0 AS rrf
        |FROM a FULL OUTER JOIN b ON a.vec_id = b.vec_id
        |ORDER BY rrf DESC, vec_id LIMIT 20""".stripMargin,

    // dim pinned at 64 (the fixture contract, TESTDATA.md); the Spark side
    // reads the true array length, so a dim change fails loudly here first
    "q_embed_centroid" ->
      """WITH comp AS (
        |  SELECT label, i, AVG(CAST(embedding[i] AS DOUBLE)) AS m
        |  FROM embeddings, range(1, 65) t(i) GROUP BY 1, 2
        |), cent AS (
        |  SELECT label, list(m ORDER BY i) AS centroid FROM comp GROUP BY label
        |), sc AS (
        |  SELECT e.label,
        |    list_dot_product(e.embedding::DOUBLE[], c.centroid)
        |      / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
        |         * sqrt(list_dot_product(c.centroid, c.centroid))) AS cos
        |  FROM embeddings e JOIN cent c USING (label)
        |)
        |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |  FLOOR((AVG(cos)) * 10000.0 + 0.500001) / 10000.0 AS avg_cos,
        |  FLOOR((MIN(cos)) * 10000.0 + 0.500001) / 10000.0 AS min_cos
        |FROM sc GROUP BY label ORDER BY label""".stripMargin,

    "q_gini" ->
      """WITH pc AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT))
        |      AS BIGINT) AS x
        |  FROM orders GROUP BY o_custkey
        |), ranked AS (
        |  SELECT x,
        |    CAST(row_number() OVER (ORDER BY x, o_custkey) AS BIGINT) AS rank,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS n
        |  FROM pc
        |), g AS (
        |  SELECT CAST(MAX(n) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
        |    CAST(SUM(rank * x) AS BIGINT) AS srx,
        |    CAST(SUM(CASE WHEN rank * 10 > n * 9 THEN x ELSE 0 END) AS BIGINT)
        |      AS top
        |  FROM ranked
        |)
        |SELECT n AS n_customers, sx / 100 AS total_rev,
        |  FLOOR((2.0 * srx / (n * CAST(sx AS DOUBLE))
        |    - CAST(n + 1 AS DOUBLE) / n) * 1000000.0 + 0.500001)
        |    / 1000000.0 AS gini,
        |  FLOOR(CAST(top AS DOUBLE) / sx * 1000000.0 + 0.500001)
        |    / 1000000.0 AS top10_share
        |FROM g""".stripMargin,

    // same integer moments, same mu/rat double-op order, every ln term
    // micro-quantized (1e-6 customer / 1e-9 nation) before its exact sum
    "q_theil_index" ->
      """WITH pc AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT))
        |      AS BIGINT) AS x
        |  FROM orders GROUP BY o_custkey
        |  HAVING SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT))
        |    > 0
        |), xc AS (
        |  SELECT c.c_nationkey AS nk, pc.x
        |  FROM pc JOIN customer c ON pc.o_custkey = c.c_custkey
        |), g0 AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx
        |  FROM xc
        |), gn AS (
        |  SELECT nk, CAST(COUNT(*) AS BIGINT) AS ng,
        |    CAST(SUM(x) AS BIGINT) AS sxg
        |  FROM xc GROUP BY nk
        |), tm AS (
        |  SELECT xc.nk, g0.n, g0.sx, gn.ng, gn.sxg, xc.x,
        |    CAST(g0.sx AS DOUBLE) / CAST(g0.n AS DOUBLE) AS mu,
        |    CAST(gn.sxg AS DOUBLE) / CAST(gn.ng AS DOUBLE) AS mug
        |  FROM xc CROSS JOIN g0 JOIN gn ON xc.nk = gn.nk
        |), tr AS (
        |  SELECT nk, n, sx, ng, sxg,
        |    CAST(x AS DOUBLE) / mu AS rat, CAST(x AS DOUBLE) / mug AS ratg
        |  FROM tm
        |), terms AS (
        |  SELECT nk, n, sx, ng, sxg,
        |    CAST(FLOOR(rat * ln(rat) * 1000000.0 + 0.500001) AS HUGEINT)
        |      AS tt,
        |    CAST(FLOOR(-ln(rat) * 1000000.0 + 0.500001) AS HUGEINT) AS tl,
        |    CAST(FLOOR(ratg * ln(ratg) * 1000000.0 + 0.500001) AS HUGEINT)
        |      AS tw
        |  FROM tr
        |), bn0 AS (
        |  SELECT nk, ng, sxg, n, sx, CAST(SUM(tw) AS HUGEINT) AS swg
        |  FROM terms GROUP BY 1, 2, 3, 4, 5
        |), bn AS (
        |  SELECT
        |    CAST(sxg AS DOUBLE) / CAST(sx AS DOUBLE) AS sg,
        |    CAST(swg AS DOUBLE) / 1000000.0 / CAST(ng AS DOUBLE) AS tg,
        |    CAST(sxg AS DOUBLE) / CAST(ng AS DOUBLE) AS mug,
        |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mu
        |  FROM bn0
        |), bterms AS (
        |  SELECT
        |    CAST(FLOOR(sg * tg * 1000000000.0 + 0.500001) AS HUGEINT)
        |      AS wterm,
        |    CAST(FLOOR(sg * ln(mug / mu) * 1000000000.0 + 0.500001)
        |      AS HUGEINT) AS bterm
        |  FROM bn
        |), parts AS (
        |  SELECT CAST(SUM(wterm) AS HUGEINT) AS w,
        |    CAST(SUM(bterm) AS HUGEINT) AS btw
        |  FROM bterms
        |), tot AS (
        |  SELECT n, sx, CAST(SUM(tt) AS HUGEINT) AS stt,
        |    CAST(SUM(tl) AS HUGEINT) AS stl
        |  FROM terms GROUP BY n, sx
        |)
        |SELECT n AS n_customers, sx / 100 AS total_rev,
        |  FLOOR(CAST(stt AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE)
        |    * 1000000.0 + 0.500001) / 1000000.0 AS theil_t,
        |  FLOOR(CAST(stl AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE)
        |    * 1000000.0 + 0.500001) / 1000000.0 AS theil_l,
        |  FLOOR(CAST(btw AS DOUBLE) / 1000000000.0 * 1000000.0 + 0.500001)
        |    / 1000000.0 AS theil_between,
        |  FLOOR(CAST(w AS DOUBLE) / 1000000000.0 * 1000000.0 + 0.500001)
        |    / 1000000.0 AS theil_within
        |FROM tot CROSS JOIN parts""".stripMargin,

    // deliberately the INDEPENDENT all-pairs dominance definition — if the
    // engine's prefix-max factorization mishandles any tie case, the two
    // formulations disagree and the hash gate goes red
    "q_skyline" ->
      """SELECT p_partkey, p_retailprice AS price, CAST(p_size AS BIGINT) AS size
        |FROM part p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part q
        |  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        |    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
        |ORDER BY p_partkey""".stripMargin,

    // identical cents census, (rev DESC, part) top-20 per period, and the
    // exact full-outer overlap algebra
    "q_topk_churn" ->
      """WITH pp AS (
        |  SELECT l_partkey AS part,
        |    CAST(CASE WHEN CAST(l_shipdate AS DATE) >= DATE '1998-01-01'
        |      THEN 1 ELSE 0 END AS BIGINT) AS period,
        |    CAST(SUM(CAST(FLOOR(l_extendedprice * 100.0 + 0.500001)
        |      AS BIGINT)) AS BIGINT) AS rev
        |  FROM lineitem GROUP BY 1, 2
        |), top AS (
        |  SELECT * FROM (
        |    SELECT part, period,
        |      ROW_NUMBER() OVER (PARTITION BY period
        |        ORDER BY rev DESC, part) AS rk
        |    FROM pp) WHERE rk <= 20
        |), j AS (
        |  SELECT COALESCE(a.part, b.part) AS part, a.rk AS rk_a, b.rk AS rk_b
        |  FROM (SELECT part, rk FROM top WHERE period = 0) a
        |  FULL JOIN (SELECT part, rk FROM top WHERE period = 1) b
        |    ON a.part = b.part
        |)
        |SELECT
        |  CAST(SUM(CASE WHEN rk_a IS NOT NULL AND rk_b IS NOT NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
        |  CAST(COUNT(*) AS BIGINT) AS n_union,
        |  FLOOR(CAST(SUM(CASE WHEN rk_a IS NOT NULL AND rk_b IS NOT NULL
        |      THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
        |    * 1000000.0 + 0.500001) / 1000000.0 AS jaccard,
        |  CAST(SUM(CASE WHEN rk_a IS NOT NULL AND rk_b IS NOT NULL
        |    THEN ABS(rk_a - rk_b) ELSE 0 END) AS BIGINT)
        |    AS rank_displacement,
        |  CAST(SUM(CASE WHEN rk_a IS NOT NULL THEN 1 ELSE 0 END)
        |    - SUM(CASE WHEN rk_a IS NOT NULL AND rk_b IS NOT NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS churned_out
        |FROM j""".stripMargin,

    // identical segment cells, single exact-integer rate divisions, and
    // the same sign algebra on r6-rounded diffs
    "q_simpsons_paradox" ->
      """WITH cells AS (
        |  SELECT c.c_mktsegment AS segment,
        |    CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_u,
        |    CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      AND o.o_totalprice > 240000.0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS hv_u,
        |    CAST(SUM(CASE WHEN o.o_orderpriority NOT IN
        |      ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        |    CAST(SUM(CASE WHEN o.o_orderpriority NOT IN
        |      ('1-URGENT', '2-HIGH') AND o.o_totalprice > 240000.0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS hv_o
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1
        |), d AS (
        |  SELECT *,
        |    FLOOR((CASE WHEN n_u > 0
        |        THEN CAST(hv_u AS DOUBLE) / CAST(n_u AS DOUBLE) END
        |      - CASE WHEN n_o > 0
        |        THEN CAST(hv_o AS DOUBLE) / CAST(n_o AS DOUBLE) END)
        |      * 1000000.0 + 0.500001) / 1000000.0 AS stratum_diff,
        |    FLOOR((CASE WHEN SUM(n_u) OVER () > 0
        |        THEN CAST(SUM(hv_u) OVER () AS DOUBLE)
        |          / CAST(SUM(n_u) OVER () AS DOUBLE) END
        |      - CASE WHEN SUM(n_o) OVER () > 0
        |        THEN CAST(SUM(hv_o) OVER () AS DOUBLE)
        |          / CAST(SUM(n_o) OVER () AS DOUBLE) END)
        |      * 1000000.0 + 0.500001) / 1000000.0 AS pooled_diff
        |  FROM cells
        |)
        |SELECT segment, n_u, hv_u, n_o, hv_o, stratum_diff, pooled_diff,
        |  CAST(CASE WHEN MAX(SIGN(stratum_diff)) OVER ()
        |      = MIN(SIGN(stratum_diff)) OVER ()
        |    AND SIGN(pooled_diff) != MAX(SIGN(stratum_diff)) OVER ()
        |    THEN 1 ELSE 0 END AS BIGINT) AS paradox
        |FROM d ORDER BY segment""".stripMargin,

    // identical custkey-tie-broken ranks and the same exact (a+b)/2
    // reference profile — integer cents end-to-end, one exact division
    "q_quantile_normalize" ->
      """WITH feats AS (
        |  SELECT o_custkey AS custkey,
        |    CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE) < DATE '1998-01-01'
        |      THEN CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS m1,
        |    CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE) >= DATE '1998-01-01'
        |      THEN CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS m2
        |  FROM orders GROUP BY 1
        |), ranked AS (
        |  SELECT custkey, m1, m2,
        |    ROW_NUMBER() OVER (ORDER BY m1, custkey) AS r1,
        |    ROW_NUMBER() OVER (ORDER BY m2, custkey) AS r2
        |  FROM feats
        |), ref AS (
        |  SELECT a.r1 AS r, CAST(a.m1 + b.m2 AS DOUBLE) / 2.0 AS ref
        |  FROM ranked a JOIN ranked b ON a.r1 = b.r2
        |)
        |SELECT k.custkey, k.m1, k.m2,
        |  CAST(k.r1 AS BIGINT) AS rank1, CAST(k.r2 AS BIGINT) AS rank2,
        |  f1.ref / 100.0 AS qn_m1, f2.ref / 100.0 AS qn_m2
        |FROM ranked k
        |JOIN ref f1 ON f1.r = k.r1
        |JOIN ref f2 ON f2.r = k.r2
        |ORDER BY custkey""".stripMargin)
}
