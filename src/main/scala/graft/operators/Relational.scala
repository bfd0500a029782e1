package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.LongType
import graft.io.Sources.{table => t}
import graft.text.TextOps
import graft.functions.ColumnOps
import graft.functions.ColumnOps.{r2, r4, r6}

/** The standard relational operator surface (SURVEY §2.2–§2.8) expressed
  * over the testdata star schema, one named query per operator family, each
  * with a DuckDB-equivalent oracle SQL string.
  *
  * Conventions for oracle parity (the driver sorts columns by name and
  * hashes values):
  *  - every computed integer column is cast to BIGINT on both sides;
  *  - every double aggregate is rounded to 2 (or 4) decimals on both sides;
  *  - every query ends in a deterministic ORDER BY with a unique tie-break;
  *  - ROLLUP/CUBE null rows use NULLS FIRST ordering on both sides.
  *
  * Scale notes are attached per query; the common theme: group-by keys are
  * the natural shuffle keys, dimension tables are broadcast, and filters/
  * projections sit directly on the parquet scan so pushdown applies.
  */
object Relational {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- flagship: RFM-T features (A1, E1–E5, P2) --------------------------
    // One hash-agg shuffle on the customer key; partial agg map-side.
    "q_rfm_features" -> ((s, dir) => {
      Rfm.customerFeatures(t(s, dir, "orders"), to_date(lit("2001-08-02")),
          "o_custkey", "o_orderdate", "o_totalprice")
        .withColumn("monetary_value", r2(col("monetary_value")))
        .orderBy("customer_id")
    }),

    // ---- projection + filter (P1/P2/P5) — fully pushed into the scan ------
    "q_filter_project" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_quantity") > 25 && col("l_discount") > 0.02)
        .select(col("l_orderkey"), col("l_linenumber").cast(LongType).as("l_linenumber"),
          r2(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // ---- casts + renames (P3/P4/P9) ---------------------------------------
    "q_cast_rename" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          floor(col("o_totalprice")).cast(LongType).as("price_int"),
          lower(col("o_orderpriority")).as("priority"))
        .orderBy("o_orderkey")
    }),

    // ---- conditional projection / clamp (P7/P8, E10/E11) ------------------
    "q_conditional_flags" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          when(col("o_totalprice") > 150000.0, 1L).otherwise(0L).as("big_flag"),
          r2(greatest(col("o_totalprice") - 100000.0, lit(0.0))).as("over_base"))
        .orderBy("o_orderkey")
    }),

    // ---- global aggregates (A2/A3/A6/A8) — single partial+final agg -------
    "q_global_agg" -> ((s, dir) => {
      // exact-cents sums (r13 discipline): a corpus-sized double sum is
      // summation-order-dependent, and past ~1e13 its ulp rivals the r2
      // grid — the q_rollup failure mode at 10× data
      val cents = ColumnOps.cents(col("o_totalprice"))
      t(s, dir, "orders").agg(
        max(col("o_custkey")).as("max_cust"),
        count(lit(1)).as("n_rows"),
        countDistinct(col("o_custkey")).as("n_cust"),
        r2(sum(cents).cast("double") / lit(100.0)
          / count(lit(1)).cast("double")).as("avg_price"),
        r2(sum(cents).cast("double") / lit(100.0)).as("sum_price"))
    }),

    // ---- filtered counts, firewall-style (A4/P6) --------------------------
    "q_filtered_count" -> ((s, dir) => {
      t(s, dir, "lineitem").agg(
        sum(when(col("l_quantity") < 0 || col("l_extendedprice") < 0 || col("l_discount") < 0, 1L)
          .otherwise(0L)).as("n_violations"),
        sum(when(col("l_discount") > 0.05, 1L).otherwise(0L)).as("n_highdisc"))
    }),

    // ---- grouped aggregation, TPC-H Q1 shape (A1/A7) ----------------------
    "q_group_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= to_date(lit("1998-09-02")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        // price sums in exact integer units (cents; cents×basis-points
        // for the discounted price — decimal(38,0) sum, sf100-proof):
        // the corpus-sized double sums were order-dependent at 10× data.
        // quantity is integer-valued, so its double sum is exact as-is.
        .agg(
          r2(sum(col("l_quantity"))).as("sum_qty"),
          r2(sum(ColumnOps.cents(col("l_extendedprice"))).cast("double")
            / lit(100.0)).as("sum_base_price"),
          r2(sum((ColumnOps.cents(col("l_extendedprice")) *
            (lit(10000L) - floor(col("l_discount") * lit(10000.0)
              + lit(0.500001)).cast("long"))).cast("decimal(38,0)"))
            .cast("double") / lit(1000000.0)).as("sum_disc_price"),
          r2(avg(col("l_quantity"))).as("avg_qty"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // ---- joins (J1/J2 + harness surface) ----------------------------------
    // customer grows with scale factor — no forced broadcast; AQE +
    // autoBroadcastJoinThreshold pick broadcast vs shuffle at runtime.
    "q_join_inner" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"), "inner")
        .groupBy(col("c_mktsegment"))
        // exact-cents sum — the q_rollup r13 discipline (5-cell sums over
        // a corpus-sized double column are order-dependent past ~sf1)
        .agg(count(lit(1)).as("n_orders"),
          (sum(ColumnOps.cents(col("o_totalprice"))).cast("double")
            / lit(100.0)).as("revenue"))
        .orderBy("c_mktsegment")
    }),

    "q_join_left" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          r2(coalesce(sum(col("o_totalprice")), lit(0.0))).as("spend"))
        .orderBy("c_custkey")
    }),

    // full outer: both unmatched sides survive with NULL keys — summarized
    // to side-presence counts so the result is compact and deterministic
    "q_join_full" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"))
      val o = t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"))
      c.join(o, c("c_custkey") === o("o_custkey"), "full")
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("order_only"),
          sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("customer_only"),
          sum(when(col("c_custkey").isNotNull && col("o_custkey").isNotNull, 1L)
            .otherwise(0L)).as("matched"))
    }),

    "q_join_semi" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val big = t(s, dir, "orders").filter(col("o_totalprice") > 200000.0)
      c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    }),

    "q_join_anti" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    }),

    // Star join: fact lineitem ⋈ orders (shuffle); nation/region are
    // fixed-size dims → broadcast; customer scales with SF → let AQE decide.
    "q_join_star" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        // exact cents×basis-points revenue — the q_group_agg r13 idiom
        .agg(r2(sum((floor(col("l_extendedprice") * lit(100.0)
              + lit(0.500001)).cast("long") *
            (lit(10000L) - floor(col("l_discount") * lit(10000.0)
              + lit(0.500001)).cast("long"))).cast("decimal(38,0)"))
            .cast("double") / lit(1000000.0)).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("r_name", "n_name")
    }),

    // Reference J1: two uncorrelated scalar subqueries → one row.
    "q_scalar_subqueries" -> ((s, dir) => {
      val raw = t(s, dir, "orders").agg(countDistinct(col("o_custkey")).as("raw_count"))
      val feat = t(s, dir, "customer").agg(countDistinct(col("c_custkey")).as("feature_count"))
      raw.crossJoin(feat)
    }),

    // ---- window functions (W1 + ranking/lag surface) ----------------------
    "q_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w).cast(LongType))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), to_date(col("o_orderdate")).as("order_date"), col("rn"))
        .orderBy("o_custkey", "rn", "o_orderkey")
    }),

    // distribution-rank family — ntile/percent_rank/cume_dist: each
    // customer's quartile and exact distribution position within their
    // market segment. The order key is (cents, custkey) — unique, so every
    // rank function is deterministic cross-engine and RANK ≡ ROW_NUMBER;
    // percent_rank = (rank−1)/(n−1) and cume_dist = rank/n are single
    // divisions of exact integers, ntile is Ranks.ntileOf's integer
    // arithmetic. Scale shape (r11): c_mktsegment has FIVE values, so a
    // plain segment-partitioned Window streams ~20% of all customers
    // through ONE task — the last hot-single-task ranking shape in the
    // engine (r10 verdict). Ranks.withPartitionedRank replaces it with the
    // two-level bucket pattern (lane = segment): |segments|·256 uniform
    // ranking tasks, the only ordered window over an aggregate-bounded
    // offsets frame, per-segment counts a 5-row broadcast.
    "q_window_ntile" -> ((s, dir) => {
      val cents = ColumnOps.cents(col("c_acctbal"))
      val base = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("segment"),
          cents.as("v"))
      Ranks.withPartitionedRank(base, col("segment"), col("v"),
          col("c_custkey"), "rk", nOut = "n", checkpoint = false)
        .select(col("c_custkey"), col("segment"),
          Ranks.ntileOf(col("rk"), col("n"), 4).as("quartile"),
          r6(when(col("n") === 1, lit(0.0)).otherwise(
            (col("rk") - 1).cast("double") / (col("n") - 1).cast("double")))
            .as("pct_rank"),
          r6(col("rk").cast("double") / col("n").cast("double")).as("cume"))
        .orderBy("segment", "c_custkey")
    }),

    // frame-bounded first/last: each order annotated with its customer's
    // first and most recent order key (explicit full-frame bounds —
    // last_value over the default frame is the classic silent-wrong-answer)
    "q_window_firstlast" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          first(col("o_orderkey")).over(w).as("first_order"),
          last(col("o_orderkey")).over(w).as("latest_order"))
        .orderBy("o_orderkey")
    }),

    // distribution windows: quartile bucketing + rank fractions — the
    // stratification primitives (e.g. length-quartile corpus splits).
    // percent_rank/cume_dist are exact integer ratios → FP-identical.
    // o_orderstatus has THREE values — the same schema-bounded-small
    // partition key as q_window_ntile, so the same Ranks swap applies
    // (order key (o_totalprice, o_orderkey) is unique → RANK ≡ ROW_NUMBER)
    "q_window_dist" -> ((s, dir) => {
      val base = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      Ranks.withPartitionedRank(base, col("o_orderstatus"),
          col("o_totalprice"), col("o_orderkey"), "rk", nOut = "n", checkpoint = false)
        .select(col("o_orderkey"), col("o_orderstatus"),
          Ranks.ntileOf(col("rk"), col("n"), 4).as("quartile"),
          r4(when(col("n") === 1, lit(0.0)).otherwise(
            (col("rk") - 1).cast("double") / (col("n") - 1).cast("double")))
            .as("pct_rank"),
          r4(col("rk").cast("double") / col("n").cast("double")).as("cdist"))
        .orderBy("o_orderkey")
    }),

    "q_window_running" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          r2(sum(col("o_totalprice")).over(w)).as("running_spend"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    "q_window_lag" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          datediff(to_date(col("o_orderdate")), to_date(lag(col("o_orderdate"), 1).over(w)))
            .cast(LongType).as("gap_days"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // ---- sort / limit / top-k (O1–O3) — TakeOrderedAndProject -------------
    "q_sort_limit" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
    }),

    "q_distinct" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderstatus"), col("o_orderpriority"))
        .distinct()
        .orderBy("o_orderstatus", "o_orderpriority")
    }),

    // ---- set operations (U1/U2) -------------------------------------------
    "q_union" -> ((s, dir) => {
      val a = t(s, dir, "orders").select(col("o_custkey").as("key"))
      val b = t(s, dir, "customer").select(col("c_custkey").as("key"))
      a.unionAll(b).groupBy(col("key")).agg(count(lit(1)).as("n")).orderBy("key")
    }),

    "q_intersect" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"))
      val o = t(s, dir, "orders").select(col("o_custkey").as("c_custkey"))
      c.intersect(o).orderBy("c_custkey")
    }),

    "q_except" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"))
      val o = t(s, dir, "orders").select(col("o_custkey").as("c_custkey"))
      c.except(o).orderBy("c_custkey")
    }),

    // ---- grouping sets ----------------------------------------------------
    "q_rollup" -> ((s, dir) => {
      t(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        // exact-cents sum (r13 sf1 finding): r2(sum(double)) over millions
        // of rows is aggregation-order-dependent — one rollup cell crossed
        // the 0.01 grid at 10× corpus; per-row cents + BIGINT sum is exact
        .agg(count(lit(1)).as("n"),
          (sum(ColumnOps.cents(col("o_totalprice"))).cast("double")
            / lit(100.0)).as("revenue"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    }),

    "q_cube" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), r2(sum(col("l_quantity"))).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    // ---- pivot / unpivot (wide↔long reshaping) ----------------------------
    // Explicit pivot values: with them the plan is ONE hash aggregate (the
    // pivot columns are conditional aggs); without them Spark first runs a
    // distinct-values job over the whole table — never do that at 100 TB.
    "q_pivot" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).cast(LongType).as("o_year"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        // exact-cents sum — the q_rollup r13 discipline
        .agg(r2(sum(ColumnOps.cents(col("o_totalprice"))).cast("double")
          / lit(100.0)))
        .orderBy("o_year")
    }),

    // Unpivot is a per-row expansion (Expand node) — no shuffle at all; the
    // ORDER BY is harness determinism, not part of the operator.
    "q_unpivot" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        // sum_price in exact cents (r13); qty sums and the small-magnitude
        // discount mean are order-exact already (integer-valued / tiny Σ)
        .agg(r2(sum(col("l_quantity"))).as("sum_qty"),
          r2(sum(ColumnOps.cents(col("l_extendedprice"))).cast("double")
            / lit(100.0)).as("sum_price"),
          r4(avg(col("l_discount"))).as("avg_disc"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("sum_qty"), col("sum_price"), col("avg_disc")),
          "metric", "value")
        .orderBy("l_returnflag", "metric")
    }),

    // ---- array construction + HOFs ----------------------------------------
    // collect_list is made deterministic by array_sort (collection order is
    // partition-dependent; the sorted array is not). Scalars out, arrays
    // internal — the harness compare can't hash list columns.
    "q_array_funcs" -> ((s, dir) => {
      val arr = array_sort(collect_list(col("o_totalprice")))
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(arr.as("arr"))
        .select(col("o_custkey"),
          size(col("arr")).cast(LongType).as("n_orders"),
          r2(element_at(col("arr"), 1)).as("min_total"),
          r2(element_at(col("arr"), -1)).as("max_total"),
          r2(aggregate(slice(reverse(col("arr")), 1, 3), lit(0.0), _ + _)).as("top3_sum"))
        .orderBy("o_custkey")
    }),

    // ---- arbitrary grouping-set combinations (beyond rollup/cube) ---------
    // one Expand over exactly the requested sets (3 here, vs cube's 2^k)
    "q_grouping_sets" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderstatus")), Seq.empty),
          col("o_orderstatus"), col("o_orderpriority"))
        // exact-cents sum — the q_rollup r13 discipline
        .agg(count(lit(1)).as("n"),
          (sum(ColumnOps.cents(col("o_totalprice"))).cast("double")
            / lit(100.0)).as("revenue"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    }),

    // ---- map type construction + lookup -----------------------------------
    // maps stay internal (the harness compare can't hash map columns);
    // scalars out via element_at / size / array_contains(map_keys)
    "q_map_funcs" -> ((s, dir) => {
      val meta = map(lit("status"), col("o_orderstatus"),
        lit("priority"), col("o_orderpriority"))
      t(s, dir, "orders")
        .select(col("o_orderkey"), meta.as("meta"))
        .select(col("o_orderkey"),
          element_at(col("meta"), "status").as("status"),
          element_at(col("meta"), "priority").as("priority"),
          size(col("meta")).cast(LongType).as("n_keys"),
          array_contains(map_keys(col("meta")), "status").cast(LongType).as("has_status"))
        .orderBy("o_orderkey")
    }),

    // ---- date/time scalar functions (E1–E8) -------------------------------
    "q_date_funcs" -> ((s, dir) => {
      t(s, dir, "orders").select(
          col("o_orderkey"),
          year(col("o_orderdate")).cast(LongType).as("yr"),
          month(col("o_orderdate")).cast(LongType).as("mon"),
          dayofmonth(col("o_orderdate")).cast(LongType).as("dom"),
          quarter(col("o_orderdate")).cast(LongType).as("qtr"),
          to_date(date_trunc("month", col("o_orderdate"))).as("month_start"),
          datediff(to_date(lit("2001-08-02")), to_date(col("o_orderdate"))).cast(LongType).as("age_days"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("fmt_date"))
        .orderBy("o_orderkey")
    }),

    // ---- approximate distinct (the 100 TB opt-in variant of A3) -----------
    // rows-only: HLL estimates are engine-specific; the spec asserts the
    // estimate lands within the published error bound of the exact count.
    // the sketch value itself is engine-specific (HLL++ register layout), so
    // what the oracle verifies is the semantic contract: the estimate lands
    // within a 5σ envelope of the exact count (rsd 0.02 → 10% band). Both
    // the exact count and the flag are DuckDB-reproducible.
    "q_approx_distinct" -> ((s, dir) => {
      t(s, dir, "orders").agg(
          approx_count_distinct(col("o_custkey"), rsd = 0.02).as("approx_cust"),
          countDistinct(col("o_custkey")).as("exact_cust"))
        .select(col("exact_cust"),
          (abs(col("approx_cust") - col("exact_cust")).cast("double") /
            col("exact_cust") <= 0.10).cast("long").as("approx_within_10pct"))
    }),

    // ---- exact percentiles / median ---------------------------------------
    "q_percentile" -> ((s, dir) => {
      // array-form percentile: both quantiles share ONE aggregation buffer
      // (one sort per group), instead of two independent percentile aggs
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(expr("percentile(o_totalprice, array(0.5, 0.9))").as("p"))
        .select(col("o_orderstatus"),
          r2(element_at(col("p"), 1)).as("median_price"),
          r2(element_at(col("p"), 2)).as("p90_price"))
        .orderBy("o_orderstatus")
    }),

    // ---- weighted quantile ------------------------------------------------
    // Token-weighted length percentiles per source: "how long is the doc
    // the median TOKEN lives in" — the curation question plain quantiles
    // get wrong when long docs dominate token mass. Exact by definition:
    // sort by (value, id) inside each source, running token cumsum, the
    // q-quantile is the first value whose cumw reaches q·W. Weights are
    // integer token counts, so cumw and W are LONGS and the only float op
    // is q·W — one multiply, bit-identical cross-engine; no interpolation
    // anywhere. Scale: both windows and the final aggregate share the ONE
    // source-keyed Exchange; a skewed source salts like q_salted_agg.
    "q_weighted_quantile" -> ((s, dir) => {
      val w = size(TextOps.tokens(col("text"))).cast("long")
      val bySrc = Window.partitionBy(col("source"))
      val cum = bySrc.orderBy(col("n_chars"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "documents")
        .select(col("source"), col("n_chars"), col("doc_id"), w.as("w"))
        .select(col("source"), col("n_chars"),
          sum(col("w")).over(cum).as("cumw"),
          sum(col("w")).over(bySrc).as("tw"))
        .groupBy("source")
        .agg(max(col("tw")).as("total_tokens"),
          min(when(col("cumw") >= col("tw") * lit(0.5), col("n_chars")))
            .as("p50_weighted"),
          min(when(col("cumw") >= col("tw") * lit(0.9), col("n_chars")))
            .as("p90_weighted"))
        .orderBy("source")
    }),

    // ---- approximate percentile (the 100 TB opt-in variant) ---------------
    // same envelope pattern as q_approx_distinct: the t-digest-style value
    // is engine-specific; what the oracle verifies is exact quantiles plus
    // the contract that the sketch lands within 1% of them
    "q_approx_percentile" -> ((s, dir) => {
      // each percentile/sketch evaluated ONCE in the aggregate (r5 VERDICT:
      // the earlier form listed percentile(0.5) twice — bare and r2-wrapped
      // — leaning on Catalyst's aggregate dedup; rounding now happens in
      // the projection above the aggregate, where single evaluation is
      // guaranteed by construction, not by optimizer behavior). Spark's
      // multi-percentile form computes both quantiles from one buffer.
      t(s, dir, "orders").agg(
          expr("percentile(o_totalprice, array(0.5, 0.95))").as("ex"),
          expr("approx_percentile(o_totalprice, array(0.5, 0.95), 10000)").as("ap"))
        .select(
          r2(element_at(col("ex"), 1)).as("exact_median"),
          r2(element_at(col("ex"), 2)).as("exact_p95"),
          when(abs(element_at(col("ap"), 1) - element_at(col("ex"), 1))
            / element_at(col("ex"), 1) < 0.01, 1L).otherwise(0L)
            .as("median_within_1pct"),
          when(abs(element_at(col("ap"), 2) - element_at(col("ex"), 2))
            / element_at(col("ex"), 2) < 0.01, 1L).otherwise(0L)
            .as("p95_within_1pct"))
    }),

    // ---- grouped approximate percentile -----------------------------------
    // Per-group median, exact + sketch, in ONE aggregate pass: the grouped
    // variant of q_approx_percentile (same envelope contract — exact value
    // hash-matched, sketch certified within 1%). At 100 TB the production
    // path is approx_percentile alone: its t-digest buffers are MERGEABLE,
    // so partial aggregation survives (the shuffle carries |groups|
    // sketches, not rows), where exact percentile must haul every value of
    // a group to one reducer. The exact branch here exists for the oracle
    // anchor, exactly like q_approx_percentile's.
    "q_group_percentile" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n"),
          expr("percentile(o_totalprice, 0.5)").as("ex"),
          expr("approx_percentile(o_totalprice, 0.5, 10000)").as("ap"))
        .select(col("o_orderpriority"), col("n"),
          r2(col("ex")).as("exact_median"),
          // 3% band, not 1%: with a few hundred rows per group (sf0.001)
          // the exact median INTERPOLATES between two samples while the
          // sketch returns one of them — measured worst gap 1.1% there,
          // 0.06% at the sf0.01 oracle gate, 3e-5 at sf0.1
          when(abs(col("ap") - col("ex")) / col("ex") < 0.03, 1L)
            .otherwise(0L).as("median_within_3pct"))
        .orderBy("o_orderpriority")
    }),

    // ---- string scalar functions ------------------------------------------
    "q_string_funcs" -> ((s, dir) => {
      t(s, dir, "customer").select(
          col("c_custkey"),
          upper(col("c_name")).as("name_upper"),
          length(col("c_name")).cast(LongType).as("name_len"),
          substring(col("c_name"), 1, 8).as("name_prefix"),
          concat_ws("-", col("c_mktsegment"), col("c_name")).as("seg_name"))
        .orderBy("c_custkey")
    }),

    // ---- JSON scalar ops on events.props ----------------------------------
    "q_json_extract" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("k_val", get_json_object(col("props"), "$.k").cast(LongType))
        .groupBy(col("event_type"))
        .agg(sum(col("k_val")).as("sum_k"), count(lit(1)).as("n"),
          r2(sum(col("value"))).as("sum_value"))
        .orderBy("event_type")
    }),

    // ---- event-time bucketing (tumbling window, batch form) ---------------
    "q_time_bucket" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour_start"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          r2(sum(col("value"))).as("sum_value"))
        .orderBy("hour_start")
    }),

    // ---- grouped approximate distinct (mergeable-sketch envelope) ---------
    // HLL per group: the sketches merge associatively across partitions, so
    // the plan is one partial-aggregated shuffle regardless of group count
    // or cardinality — the 100 TB replacement for per-group exact distinct.
    // Envelope contract: exact value emitted, approx within 10%.
    "q_approx_group_distinct" -> ((s, dir) => {
      t(s, dir, "events").groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users"),
          approx_count_distinct(col("user_id"), 0.02).as("approx"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx") - col("exact_users")) <= col("exact_users") * 0.1)
            .cast(LongType).as("within_10pct"))
        .orderBy("event_type")
    }),

    // ---- time-series gap fill / resample (beyond reference) ---------------
    // Resample per-user activity onto the full daily calendar: observed
    // days aggregate once; the grid is each user crossed with the bounded
    // global day range (broadcast 1-row bounds, sequence+explode — days
    // are bounded by the calendar, users scale out); missing days
    // forward-fill from the last observation via an ignoreNulls carry
    // window partitioned by user (high-cardinality partitions, no hot
    // task). The standard resample→ffill treatment time-series stores
    // apply, expressed as one join + one window.
    "q_gap_fill" -> ((s, dir) => {
      val e = t(s, dir, "events")
      // ONE corpus scan: bounds and the user list both derive from the
      // (users × active days)-sized daily aggregate, which is cached so
      // its three readers don't re-run the corpus agg (harness sweeps
      // release the blocks after the query's terminal action)
      val daily = e.groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(r2(sum(col("value"))).as("day_value"))
        .cache()
      val bounds = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      val grid = daily.select(col("user_id")).distinct()
        .crossJoin(broadcast(bounds))
        .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
      val w = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
      grid.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
          coalesce(col("day_value"), lit(0.0)).as("day_value"),
          last(col("day_value"), ignoreNulls = true).over(w).as("ffill_value"),
          col("day_value").isNull.cast(LongType).as("was_gap"))
        .orderBy("user_id", "day")
    }),

    // ---- histogram / fixed-width binning ----------------------------------
    // Plain floor arithmetic (portable; width_bucket is not in DuckDB) —
    // one map-side-combinable aggregation, the at-scale shape of every
    // numeric distribution profile.
    "q_histogram" -> ((s, dir) => {
      val bucket = floor((col("l_quantity") - 1.0) / 5.0).cast(LongType)
      t(s, dir, "lineitem")
        .groupBy(bucket.as("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("l_quantity")).as("lo"), max(col("l_quantity")).as("hi"),
          r2(sum(col("l_extendedprice"))).as("sum_price"))
        .orderBy("bucket")
    }),

    // ---- correlation / covariance / regression bundle ---------------------
    // The co-moment aggregates every profiling pass needs; one pass, one
    // partial-aggregated shuffle. r4 absorbs the streaming-co-moment
    // summation-order ulps between engines.
    "q_corr_stats" -> ((s, dir) => {
      t(s, dir, "lineitem").agg(
        r4(corr(col("l_quantity"), col("l_extendedprice"))).as("corr_qp"),
        r4(covar_samp(col("l_quantity"), col("l_extendedprice"))).as("covar_s"),
        r4(covar_pop(col("l_quantity"), col("l_extendedprice"))).as("covar_p"),
        r4(stddev_samp(col("l_quantity"))).as("sd_q"),
        r4(regr_slope(col("l_extendedprice"), col("l_quantity"))).as("slope"),
        r4(regr_intercept(col("l_extendedprice"), col("l_quantity"))).as("intercept"))
    }),

    // ---- as-of join (time-series operator Spark lacks natively) -----------
    // For each purchase, the latest prior view by the same user — one
    // union + sort + carry window, no pair blowup (see AsOfJoin scaladoc).
    // DuckDB's native ASOF LEFT JOIN is the oracle.
    "q_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("value"))
      AsOfJoin.leftAsOf(purchases, views, "user_id", "ts", "ts", Seq("value"))
        .select(col("event_id"), col("user_id"), r4(col("asof_value")).as("asof_value"))
        .orderBy("event_id")
    }),

    // forward direction: for each purchase, the NEXT view at/after it —
    // same single sort-merge pass, mirrored carry frame (AsOfJoin scaladoc)
    "q_asof_forward" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("value"))
      AsOfJoin.leftAsOfForward(purchases, views, "user_id", "ts", "ts", Seq("value"))
        .select(col("event_id"), col("user_id"), r4(col("asof_value")).as("next_value"))
        .orderBy("event_id")
    }),

    // nearest direction: for each purchase, whichever view is temporally
    // closest (ties go backward) — BOTH carries ride one shuffle+sort
    // pass (AsOfJoin.leftAsOfNearest scaladoc); the oracle is two chained
    // DuckDB ASOF joins + the same µs-distance tie rule
    "q_asof_nearest" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("value"))
      AsOfJoin.leftAsOfNearest(purchases, views, "user_id", "ts", "ts", Seq("value"))
        .select(col("event_id"), col("user_id"),
          r4(col("asof_value")).as("nearest_value"), col("asof_dt_us"))
        .orderBy("event_id")
    }),

    // ---- interval-overlap join (bucketed; see RangeJoin.intervalOverlap) --
    // Price bands × per-order ±500 price windows: every overlapping
    // (band, order) pair via grid-cell equi-join with single-cell pair
    // attribution (no distinct), exact predicate after — vs DuckDB's
    // plain inequality join as the oracle.
    "q_interval_join" -> ((s, dir) => {
      val bands = s.range(0, 250).select(
        col("id").as("band_id"),
        (col("id") * 2000.0).as("lo"),
        (col("id") * 2000.0 + 2999.99).as("hi"))
      val ords = t(s, dir, "orders").select(col("o_orderkey"),
        (col("o_totalprice") - 500.0).as("lo2"),
        (col("o_totalprice") + 500.0).as("hi2"))
      RangeJoin.intervalOverlap(bands, "lo", "hi", ords, "lo2", "hi2",
          bucketWidth = 2000.0)
        .select(col("band_id"), col("o_orderkey"),
          r2(col("lo2") + 500.0).as("price"))
        .orderBy("band_id", "o_orderkey")
    }),

    // ---- exact top-k per group (two-phase bounded heaps; see TopK) --------
    // Top-3 orders by price per priority. The window-rank form sorts every
    // group's every row; TopK shuffles only partitions×groups×k heap
    // survivors (TopK.scala scaladoc) — the 100 TB curation shape
    // ("best k docs per domain").
    "q_topk_per_group" -> ((s, dir) => {
      TopK.topKPerGroup(
          t(s, dir, "orders").select(col("o_orderpriority"), col("o_orderkey"),
            col("o_totalprice")),
          groupCols = Seq("o_orderpriority"), scoreCol = "o_totalprice",
          tieCol = "o_orderkey", k = 3)
        .select(col("o_orderpriority"), col("o_orderkey"),
          r2(col("o_totalprice")).as("price"), col("rank").cast(LongType).as("rank"))
        .orderBy("o_orderpriority", "rank")
    }),

    // ---- range join (bucketed point-in-interval; see RangeJoin) -----------
    // Orders priced into overlapping 4000-wide bands: bucketed equi-join +
    // exact predicate, vs DuckDB's BETWEEN join as the oracle.
    "q_range_join" -> ((s, dir) => {
      val pts = t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      val bands = s.range(0, 100).select(
        col("id").as("band_id"),
        (col("id") * 2000.0).as("lo"),
        (col("id") * 2000.0 + 3999.99).as("hi"))
      RangeJoin.pointInInterval(pts, "o_totalprice", bands, "lo", "hi", 2000.0)
        .groupBy(col("band_id"))
        .agg(count(lit(1)).as("n_orders"), r2(avg(col("o_totalprice"))).as("avg_price"))
        .orderBy("band_id")
    }),

    // ---- salted two-phase aggregation (skew path) -------------------------
    // lineitem's 3 returnflag values are maximal key skew; the salted plan
    // spreads each across 16 sub-keys before merging. The oracle is the
    // PLAIN group-by — same answer, which is the point.
    "q_salted_agg" -> ((s, dir) => {
      Skew.saltedAggregate(t(s, dir, "lineitem"), Seq("l_returnflag"), salts = 16,
        Seq(Skew.AggSpec("sum", "l_quantity", "sum_qty"),
          Skew.AggSpec("count", "l_orderkey", "n"),
          Skew.AggSpec("min", "l_extendedprice", "min_price"),
          Skew.AggSpec("max", "l_extendedprice", "max_price"),
          Skew.AggSpec("avg", "l_quantity", "avg_qty")))
        .select(col("l_returnflag"), r2(col("sum_qty")).as("sum_qty"), col("n"),
          r2(col("min_price")).as("min_price"), r2(col("max_price")).as("max_price"),
          r2(col("avg_qty")).as("avg_qty"))
        .orderBy("l_returnflag")
    }),

    // salted equi-join: the salt must be invisible in the result, so the
    // oracle is simply the PLAIN inner join — correctness of the skew
    // mitigation is exactly "same rows out"
    "q_salted_join" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      Skew.saltedJoin(t(s, dir, "orders"), cust, "o_custkey", salts = 8)
        .select(col("o_orderkey"), col("o_custkey"), col("c_mktsegment"),
          r2(col("o_totalprice")).as("total"))
        .orderBy("o_orderkey")
    }),

    // ---- gap-based session windows (batch form of §2.10 sessionization) ---
    // Spark's native session_window; the oracle reproduces it with the
    // standard lag-gap-cumsum construction — same sessions, both engines.
    "q_session_window" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"), r2(sum(col("value"))).as("sum_value"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("n_events"), col("sum_value"))
        .orderBy("user_id", "session_start")
    }),

    // ---- interval union / coverage (beyond reference, round 9) -----------
    // Merge each user's overlapping presence intervals (event ts padded to
    // a 10-minute engagement window) and report coverage — the classic
    // gaps-and-islands operator behind uptime/SLA/exposure math that naive
    // SQL gets quadratically wrong with self-joins. Islands via ONE window
    // chain: running max of interval-end over all PRIOR rows marks island
    // starts, a running sum numbers them, then two hash-aggs roll islands
    // up. Plan: one shuffle on user_id that both Window nodes AND both
    // groupBys reuse (same key — Catalyst collapses to a single exchange).
    // Arithmetic is exact epoch-µs BIGINT end-to-end: zero floats, so the
    // hash oracle is bit-trivial. At 100 TB the per-user frames stream
    // through WindowExec without materializing anything global.
    "q_interval_union" -> ((s, dir) => {
      val durUs = 600L * 1000000L // 10-minute presence window per event
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("st"))
        .withColumn("en", col("st") + lit(durUs))
      val w = Window.partitionBy("user_id").orderBy(col("st"), col("event_id"))
      val prevMax =
        max(col("en")).over(w.rowsBetween(Window.unboundedPreceding, -1))
      ev.withColumn("new_iv",
          when(prevMax.isNull || col("st") > prevMax, 1L).otherwise(0L))
        .withColumn("iv",
          sum(col("new_iv")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("iv"))
        .agg(min(col("st")).as("iv_st"), max(col("en")).as("iv_en"),
          count(lit(1)).as("n_ev"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_intervals"),
          sum(col("iv_en") - col("iv_st")).as("covered_us"),
          max(col("iv_en") - col("iv_st")).as("longest_us"),
          sum(col("n_ev")).as("n_events"))
        .orderBy("user_id")
    }),

    // ---- firewall scalars (E12, J1, A4 combined; reference validate_features.py) ----
    // feature_count and invalid_count share ONE aggregate over feats (the
    // round-1 two-aggregate version doubled the most expensive subplan).
    "q_validation_scalars" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val feats = Rfm.customerFeatures(o, to_date(lit("2001-08-02")),
        "o_custkey", "o_orderdate", "o_totalprice")
      val raw = o.agg(countDistinct(col("o_custkey")).as("raw_count"))
      val featAgg = feats.agg(
        countDistinct(col("customer_id")).as("feature_count"),
        sum(when(col("t") < 0 || col("frequency") < 0 || col("recency") < 0 ||
          col("monetary_value") < 0, 1L).otherwise(0L)).as("invalid_count"))
      raw.crossJoin(featAgg)
        .withColumn("ratio",
          when(col("raw_count") > 0,
            r4(col("feature_count").cast("double") / col("raw_count"))).otherwise(0.0))
        .select(col("raw_count"), col("feature_count"), col("invalid_count"), col("ratio"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "q_rfm_features" ->
      """SELECT o_custkey AS customer_id,
        |  CAST(date_diff('day', CAST(MIN(o_orderdate) AS DATE), CAST(MAX(o_orderdate) AS DATE)) AS BIGINT) AS recency,
        |  CAST(date_diff('day', CAST(MIN(o_orderdate) AS DATE), DATE '2001-08-02') AS BIGINT) AS t,
        |  CAST(COUNT(DISTINCT CAST(o_orderdate AS DATE)) - 1 AS BIGINT) AS frequency,
        |  FLOOR((AVG(o_totalprice)) * 100.0 + 0.500001) / 100.0 AS monetary_value,
        |  CAST(MIN(o_orderdate) AS DATE) AS first_purchase,
        |  CAST(MAX(o_orderdate) AS DATE) AS last_purchase
        |FROM orders GROUP BY o_custkey ORDER BY customer_id""".stripMargin,

    "q_filter_project" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  FLOOR((l_extendedprice * (1.0 - l_discount)) * 100.0 + 0.500001) / 100.0 AS revenue
        |FROM lineitem WHERE l_quantity > 25 AND l_discount > 0.02
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_cast_rename" ->
      """SELECT o_orderkey, CAST(FLOOR(o_totalprice) AS BIGINT) AS price_int,
        |  LOWER(o_orderpriority) AS priority
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_conditional_flags" ->
      """SELECT o_orderkey,
        |  CAST(CASE WHEN o_totalprice > 150000.0 THEN 1 ELSE 0 END AS BIGINT) AS big_flag,
        |  FLOOR((GREATEST(o_totalprice - 100000.0, 0.0)) * 100.0 + 0.500001) / 100.0 AS over_base
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_global_agg" ->
      """SELECT MAX(o_custkey) AS max_cust, COUNT(*) AS n_rows,
        |  COUNT(DISTINCT o_custkey) AS n_cust,
        |  FLOOR((CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT))
        |    AS DOUBLE) / 100.0
        |    / CAST(COUNT(*) AS DOUBLE))
        |    * 100.0 + 0.500001) / 100.0 AS avg_price,
        |  FLOOR((CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT))
        |    AS DOUBLE) / 100.0)
        |    * 100.0 + 0.500001) / 100.0 AS sum_price
        |FROM orders""".stripMargin,

    "q_filtered_count" ->
      """SELECT CAST(SUM(CASE WHEN l_quantity < 0 OR l_extendedprice < 0 OR l_discount < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
        |  CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_highdisc
        |FROM lineitem""".stripMargin,

    "q_group_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  FLOOR((SUM(l_quantity)) * 100.0 + 0.500001) / 100.0 AS sum_qty,
        |  FLOOR((CAST(SUM(CAST(FLOOR(l_extendedprice * 100.0 + 0.500001) AS BIGINT))
        |    AS DOUBLE) / 100.0)
        |    * 100.0 + 0.500001) / 100.0 AS sum_base_price,
        |  FLOOR((CAST(SUM(CAST(CAST(FLOOR(l_extendedprice * 100.0 + 0.500001) AS BIGINT)
        |    * (10000 - CAST(FLOOR(l_discount * 10000.0 + 0.500001) AS BIGINT))
        |    AS HUGEINT)) AS DOUBLE) / 1000000.0)
        |    * 100.0 + 0.500001) / 100.0 AS sum_disc_price,
        |  FLOOR((AVG(l_quantity)) * 100.0 + 0.500001) / 100.0 AS avg_qty,
        |  COUNT(*) AS n
        |FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_join_inner" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders, CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_join_left" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
        |  FLOOR((COALESCE(SUM(o_totalprice), 0.0)) * 100.0 + 0.500001) / 100.0 AS spend
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,

    "q_join_full" ->
      """SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS order_only,
        |  CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS customer_only,
        |  CAST(SUM(CASE WHEN c_custkey IS NOT NULL AND o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS matched
        |FROM customer FULL OUTER JOIN orders ON c_custkey = o_custkey""".stripMargin,

    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 200000.0)
        |ORDER BY c_custkey""".stripMargin,

    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q_join_star" ->
      """SELECT r_name, n_name,
        |  FLOOR((CAST(SUM(CAST(CAST(FLOOR(l_extendedprice * 100.0 + 0.500001) AS BIGINT)
        |    * (10000 - CAST(FLOOR(l_discount * 10000.0 + 0.500001) AS BIGINT))
        |    AS HUGEINT)) AS DOUBLE) / 1000000.0)
        |    * 100.0 + 0.500001) / 100.0 AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "q_scalar_subqueries" ->
      """SELECT (SELECT COUNT(DISTINCT o_custkey) FROM orders) AS raw_count,
        |  (SELECT COUNT(DISTINCT c_custkey) FROM customer) AS feature_count""".stripMargin,

    "q_window_rank" ->
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_date, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_orderdate,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS BIGINT) AS rn
        |  FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn, o_orderkey""".stripMargin,

    // identical unique (cents, custkey) order, single divisions of exact
    // integers for the two distribution ranks
    "q_window_ntile" ->
      """WITH c AS (
        |  SELECT c_custkey, c_mktsegment AS segment,
        |    CAST(FLOOR(c_acctbal * 100.0 + 0.500001) AS BIGINT) AS v
        |  FROM customer
        |)
        |SELECT c_custkey, segment,
        |  CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
        |  FLOOR(PERCENT_RANK() OVER w * 1000000.0 + 0.500001) / 1000000.0
        |    AS pct_rank,
        |  FLOOR(CUME_DIST() OVER w * 1000000.0 + 0.500001) / 1000000.0
        |    AS cume
        |FROM c
        |WINDOW w AS (PARTITION BY segment ORDER BY v, c_custkey)
        |ORDER BY segment, c_custkey""".stripMargin,

    "q_window_firstlast" ->
      """SELECT o_custkey, o_orderkey,
        |  FIRST_VALUE(o_orderkey) OVER w AS first_order,
        |  LAST_VALUE(o_orderkey) OVER w AS latest_order
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_orderkey""".stripMargin,

    "q_window_dist" ->
      """SELECT o_orderkey, o_orderstatus,
        |  CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
        |  FLOOR((PERCENT_RANK() OVER w) * 10000.0 + 0.500001) / 10000.0 AS pct_rank,
        |  FLOOR((CUME_DIST() OVER w) * 10000.0 + 0.500001) / 10000.0 AS cdist
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,

    "q_window_running" ->
      """SELECT o_custkey, o_orderkey,
        |  FLOOR((SUM(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 100.0 + 0.500001) / 100.0 AS running_spend
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_window_lag" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(date_diff('day',
        |    CAST(LAG(o_orderdate, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DATE),
        |    CAST(o_orderdate AS DATE)) AS BIGINT) AS gap_days
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_sort_limit" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,

    "q_distinct" ->
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,

    "q_union" ->
      """SELECT key, COUNT(*) AS n FROM (
        |  SELECT o_custkey AS key FROM orders
        |  UNION ALL SELECT c_custkey AS key FROM customer)
        |GROUP BY key ORDER BY key""".stripMargin,

    "q_intersect" ->
      """SELECT c_custkey FROM customer INTERSECT SELECT o_custkey AS c_custkey FROM orders
        |ORDER BY c_custkey""".stripMargin,

    "q_except" ->
      """SELECT c_custkey FROM customer EXCEPT SELECT o_custkey AS c_custkey FROM orders
        |ORDER BY c_custkey""".stripMargin,

    "q_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT))
        |    AS DOUBLE) / 100.0 AS revenue
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n, FLOOR((SUM(l_quantity)) * 100.0 + 0.500001) / 100.0 AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    // pivot = conditional aggregation in ANSI SQL; empty cells are NULL on
    // both engines
    "q_pivot" ->
      """SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
        |  FLOOR((CAST(SUM(CASE WHEN o_orderstatus = 'F'
        |    THEN CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT) END)
        |    AS DOUBLE) / 100.0)
        |    * 100.0 + 0.500001) / 100.0 AS "F",
        |  FLOOR((CAST(SUM(CASE WHEN o_orderstatus = 'O'
        |    THEN CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT) END)
        |    AS DOUBLE) / 100.0)
        |    * 100.0 + 0.500001) / 100.0 AS "O",
        |  FLOOR((CAST(SUM(CASE WHEN o_orderstatus = 'P'
        |    THEN CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT) END)
        |    AS DOUBLE) / 100.0)
        |    * 100.0 + 0.500001) / 100.0 AS "P"
        |FROM orders GROUP BY 1 ORDER BY o_year""".stripMargin,

    "q_unpivot" ->
      """WITH a AS (
        |  SELECT l_returnflag,
        |    FLOOR((SUM(l_quantity)) * 100.0 + 0.500001) / 100.0 AS sum_qty,
        |    FLOOR((CAST(SUM(CAST(FLOOR(l_extendedprice * 100.0 + 0.500001) AS BIGINT))
        |    AS DOUBLE) / 100.0)
        |    * 100.0 + 0.500001) / 100.0 AS sum_price,
        |    FLOOR((AVG(l_discount)) * 10000.0 + 0.500001) / 10000.0 AS avg_disc
        |  FROM lineitem GROUP BY 1
        |)
        |SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM a
        |UNION ALL SELECT l_returnflag, 'sum_price', sum_price FROM a
        |UNION ALL SELECT l_returnflag, 'avg_disc', avg_disc FROM a
        |ORDER BY l_returnflag, metric""".stripMargin,

    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.500001) AS BIGINT))
        |    AS DOUBLE) / 100.0 AS revenue
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    // DuckDB map extraction returns a list — [1] unwraps the value
    "q_map_funcs" ->
      """WITH m AS (
        |  SELECT o_orderkey, MAP {'status': o_orderstatus, 'priority': o_orderpriority} AS meta
        |  FROM orders
        |)
        |SELECT o_orderkey, meta['status'][1] AS status, meta['priority'][1] AS priority,
        |  CAST(cardinality(meta) AS BIGINT) AS n_keys,
        |  CAST(list_contains(map_keys(meta), 'status') AS BIGINT) AS has_status
        |FROM m ORDER BY o_orderkey""".stripMargin,

    // descending 3-element sum matches Spark's reverse-then-slice order
    "q_array_funcs" ->
      """WITH a AS (
        |  SELECT o_custkey, list_sort(list(o_totalprice)) AS arr FROM orders GROUP BY 1
        |)
        |SELECT o_custkey, CAST(len(arr) AS BIGINT) AS n_orders,
        |  FLOOR(arr[1] * 100.0 + 0.500001) / 100.0 AS min_total,
        |  FLOOR(arr[-1] * 100.0 + 0.500001) / 100.0 AS max_total,
        |  FLOOR(list_sum(list_sort(arr, 'DESC')[1:3]) * 100.0 + 0.500001) / 100.0 AS top3_sum
        |FROM a ORDER BY o_custkey""".stripMargin,

    "q_date_funcs" ->
      """SELECT o_orderkey,
        |  CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
        |  CAST(MONTH(o_orderdate) AS BIGINT) AS mon,
        |  CAST(DAY(o_orderdate) AS BIGINT) AS dom,
        |  CAST(QUARTER(o_orderdate) AS BIGINT) AS qtr,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2001-08-02') AS BIGINT) AS age_days,
        |  strftime(o_orderdate, '%Y-%m-%d') AS fmt_date
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_percentile" ->
      """SELECT o_orderstatus,
        |  FLOOR((quantile_cont(o_totalprice, 0.5)) * 100.0 + 0.500001) / 100.0 AS median_price,
        |  FLOOR((quantile_cont(o_totalprice, 0.9)) * 100.0 + 0.500001) / 100.0 AS p90_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // explicit ROWS frame both sides; unique (n_chars, doc_id) ordering
    // makes RANGE==ROWS anyway, but explicit is pinned
    "q_weighted_quantile" ->
      """WITH d AS (
        |  SELECT source, n_chars, doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS w
        |  FROM documents
        |), c AS (
        |  SELECT source, n_chars,
        |    SUM(w) OVER (PARTITION BY source ORDER BY n_chars, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
        |    SUM(w) OVER (PARTITION BY source) AS tw
        |  FROM d
        |)
        |SELECT source, CAST(MAX(tw) AS BIGINT) AS total_tokens,
        |  MIN(CASE WHEN cumw >= tw * 0.5 THEN n_chars END) AS p50_weighted,
        |  MIN(CASE WHEN cumw >= tw * 0.9 THEN n_chars END) AS p90_weighted
        |FROM c GROUP BY source ORDER BY source""".stripMargin,

    // verifies the HLL sketch's semantic contract (estimate within the 5σ
    // envelope of exact), not the engine-specific register values
    "q_approx_distinct" ->
      """SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_cust,
        |  CAST(1 AS BIGINT) AS approx_within_10pct
        |FROM orders""".stripMargin,

    "q_approx_percentile" ->
      """SELECT
        |  FLOOR((quantile_cont(o_totalprice, 0.5)) * 100.0 + 0.500001) / 100.0 AS exact_median,
        |  FLOOR((quantile_cont(o_totalprice, 0.95)) * 100.0 + 0.500001) / 100.0 AS exact_p95,
        |  CAST(1 AS BIGINT) AS median_within_1pct,
        |  CAST(1 AS BIGINT) AS p95_within_1pct
        |FROM orders""".stripMargin,

    "q_group_percentile" ->
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |  FLOOR((quantile_cont(o_totalprice, 0.5)) * 100.0 + 0.500001) / 100.0
        |    AS exact_median,
        |  CAST(1 AS BIGINT) AS median_within_3pct
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q_string_funcs" ->
      """SELECT c_custkey, UPPER(c_name) AS name_upper,
        |  CAST(LENGTH(c_name) AS BIGINT) AS name_len,
        |  SUBSTRING(c_name, 1, 8) AS name_prefix,
        |  CONCAT_WS('-', c_mktsegment, c_name) AS seg_name
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_json_extract" ->
      """SELECT event_type,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  COUNT(*) AS n, FLOOR((SUM(value)) * 100.0 + 0.500001) / 100.0 AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_time_bucket" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start, COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users, FLOOR((SUM(value)) * 100.0 + 0.500001) / 100.0 AS sum_value
        |FROM events GROUP BY 1 ORDER BY hour_start""".stripMargin,

    "q_approx_group_distinct" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
        |  CAST(1 AS BIGINT) AS within_10pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // resample→ffill parity: the same bounded day grid (distinct users ×
    // global date range), left join of rounded dailies, IGNORE NULLS carry
    "q_gap_fill" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
        |    FLOOR(SUM(value) * 100.0 + 0.500001) / 100.0 AS day_value
        |  FROM events GROUP BY 1, 2
        |), bounds AS (
        |  SELECT CAST(date_trunc('day', MIN(ts)) AS DATE) AS d0,
        |         CAST(date_trunc('day', MAX(ts)) AS DATE) AS d1 FROM events
        |), grid AS (
        |  SELECT u.user_id, CAST(g.g AS DATE) AS day
        |  FROM (SELECT DISTINCT user_id FROM events) u
        |  CROSS JOIN bounds b
        |  CROSS JOIN LATERAL unnest(generate_series(b.d0, b.d1, INTERVAL 1 DAY)) AS g(g)
        |)
        |SELECT gr.user_id, gr.day,
        |  COALESCE(d.day_value, 0.0) AS day_value,
        |  LAST_VALUE(d.day_value IGNORE NULLS) OVER (
        |    PARTITION BY gr.user_id ORDER BY gr.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill_value,
        |  CAST(d.day_value IS NULL AS BIGINT) AS was_gap
        |FROM grid gr LEFT JOIN daily d ON gr.user_id = d.user_id AND gr.day = d.day
        |ORDER BY gr.user_id, gr.day""".stripMargin,

    "q_histogram" ->
      """SELECT CAST(FLOOR((l_quantity - 1.0) / 5.0) AS BIGINT) AS bucket,
        |  COUNT(*) AS n, MIN(l_quantity) AS lo, MAX(l_quantity) AS hi,
        |  FLOOR(SUM(l_extendedprice) * 100.0 + 0.500001) / 100.0 AS sum_price
        |FROM lineitem GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q_corr_stats" ->
      """SELECT
        |  FLOOR(corr(l_quantity, l_extendedprice) * 10000.0 + 0.500001) / 10000.0 AS corr_qp,
        |  FLOOR(covar_samp(l_quantity, l_extendedprice) * 10000.0 + 0.500001) / 10000.0 AS covar_s,
        |  FLOOR(covar_pop(l_quantity, l_extendedprice) * 10000.0 + 0.500001) / 10000.0 AS covar_p,
        |  FLOOR(stddev_samp(l_quantity) * 10000.0 + 0.500001) / 10000.0 AS sd_q,
        |  FLOOR(regr_slope(l_extendedprice, l_quantity) * 10000.0 + 0.500001) / 10000.0 AS slope,
        |  FLOOR(regr_intercept(l_extendedprice, l_quantity) * 10000.0 + 0.500001) / 10000.0 AS intercept
        |FROM lineitem""".stripMargin,

    "q_asof_join" ->
      """SELECT l.event_id, l.user_id,
        |  FLOOR((r.value) * 10000.0 + 0.500001) / 10000.0 AS asof_value
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') l
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'view') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin,

    "q_interval_join" ->
      """WITH bands AS (
        |  SELECT i AS band_id, i * 2000.0 AS lo, i * 2000.0 + 2999.99 AS hi
        |  FROM range(0, 250) t(i)
        |), ords AS (
        |  SELECT o_orderkey, o_totalprice - 500.0 AS lo2,
        |    o_totalprice + 500.0 AS hi2
        |  FROM orders
        |)
        |SELECT CAST(band_id AS BIGINT) AS band_id, o_orderkey,
        |  FLOOR((lo2 + 500.0) * 100.0 + 0.500001) / 100.0 AS price
        |FROM bands JOIN ords ON lo <= hi2 AND lo2 <= hi
        |ORDER BY band_id, o_orderkey""".stripMargin,

    "q_topk_per_group" ->
      """WITH r AS (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders
        |)
        |SELECT o_orderpriority, o_orderkey,
        |  FLOOR((o_totalprice) * 100.0 + 0.500001) / 100.0 AS price,
        |  CAST(rk AS BIGINT) AS rank
        |FROM r WHERE rk <= 3
        |ORDER BY o_orderpriority, rank""".stripMargin,

    "q_asof_forward" ->
      """SELECT l.event_id, l.user_id,
        |  FLOOR((r.value) * 10000.0 + 0.500001) / 10000.0 AS next_value
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') l
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'view') r
        |  ON l.user_id = r.user_id AND l.ts <= r.ts
        |ORDER BY l.event_id""".stripMargin,

    "q_asof_nearest" ->
      """WITH l AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
        |), r AS (
        |  SELECT user_id, ts, value FROM events WHERE event_type = 'view'
        |)
        |SELECT l.event_id, l.user_id,
        |  FLOOR((CASE
        |    WHEN f.ts IS NULL THEN b.value
        |    WHEN b.ts IS NULL THEN f.value
        |    WHEN epoch_us(l.ts) - epoch_us(b.ts)
        |      <= epoch_us(f.ts) - epoch_us(l.ts) THEN b.value
        |    ELSE f.value END) * 10000.0 + 0.500001) / 10000.0 AS nearest_value,
        |  CAST(CASE
        |    WHEN b.ts IS NULL AND f.ts IS NULL THEN NULL
        |    WHEN f.ts IS NULL THEN epoch_us(l.ts) - epoch_us(b.ts)
        |    WHEN b.ts IS NULL THEN epoch_us(l.ts) - epoch_us(f.ts)
        |    WHEN epoch_us(l.ts) - epoch_us(b.ts)
        |      <= epoch_us(f.ts) - epoch_us(l.ts)
        |      THEN epoch_us(l.ts) - epoch_us(b.ts)
        |    ELSE epoch_us(l.ts) - epoch_us(f.ts) END AS BIGINT) AS asof_dt_us
        |FROM l
        |ASOF LEFT JOIN r b ON l.user_id = b.user_id AND l.ts >= b.ts
        |ASOF LEFT JOIN r f ON l.user_id = f.user_id AND l.ts <= f.ts
        |ORDER BY l.event_id""".stripMargin,

    "q_range_join" ->
      """SELECT i.band_id, COUNT(*) AS n_orders,
        |  FLOOR((AVG(p.o_totalprice)) * 100.0 + 0.500001) / 100.0 AS avg_price
        |FROM (SELECT o_orderkey, o_totalprice FROM orders) p
        |JOIN (SELECT range AS band_id, range * 2000.0 AS lo, range * 2000.0 + 3999.99 AS hi
        |      FROM range(0, 100)) i
        |  ON p.o_totalprice BETWEEN i.lo AND i.hi
        |GROUP BY i.band_id ORDER BY i.band_id""".stripMargin,

    "q_salted_join" ->
      """SELECT o_orderkey, o_custkey, c_mktsegment,
        |  FLOOR(o_totalprice * 100.0 + 0.500001) / 100.0 AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,

    "q_salted_agg" ->
      """SELECT l_returnflag,
        |  FLOOR((SUM(l_quantity)) * 100.0 + 0.500001) / 100.0 AS sum_qty,
        |  COUNT(l_orderkey) AS n,
        |  FLOOR((MIN(l_extendedprice)) * 100.0 + 0.500001) / 100.0 AS min_price,
        |  FLOOR((MAX(l_extendedprice)) * 100.0 + 0.500001) / 100.0 AS max_price,
        |  FLOOR((AVG(l_quantity)) * 100.0 + 0.500001) / 100.0 AS avg_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_session_window" ->
      """WITH marked AS (
        |  SELECT user_id, ts, value, event_id,
        |    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      >= INTERVAL 30 MINUTE OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |      THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |sessions AS (
        |  SELECT user_id, ts, value, event_id,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM marked)
        |SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
        |  FLOOR((SUM(value)) * 100.0 + 0.500001) / 100.0 AS sum_value
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, session_start""".stripMargin,

    // same gaps-and-islands construction; all-integer epoch-µs arithmetic
    "q_interval_union" ->
      """WITH iv AS (
        |  SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS st,
        |    CAST(epoch_us(ts) AS BIGINT) + 600000000 AS en
        |  FROM events
        |), marked AS (
        |  SELECT user_id, event_id, st, en,
        |    CASE WHEN MAX(en) OVER (PARTITION BY user_id ORDER BY st, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |      OR st > MAX(en) OVER (PARTITION BY user_id ORDER BY st, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      THEN 1 ELSE 0 END AS new_iv
        |  FROM iv
        |), isl AS (
        |  SELECT user_id, st, en,
        |    SUM(new_iv) OVER (PARTITION BY user_id ORDER BY st, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS iv_id
        |  FROM marked
        |), g AS (
        |  SELECT user_id, iv_id, MIN(st) AS iv_st, MAX(en) AS iv_en,
        |    COUNT(*) AS n_ev
        |  FROM isl GROUP BY user_id, iv_id
        |)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_intervals,
        |  CAST(SUM(iv_en - iv_st) AS BIGINT) AS covered_us,
        |  CAST(MAX(iv_en - iv_st) AS BIGINT) AS longest_us,
        |  CAST(SUM(n_ev) AS BIGINT) AS n_events
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_validation_scalars" ->
      """WITH feats AS (
        |  SELECT o_custkey AS customer_id,
        |    date_diff('day', CAST(MIN(o_orderdate) AS DATE), CAST(MAX(o_orderdate) AS DATE)) AS recency,
        |    date_diff('day', CAST(MIN(o_orderdate) AS DATE), DATE '2001-08-02') AS t,
        |    COUNT(DISTINCT CAST(o_orderdate AS DATE)) - 1 AS frequency,
        |    AVG(o_totalprice) AS monetary_value
        |  FROM orders GROUP BY o_custkey)
        |SELECT
        |  (SELECT COUNT(DISTINCT o_custkey) FROM orders) AS raw_count,
        |  (SELECT COUNT(DISTINCT customer_id) FROM feats) AS feature_count,
        |  (SELECT CAST(SUM(CASE WHEN t < 0 OR frequency < 0 OR recency < 0 OR monetary_value < 0
        |     THEN 1 ELSE 0 END) AS BIGINT) FROM feats) AS invalid_count,
        |  CASE WHEN (SELECT COUNT(DISTINCT o_custkey) FROM orders) > 0
        |    THEN FLOOR((CAST((SELECT COUNT(DISTINCT customer_id) FROM feats) AS DOUBLE)
        |      / (SELECT COUNT(DISTINCT o_custkey) FROM orders)) * 10000.0 + 0.500001) / 10000.0
        |    ELSE 0.0 END AS ratio""".stripMargin
  )
}
