package graft.operators

import graft.{SparkSpec, SparkEntry}
import org.apache.spark.sql.functions._

/** Semantic invariants + plan-shape gates for the incremental-maintenance
  * family (Incremental.scala) and the time-series family
  * (Timeseries.scala). The DuckDB hash gates pin exact values; these pin
  * the merge/history/dedup ALGEBRA (key coverage, interval chaining,
  * planted-collision removal) and the plan shapes that make the operators
  * incremental at 100 TB (single-shuffle merge, corpus-side-never-moves
  * dedup, no self-join in the range window).
  */
class IncrementalSpec extends SparkSpec {

  private val sf = graft.TestData.Sf0001

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  private def plan(name: String): String = {
    spark.catalog.clearCache()
    run(name).queryExecution.executedPlan.toString
  }

  // ---- q_merge_upsert -----------------------------------------------------

  test("merge covers every key exactly once and classifies by side") {
    val orders = graft.io.Sources.table(spark, sf, "orders")
      .select(col("o_custkey"),
        (to_date(col("o_orderdate")) >= lit(Incremental.MergeCutoff).cast("date"))
          .cast("int").as("is_delta"))
    val sides = orders.groupBy("o_custkey")
      .agg(max("is_delta").as("has_delta"),
        max(lit(1) - col("is_delta")).as("has_base"))
    val merged = run("q_merge_upsert")
    // one output row per distinct key — MERGE never drops or duplicates
    assert(merged.count() === sides.count())
    assert(merged.select("custkey").distinct().count() === merged.count())
    // classification matches side membership exactly
    val expect = sides.select(col("o_custkey").as("custkey"),
      when(col("has_delta") === 1 && col("has_base") === 1, "updated")
        .when(col("has_delta") === 1, "inserted")
        .otherwise("carried").as("expect"))
    val bad = merged.join(expect, "custkey")
      .where(col("action") =!= col("expect")).count()
    assert(bad === 0)
    // an updated/inserted key's as_of must be on or after the cutoff,
    // a carried key's strictly before
    val cutoffViol = merged.where(
      (col("action") === "carried") =!=
        (col("as_of") < lit(Incremental.MergeCutoff).cast("date"))).count()
    assert(cutoffViol === 0)
  }

  test("merge plan is ONE data shuffle (union resolved in a single window pass)") {
    val p = plan("q_merge_upsert")
    // one Exchange partitions by o_custkey for the windows; the trailing
    // orderBy adds a range Exchange for the deterministic dump. A 3rd
    // would mean the two-sided join shape this operator exists to avoid.
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2, s"merge shuffled more than once:\n$p")
    assert(!p.contains("Join"), s"merge degraded to a join plan:\n$p")
  }

  // ---- q_scd2_history -----------------------------------------------------

  test("scd2 intervals chain gaplessly and versions are dense") {
    val h = run("q_scd2_history").cache()
    try {
      // consecutive rows chain: valid_to(version k) = valid_from(k+1)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("version")
      val chained = h.select(col("user_id"), col("version"),
        col("valid_from"), col("valid_to"),
        lead(col("valid_from"), 1).over(w).as("next_from"))
      assert(chained.where(col("next_from").isNotNull &&
        col("valid_to") =!= col("next_from")).count() === 0)
      // exactly one open (is_current) interval per user, and it is the last
      val cur = h.groupBy("user_id")
        .agg(sum("is_current").as("n_open"), max("version").as("maxv"))
      assert(cur.where(col("n_open") =!= 1L).count() === 0)
      assert(h.where(col("is_current") === 1L)
        .join(cur, "user_id").where(col("version") =!= col("maxv"))
        .count() === 0)
      // no zero-length or negative intervals
      assert(h.where(col("valid_to").isNotNull &&
        col("valid_to") <= col("valid_from")).count() === 0)
      // adjacent versions never carry the same state (it IS a change log)
      val same = h.select(col("user_id"), col("version"), col("event_type"),
          lead(col("event_type"), 1).over(w).as("next_type"))
        .where(col("next_type").isNotNull &&
          col("event_type") === col("next_type")).count()
      assert(same === 0)
    } finally { h.unpersist(); () }
  }

  test("scd2 plan shuffles the log once (shared user_id partitioning)") {
    val p = plan("q_scd2_history")
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    // one hash Exchange on user_id + the trailing orderBy range Exchange
    assert(exchanges <= 2, s"scd2 re-shuffled between windows:\n$p")
  }

  // ---- q_incremental_dedup ------------------------------------------------

  test("incremental dedup drops exactly the corpus-colliding batch docs") {
    val docs = graft.io.Sources.table(spark, sf, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    val out = run("q_incremental_dedup")
    // planted rule: every batch doc with doc_id % 20 == 0 has an exact
    // copy in the corpus, so NONE of them may survive
    assert(out.where(col("doc_id") % 20 === 0).count() === 0)
    // survivors are a subset of the batch
    assert(out.where(col("doc_id") % 10 =!= 0).count() === 0)
    // exactness: survivors == batch texts absent from corpus texts
    // (recomputed via the naive shuffled anti-join)
    val batch = docs.where(col("doc_id") % 10 === 0)
      .withColumn("h", md5(col("text")))
      .groupBy("h").agg(min("doc_id").as("doc_id"))
    val corpusH = docs.where(col("doc_id") % 10 =!= 0)
      .unionByName(docs.where(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text"),
          col("source")))
      .select(md5(col("text")).as("h"))
    val naive = batch.join(corpusH, Seq("h"), "left_anti")
    assert(out.count() === naive.count())
    assert(out.select("doc_id").except(naive.select("doc_id")).count() === 0)
  }

  test("incremental dedup plan: corpus side joins only by broadcast") {
    val p = plan("q_incremental_dedup")
    // both the hash-set semi-join into the corpus scan and the collision
    // anti-join back must be broadcast hash joins — a SortMergeJoin here
    // would mean the 100 TB corpus side got shuffled
    assert(p.contains("BroadcastHashJoin"), s"broadcast join missing:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"corpus side shuffled for a join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  // ---- q_ewma_smooth ------------------------------------------------------

  test("ewma lies within the daily series' bounded-window envelope") {
    val out = run("q_ewma_smooth").cache()
    try {
      assert(out.count() > 0)
      // a weighted mean stays inside [min, max] of the contributing window;
      // cheap global check: every ewma within the series' global min/max
      val b = out.agg(min("revenue").as("lo"), max("revenue").as("hi"))
      val bad = out.crossJoin(broadcast(b))
        .where(col("ewma") < col("lo") - 0.01 || col("ewma") > col("hi") + 0.01)
      assert(bad.count() === 0)
      // the first day's ewma equals its own revenue (single-element window)
      val first = out.orderBy("day").limit(1).collect()(0)
      assert(math.abs(first.getDouble(1) - first.getDouble(2)) <= 0.011)
    } finally { out.unpersist(); () }
  }

  test("ewma plan: history side broadcasts, no global-order window") {
    val p = plan("q_ewma_smooth")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"daily history not broadcast:\n$p")
    // no Window node at all — the unrolled form is an aggregate
    assert(!p.contains("RunningWindowFunction"), s"unexpected window:\n$p")
  }

  // ---- q_window_timerange -------------------------------------------------

  test("time-range frame counts exactly the 7-day trailing events") {
    val e = graft.io.Sources.table(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value"),
        col("ts").cast("long").as("sec"))
    val out = run("q_window_timerange")
    // recompute one user's frame by brute force and compare
    val u = e.select("user_id").orderBy("user_id").limit(1).collect()(0).getLong(0)
    val mine = e.where(col("user_id") === u).collect()
      .sortBy(r => (r.getLong(3), r.getLong(0)))
    val expect = mine.map { r =>
      val s0 = r.getLong(3)
      val n = mine.count(x => x.getLong(3) >= s0 - 604800L && x.getLong(3) <= s0)
      r.getLong(0) -> n.toLong
    }.toMap
    val got = out.where(col("user_id") === u)
      .select("event_id", "trail_n").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expect)
  }

  test("time-range window plan is one shuffle + one Window node, no join") {
    val p = plan("q_window_timerange")
    assert(p.linesIterator.count(_.contains("Exchange")) <= 2,
      s"range frame planned extra shuffles:\n$p")
    assert(p.contains("Window"), s"no Window node:\n$p")
    assert(!p.contains("Join"), s"range frame degraded to self-join:\n$p")
  }

  // ---- q_outlier_stats ----------------------------------------------------

  test("outlier stats: counts add up and z-flags match a direct recompute") {
    val e = graft.io.Sources.table(spark, sf, "events")
      .select(col("event_type"), col("value"))
    val out = run("q_outlier_stats")
    val direct = e.groupBy("event_type").agg(count(lit(1)).as("n"))
    assert(out.join(direct, "event_type")
      .where(col("n_events") =!= col("n")).count() === 0)
    // outliers are a strict minority under any roughly-unimodal load
    assert(out.where(col("n_outliers") > col("n_events") / 10).count() === 0)
    assert(out.where(col("max_abs_z") < 0.0).count() === 0)
  }

  test("outlier plan: stats row broadcasts back, log never self-joins big") {
    val p = plan("q_outlier_stats")
    assert(p.contains("BroadcastHashJoin"), s"stats not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"log shuffled for the stats join:\n$p")
  }

  test("MAD outliers: medians match a driver recompute, robust flags bounded") {
    val out = run("q_mad_outliers").collect()
    assert(out.nonEmpty)
    val vals = graft.io.Sources.table(spark, sf, "events")
      .select(col("event_type"), col("value")).collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getDouble(1)).sorted).toMap
    def medOf(xs: Array[Double]): Double = {
      val n = xs.length
      if (n % 2 == 1) xs(n / 2) else (xs(n / 2 - 1) + xs(n / 2)) / 2.0
    }
    out.foreach { r =>
      val (ty, n, nOut) = (r.getString(0), r.getLong(1), r.getLong(2))
      val xs = vals(ty)
      assert(n === xs.length)
      val med = medOf(xs)
      val mad = medOf(xs.map(x => math.abs(x - med)).sorted)
      assert(math.abs(r.getDouble(3) - med) < 0.02, s"median mismatch for $ty")
      assert(math.abs(r.getDouble(4) - mad) < 0.02, s"MAD mismatch for $ty")
      val expect = xs.count(x => math.abs(0.6745 * (x - med) / mad) > 3.5)
      assert(nOut === expect, s"robust outlier count mismatch for $ty")
    }
  }

  test("MAD zero guard: a ≥50%-constant group abstains instead of diverging") {
    import spark.implicits._
    // mad = 0 when ≥50% of a group's values are identical; Spark's Divide
    // would yield NULL there and IEEE division Inf — the query guards the
    // case explicitly (0 outliers), identically to its oracle SQL
    val dir = java.nio.file.Files.createTempDirectory("graft_madzero").toString
    Seq(("flat", 5.0, 1L), ("flat", 5.0, 2L), ("flat", 5.0, 3L),
        ("flat", 999.0, 4L), ("mix", 1.0, 5L), ("mix", 2.0, 6L),
        ("mix", 30.0, 7L))
      .toDF("event_type", "value", "ts")
      .write.parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q_mad_outliers")(spark, dir)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("flat").getDouble(4) === 0.0, "flat group must have mad = 0")
    assert(out("flat").getLong(2) === 0L,
      "mad = 0 must abstain (0 outliers), not NULL-drop or Inf-flag rows")
    assert(out("mix").getDouble(4) > 0.0)
  }

  test("MAD plan: both median rows broadcast, raw log never shuffles") {
    val p = plan("q_mad_outliers")
    assert(p.contains("BroadcastHashJoin"), s"medians not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"log shuffled for the MAD join:\n$p")
  }

  test("PSI drift: bins conserve both windows, deciles balanced on reference") {
    val rows = run("q_drift_psi").collect()
    assert(rows.length === 10, "expected exactly 10 decile bins")
    val orders = graft.io.Sources.table(spark, sf, "orders")
    val nRef = orders.where(to_date(col("o_orderdate")) < lit("1999-01-01")).count()
    val nCur = orders.count() - nRef
    assert(rows.map(_.getLong(1)).sum === nRef)
    assert(rows.map(_.getLong(2)).sum === nCur)
    // decile bins of the reference hold ~10% of the reference each
    rows.foreach(r => assert(math.abs(r.getLong(1) - nRef / 10.0) < nRef * 0.02 + 2))
    // same-generator windows: total PSI far below the 0.1 drift alarm
    val psi = rows.map(_.getDouble(3)).sum
    assert(math.abs(psi) < 0.1, s"unexpected drift PSI=$psi on stable data")
    // PSI terms: (p-q)ln(p/q) is non-negative by construction
    rows.foreach(r => assert(r.getDouble(3) >= -1e-9))
  }

  test("PSI plan: cuts broadcast, one bounded bin aggregate, no SMJ") {
    val p = plan("q_drift_psi")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"cuts row not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"binning shuffled a join:\n$p")
  }

  // ---- q_incremental_agg --------------------------------------------------

  test("incremental agg: maintained state == from-scratch recompute, exactly") {
    val maintained = run("q_incremental_agg")
    val o = graft.io.Sources.table(spark, sf, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        floor(col("o_totalprice") * 100 + lit(0.500001)).cast("long").as("cents"))
    val postCdc = o.where(
      (col("o_orderkey") % 10 =!= 0 && col("o_orderkey") % 17 =!= 0) ||
        col("o_orderkey") % 10 === 0)
    val scratch = postCdc.groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"), sum("cents").as("sum_cents"))
    assert(maintained.except(scratch).count() === 0)
    assert(scratch.except(maintained).count() === 0)
    // the CDC batch genuinely exercised both directions
    val nDeletes = o.where(col("o_orderkey") % 10 =!= 0 &&
      col("o_orderkey") % 17 === 0).count()
    val nInserts = o.where(col("o_orderkey") % 10 === 0).count()
    assert(nDeletes > 0 && nInserts > 0, "fixture lost its deletes or inserts")
    // and no group survives at zero or below
    assert(maintained.where(col("n_orders") <= 0).count() === 0)
  }

  test("incremental agg retracts a group to extinction") {
    import spark.implicits._
    // base: one customer with a single order that the CDC deletes — the
    // merged state must DROP the group, not emit a zero row (the q_* query
    // derives base/delta from one table, so drive the same algebra here)
    val state = Seq((1L, 1L, 500L), (2L, 2L, 900L)).toDF("k", "n", "s")
    val delta = Seq((1L, -1L, -500L)).toDF("k", "dn", "ds")
    val merged = state.join(delta, Seq("k"), "full")
      .select(col("k"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
        (coalesce(col("s"), lit(0L)) + coalesce(col("ds"), lit(0L))).as("s"))
      .where(col("n") > 0)
    val rows = merged.collect()
    assert(rows.length === 1 && rows.head.getLong(0) === 2L)
  }

  test("incremental agg plan: no cartesian, delta-sized shuffles only") {
    val p = plan("q_incremental_agg")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"merge must stay a key join:\n$p")
    // two aggregates + co-partitioned full-outer + final sort
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 4,
      s"unexpected extra shuffle:\n$p")
  }
  // ---- q_seasonal_decompose -------------------------------------------------

  test("seasonal decomposition reconstructs the series; per-dow residual medians vanish") {
    val out = run("q_seasonal_decompose").cache()
    try {
      // additive identity: rev = trend + seasonal + resid up to 3 roundings
      val broken = out.where(abs(col("rev") - (col("trend") + col("seasonal")
        + col("resid"))) > 0.001).count()
      assert(broken === 0, s"$broken days break trend+seasonal+resid = rev")
      // seasonal is the per-dow MEDIAN of the detrended series, so the
      // per-dow median of the residual is 0 by construction
      val dowMed = out
        .select(dayofweek(col("day")).as("dow"), col("resid"))
        .groupBy("dow").agg(expr("percentile(resid, 0.5)").as("m"))
        .collect()
      assert(dowMed.length === 7)
      dowMed.foreach(r => assert(math.abs(r.getDouble(1)) < 0.001,
        s"dow ${r.get(0)} residual median ${r.getDouble(1)} != 0"))
    } finally out.unpersist()
  }

  test("seasonal decomposition plan: one orders shuffle, 7-row seasonal broadcasts") {
    val p = plan("q_seasonal_decompose")
    assert(p.contains("BroadcastHashJoin"), s"seasonal attach must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no corpus-sized join expected:\n$p")
  }

  // ---- q_changepoint --------------------------------------------------------

  test("CUSUM finds a planted level shift on the exact boundary day") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cusum").toString
    // 60 flat days at $100, then 40 at $200: argmax |cusum| is the last
    // low day (the single-changepoint closed form)
    val rows = (0 until 100).map { i =>
      (i.toLong, 1L, "O", if (i < 60) 100.0 else 200.0,
        java.sql.Timestamp.valueOf(s"2020-01-01 00:00:00").toLocalDateTime
          .plusDays(i).toString.replace("T", " ") + ":00", "1-URGENT")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
      .withColumn("o_orderdate", to_timestamp(col("o_orderdate")))
    rows.write.parquet(s"$dir/orders.parquet")
    val r = SparkEntry.queries("q_changepoint")(spark, dir).head
    assert(r.getLong(0) === 100L)
    assert(r.getDate(1).toString === "2020-02-29",
      s"changepoint must land on the last pre-shift day, got ${r.getDate(1)}")
    // closed form: |S| at the boundary = n1·n2·Δ/n = 60·40·100/100 = 2400
    assert(math.abs(r.getDouble(2) - 2400.0) < 0.01, s"max cusum ${r.getDouble(2)}")
  }

  test("changepoint plan: join-free, one shuffle to the daily frame") {
    val p = plan("q_changepoint")
    assert(!p.contains("Join"), s"changepoint must be join-free:\n$p")
  }

  // ---- q_ljung_box -----------------------------------------------------------

  test("Ljung-Box: a 7-periodic series rejects, and Q recomputes from q_acf's rhos") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_lb").toString
    (0 until 140).map { i =>
      (java.sql.Timestamp.valueOf(java.time.LocalDate.of(2020, 1, 1)
        .plusDays(i.toLong).atStartOfDay()), 100.0 + 10.0 * (i % 7))
    }.toDF("o_orderdate", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    val r = SparkEntry.queries("q_ljung_box")(spark, dir).head
    assert(r.getLong(0) === 140L && r.getLong(1) === 7L)
    assert(r.getDouble(2) > 14.067 && r.getLong(3) === 1L,
      s"weekly structure must reject: $r")
    // cross-query consistency on REAL data: Q re-derives exactly from the
    // r6-pinned rhos q_acf publishes (same moments, same rounding)
    val acf = SparkEntry.queries("q_acf")(spark, sf).collect()
      .map(x => x.getLong(0) -> x.getDouble(2)).toMap
    val n = SparkEntry.queries("q_ljung_box")(spark, sf).head
    val nn = n.getLong(0).toDouble
    val q = nn * (nn + 2.0) * (1 to 7).map(k =>
      acf(k.toLong) * acf(k.toLong) / (nn - k)).sum
    assert(math.abs(n.getDouble(2) - math.floor(q * 1e6 + 0.500001) / 1e6)
      < 2e-6, s"Q must re-derive from q_acf rhos: ${n.getDouble(2)} vs $q")
  }

  // ---- q_cusum --------------------------------------------------------------

  test("q_cusum: planted step shift alarms after the boundary, matches a driver replay") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cusum2").toString
    // 60 flat days at $100, then 40 at $200: the positive CUSUM ramps
    // linearly after the boundary, so the top days are the LAST days and
    // the 5σ alarm fires well before the end
    val rows = (0 until 100).map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(java.time.LocalDate.of(2020, 1, 1)
        .plusDays(i.toLong).atStartOfDay()),
        if (i < 60) 100.0 else 200.0)
    }.toDF("o_orderkey", "o_orderdate", "o_totalprice")
    rows.write.parquet(s"$dir/orders.parquet")
    val out = SparkEntry.queries("q_cusum")(spark, dir).collect()
    assert(out.length === 10)
    // driver replay of the closed form in x = cents/1e6 units
    val xs = (0 until 100).map(i => (if (i < 60) 10000L else 20000L).toDouble / 1e6)
    val mu = xs.sum / xs.length
    val sigma = math.sqrt(xs.map(v => (v - mu) * (v - mu)).sum / xs.length)
    var (p, q, minP, minQ) = (0.0, 0.0, 0.0, 0.0)
    val replay = xs.zipWithIndex.map { case (x, i) =>
      p += x - mu - 0.5 * sigma; q += mu - 0.5 * sigma - x
      minP = math.min(minP, p); minQ = math.min(minQ, q)
      (i, p - minP, q - minQ)
    }
    val byDay = out.map(r => r.getDate(0).toLocalDate.toEpochDay -
      java.time.LocalDate.of(2020, 1, 1).toEpochDay -> r).toMap
    byDay.foreach { case (i, r) =>
      val (_, sp, sn) = replay(i.toInt)
      assert(math.abs(r.getDouble(2) - sp) < 1e-3, s"day $i cusum_pos: $r")
      assert(math.abs(r.getDouble(3) - sn) < 1e-3, s"day $i cusum_neg: $r")
      assert(r.getLong(4) === (if (math.max(sp, sn) > 5.0 * sigma) 1L else 0L))
    }
    // top-10 by the statistic = the 10 LAST days of the ramp, all alarmed
    assert(byDay.keys.toSeq.sorted === (90L to 99L),
      s"top days must be the ramp tail: ${byDay.keys.toSeq.sorted}")
    assert(out.forall(_.getLong(4) == 1L), "every ramp-tail day exceeds 5σ")
  }

  test("q_cusum plan: join-free, bounded ordered windows over the daily frame") {
    val p = plan("q_cusum")
    assert(!p.contains("SortMergeJoin"), s"no data-sized join:\n$p")
  }

  // ---- q_durbin_watson -------------------------------------------------------

  test("Durbin-Watson: alternating residuals read negative, a step reads positive") {
    import spark.implicits._
    // alternating ±$10 around a flat level: e alternates sign every day,
    // d = ∓2e, so DW = Σd²/Σe² → ~4 (strong NEGATIVE serial correlation)
    val neg = java.nio.file.Files.createTempDirectory("graft_dw_neg").toString
    (0 until 100).map { i =>
      (java.sql.Timestamp.valueOf(java.time.LocalDate.of(2020, 1, 1)
        .plusDays(i.toLong).atStartOfDay()),
        if (i % 2 == 0) 110.0 else 90.0)
    }.toDF("o_orderdate", "o_totalprice").write.parquet(s"$neg/orders.parquet")
    val rn = SparkEntry.queries("q_durbin_watson")(spark, neg).head
    assert(rn.getLong(0) === 100L)
    assert(rn.getDouble(2) > 2.5 && rn.getString(3) === "negative",
      s"alternating series must read negative: $rn")

    // a step the line cannot fit leaves a bow-shaped residual: long runs
    // of one sign ⇒ small DW ⇒ POSITIVE serial correlation; replay the
    // whole statistic driver-side with the same double arithmetic
    val pos = java.nio.file.Files.createTempDirectory("graft_dw_pos").toString
    (0 until 100).map { i =>
      (java.sql.Timestamp.valueOf(java.time.LocalDate.of(2020, 1, 1)
        .plusDays(i.toLong).atStartOfDay()),
        if (i < 50) 100.0 else 200.0)
    }.toDF("o_orderdate", "o_totalprice").write.parquet(s"$pos/orders.parquet")
    val rp = SparkEntry.queries("q_durbin_watson")(spark, pos).head
    val t0 = java.time.LocalDate.of(1992, 1, 1).toEpochDay
    val ts = (0 until 100).map(i =>
      (java.time.LocalDate.of(2020, 1, 1).plusDays(i.toLong).toEpochDay - t0)
        .toDouble)
    val ys = (0 until 100).map(i => if (i < 50) 10000.0 else 20000.0)
    val n = 100.0
    val (st, sy) = (ts.sum, ys.sum)
    val stt = ts.map(v => v * v).sum; val sty = ts.zip(ys).map(p => p._1 * p._2).sum
    val b = (n * sty - st * sy) / (n * stt - st * st)
    val a = (sy - b * st) / n
    val es = ts.zip(ys).map { case (tv, yv) => yv - a - b * tv }
    val num = es.sliding(2).map(p => (p(1) - p(0)) * (p(1) - p(0))).sum
    val den = es.map(e => e * e).sum
    assert(math.abs(rp.getDouble(2) - num / den) < 1e-3,
      s"DW must match the driver replay: ${rp.getDouble(2)} vs ${num / den}")
    assert(rp.getDouble(2) < 1.5 && rp.getString(3) === "positive",
      s"step residuals must read positive: $rp")
  }

  test("Durbin-Watson abstains with NULLs on an exactly-fit 2-day calendar") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dw_null").toString
    Seq(
      (java.sql.Timestamp.valueOf("2020-01-01 00:00:00"), 100.0),
      (java.sql.Timestamp.valueOf("2020-01-02 00:00:00"), 200.0))
      .toDF("o_orderdate", "o_totalprice").write.parquet(s"$dir/orders.parquet")
    val r = SparkEntry.queries("q_durbin_watson")(spark, dir).head
    assert(r.getLong(0) === 2L)
    assert(r.isNullAt(2) && r.isNullAt(3),
      s"exact 2-point fit has zero residual mass - must abstain: $r")
  }

  // ---- q_granger -------------------------------------------------------------

  test("Granger: a planted x->y lead rejects with the planted coefficient") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_granger").toString
    // day i carries x_i = 1 + (i%5) orders whose total is
    // 100*x_{i-1} + (i%3) dollars: yesterday's order count determines
    // today's revenue almost exactly, so F blows past the cut and the
    // x-lag coefficient recovers ~10000 cents per order
    def x(i: Int) = 1 + (i % 5)
    val rows = (1 until 120).flatMap { i =>
      val total = 100.0 * x(i - 1) + (i % 3)
      (0 until x(i)).map { k =>
        (i.toLong * 100 + k, java.sql.Timestamp.valueOf(
          java.time.LocalDate.of(2020, 1, 1).plusDays(i.toLong)
            .atStartOfDay()), total / x(i))
      }
    }
    rows.toDF("o_orderkey", "o_orderdate", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    val r = SparkEntry.queries("q_granger")(spark, dir).head
    assert(r.getLong(0) === 118L)
    assert(r.getLong(4) === 1L, s"planted lead must reject: $r")
    assert(math.abs(r.getDouble(2) - 10000.0) < 100.0,
      s"x-lag coefficient ~10000 cents/order: $r")
  }

  test("Granger abstains when the candidate cause never varies") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_granger0").toString
    // exactly one order per day -> x1 is constant -> c22 = 0, det = 0
    (0 until 60).map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(java.time.LocalDate.of(2020, 1, 1)
        .plusDays(i.toLong).atStartOfDay()), 100.0 + (i % 7) * 10.0)
    }.toDF("o_orderkey", "o_orderdate", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    val r = SparkEntry.queries("q_granger")(spark, dir).head
    assert(r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3) &&
      r.getLong(4) === 0L, s"constant x must abstain, not reject: $r")
  }

  // ---- q_periodogram ---------------------------------------------------------

  test("periodogram: a pure weekly cosine puts ~all variance at period 7") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_pgram").toString
    // 140 days (20 full weeks) of x_t = 1000 + 500*cos(2*pi*t/7) dollars:
    // over full periods the p=7 harmonic carries the variance exactly
    // (up to the integer-dollar rounding of the fixture itself)
    val t0 = java.time.LocalDate.of(1992, 1, 1) // tt = 0 at the anchor
    (0 until 140).map { i =>
      (java.sql.Timestamp.valueOf(t0.plusDays(i.toLong).atStartOfDay()),
        1000.0 + math.round(500.0 * math.cos(2.0 * math.Pi * i / 7)).toDouble)
    }.toDF("o_orderdate", "o_totalprice").write.parquet(s"$dir/orders.parquet")
    val out = SparkEntry.queries("q_periodogram")(spark, dir).collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(7L, 30L, 91L))
    val byP = out.map(r => r.getLong(0) -> r).toMap
    assert(byP(7L).getDouble(2) > 0.98,
      s"weekly harmonic must carry the variance: ${byP(7L)}")
    assert(byP(7L).getDouble(2) > 10.0 * byP(30L).getDouble(2),
      "period 7 dominates period 30")
    assert(math.abs(byP(7L).getDouble(3) - 500.0) < 5.0,
      s"amplitude recovers the planted 500: ${byP(7L)}")
  }

  test("periodogram abstains on a constant series and emits 3 bounded rows on real data") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_pgram0").toString
    (0 until 50).map { i =>
      (java.sql.Timestamp.valueOf(java.time.LocalDate.of(2020, 1, 1)
        .plusDays(i.toLong).atStartOfDay()), 100.0)
    }.toDF("o_orderdate", "o_totalprice").write.parquet(s"$dir/orders.parquet")
    val z = SparkEntry.queries("q_periodogram")(spark, dir).collect()
    assert(z.length === 3 && z.forall(r => r.isNullAt(2) && r.isNullAt(3)),
      s"zero variance must abstain: ${z.toSeq}")
    val real = run("q_periodogram").collect()
    assert(real.length === 3)
    real.foreach { r =>
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0 + 1e-9,
        s"variance fraction bounded: $r")
      assert(r.getDouble(3) >= 0.0)
    }
  }

  test("q_durbin_watson plan: broadcast-only, bounded window over the daily frame") {
    val p = plan("q_durbin_watson")
    assert(!p.contains("SortMergeJoin"), s"moment row must broadcast:\n$p")
  }

  // ---- q_acf ----------------------------------------------------------------

  test("ACF of a pure 7-periodic series is exactly (n-7)/n at lag 7") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_acf").toString
    // 70 days of a strict weekly pattern: r_t = pattern[t%7]. Closed form:
    // num7 = 9·Σ(p-m)², den = 10·Σ(p-m)² ⇒ acf(7) = 0.9 exactly.
    val rows = (0 until 70).map { i =>
      (java.sql.Timestamp.valueOf(java.time.LocalDate.of(2020, 1, 1)
        .plusDays(i.toLong).atStartOfDay()), 100.0 + 10.0 * (i % 7))
    }.toDF("o_orderdate", "o_totalprice")
    rows.write.parquet(s"$dir/orders.parquet")
    val out = SparkEntry.queries("q_acf")(spark, dir).collect()
    assert(out.length === 7)
    val acf7 = out.find(_.getLong(0) == 7L).get.getDouble(2)
    assert(math.abs(acf7 - 0.9) < 1e-6, s"lag-7 ACF $acf7 != 0.9")
    // every other lag mixes distinct pattern values ⇒ strictly below
    out.filter(_.getLong(0) != 7L).foreach { r =>
      assert(r.getDouble(2) < acf7 - 0.1,
        s"lag ${r.getLong(0)} ACF ${r.getDouble(2)} should be far below lag 7")
    }
  }

  test("ACF bounds on real data: 7 lags, n_pairs = days - k, |acf| ≤ 1") {
    val out = run("q_acf").collect()
    assert(out.length === 7)
    val days = graft.io.Sources.table(spark, sf, "orders")
      .select(to_date(col("o_orderdate"))).distinct().count()
    out.foreach { r =>
      assert(r.getLong(1) === days - r.getLong(0), "one pair per day beyond the lag")
      assert(math.abs(r.getDouble(2)) <= 1.0 + 1e-9, s"ACF ${r.getDouble(2)} out of [-1,1]")
    }
  }

  test("ACF plan: join-free, daily partial aggregate before the shuffle") {
    val p = plan("q_acf")
    assert(!p.contains("Join"), s"ACF must be join-free:\n$p")
    assert(p.lastIndexOf("HashAggregate") > p.lastIndexOf("Exchange"),
      s"raw orders must partial-aggregate before the shuffle:\n$p")
  }

  // ---- q_forecast -----------------------------------------------------------

  test("seasonal-naive backtest scores a pure 7-periodic series at zero error") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_fc").toString
    // 63 dense days of a strict weekly pattern: every held-out day equals
    // its own forecast, so all three error columns are exactly 0
    (0 until 63).map { i =>
      (java.sql.Timestamp.valueOf(java.time.LocalDate.of(2020, 1, 1)
        .plusDays(i.toLong).atStartOfDay()), 100.0 + 10.0 * (i % 7))
    }.toDF("o_orderdate", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    val out = SparkEntry.queries("q_forecast")(spark, dir).collect()
    assert(out.length === Timeseries.BacktestDays)
    out.foreach { r =>
      assert(r.getLong(1) === r.getLong(2), "forecast != actual on periodic data")
      assert(r.getLong(3) === 0L && r.getDouble(4) === 0.0 && r.getDouble(5) === 0.0)
    }
  }

  test("backtest on real data: bounded holdout, errors consistent with cents") {
    val out = run("q_forecast").collect()
    assert(out.nonEmpty && out.length <= Timeseries.BacktestDays)
    out.foreach { r =>
      assert(r.getLong(3) === math.abs(r.getLong(1) - r.getLong(2)),
        "abs_err_cents != |actual - forecast|")
      assert(r.getLong(1) > 0L && r.getLong(2) > 0L)
      assert(r.getDouble(4) >= 0.0 && r.getDouble(5) >= 0.0)
    }
  }

  test("backtest plan: bounded-frame broadcast lookbacks, no raw-row SMJ") {
    val p = plan("q_forecast")
    assert(!p.contains("SortMergeJoin"),
      s"calendar-bounded self-joins must broadcast:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected date-equi broadcasts:\n$p")
  }

  // ---- q_theil_u ------------------------------------------------------------

  test("Theil U2: the seasonal-naive model has U2 = 0 on a 7-periodic series") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tu").toString
    (0 until 63).map { i =>
      (java.sql.Timestamp.valueOf(java.time.LocalDate.of(2020, 1, 1)
        .plusDays(i.toLong).atStartOfDay()), 100.0 + 10.0 * (i % 7))
    }.toDF("o_orderdate", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    val r = SparkEntry.queries("q_theil_u")(spark, dir).head()
    assert(r.getLong(0) === Timeseries.BacktestDays.toLong)
    assert(r.getLong(1) === 0L, "lag-7 forecast is exact on periodic data")
    assert(r.getLong(2) > 0L, "the naive no-change forecast is NOT exact")
    assert(r.getDouble(3) === 0.0 && r.getLong(4) === 1L)
  }

  test("Theil U2 on real data: ratio consistent with its own micro sums") {
    val r = run("q_theil_u").head()
    assert(r.getLong(0) > 0L && r.getLong(2) > 0L)
    val want = math.floor(math.sqrt(r.getLong(1).toDouble / r.getLong(2)) *
      1e6 + 0.500001) / 1e6
    assert(r.getDouble(3) === want)
    assert(r.getLong(4) === (if (r.getDouble(3) < 1.0) 1L else 0L))
  }

  // ---- q_page_hinkley -------------------------------------------------------

  test("Page-Hinkley: a planted level shift raises the alarm at the boundary") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ph").toString
    // 60 quiet days at 100 then 40 days at 500: the PH statistic peaks
    // AFTER the shift and clears 3 sigma easily
    (0 until 100).map { i =>
      (java.sql.Timestamp.valueOf(java.time.LocalDate.of(2020, 1, 1)
        .plusDays(i.toLong).atStartOfDay()),
        if (i < 60) 100.0 else 500.0)
    }.toDF("o_orderdate", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    val r = SparkEntry.queries("q_page_hinkley")(spark, dir).head()
    assert(r.getLong(0) === 100L)
    assert(r.getDate(1).toLocalDate.isAfter(
      java.time.LocalDate.of(2020, 2, 29)), s"peak must follow the shift: $r")
    assert(r.getLong(4) === 1L, s"level shift must alarm: $r")
  }

  test("runs test: alternating series has maximal runs, a 2-block series R=2") {
    import spark.implicits._
    def mk(vals: Seq[Double]) = {
      val dir = java.nio.file.Files.createTempDirectory("graft_runs").toString
      vals.zipWithIndex.map { case (v, i) =>
        (java.sql.Timestamp.valueOf(java.time.LocalDate.of(2020, 1, 1)
          .plusDays(i.toLong).atStartOfDay()), v)
      }.toDF("o_orderdate", "o_totalprice").write.parquet(s"$dir/orders.parquet")
      dir
    }
    // strictly alternating up/down: every move is a new run ⇒ R = n,
    // far above E[R] ⇒ reject
    val alt = (0 until 41).map(i => if (i % 2 == 0) 100.0 else 200.0)
    val ra = SparkEntry.queries("q_runs_test")(spark, mk(alt)).head()
    assert(ra.getLong(0) === 20L && ra.getLong(1) === 20L)
    assert(ra.getLong(2) === 40L, s"every move flips: $ra")
    assert(ra.getDouble(4) > 1.96 && ra.getLong(5) === 1L)
    // 20 rises then 20 falls: exactly 2 runs, far below E[R] ⇒ reject
    val blocks = (0 until 21).map(i => 100.0 + i) ++
      (1 until 21).map(i => 120.0 - i)
    val rb = SparkEntry.queries("q_runs_test")(spark, mk(blocks)).head()
    assert(rb.getLong(2) === 2L && rb.getLong(5) === 1L, s"$rb")
  }

  test("Dickey-Fuller: a mean-reverting AR(1) rejects, a trendless walk shape doesn't") {
    import spark.implicits._
    def mk(vals: Seq[Double]) = {
      val dir = java.nio.file.Files.createTempDirectory("graft_df").toString
      vals.zipWithIndex.map { case (v, i) =>
        (java.sql.Timestamp.valueOf(java.time.LocalDate.of(2020, 1, 1)
          .plusDays(i.toLong).atStartOfDay()), v)
      }.toDF("o_orderdate", "o_totalprice").write.parquet(s"$dir/orders.parquet")
      dir
    }
    // deterministic strong mean reversion: x alternates around 1000 with
    // deterministic wobble (gamma ≈ -2, se tiny ⇒ hugely negative t)
    val rev = (0 until 120).map(i =>
      1000.0 + (if (i % 2 == 0) 50.0 else -50.0) + (i % 7))
    val rr = SparkEntry.queries("q_dickey_fuller")(spark, mk(rev)).head()
    assert(rr.getLong(0) === 119L)
    assert(rr.getDouble(1) < -1.0, s"alternation implies gamma near -2: $rr")
    assert(rr.getDouble(3) < -2.86 && rr.getLong(4) === 1L, s"$rr")
    // a pure deterministic ramp: dy is constant, gamma = 0 exactly ⇒
    // t = 0, cannot reject a unit root
    val ramp = (0 until 60).map(i => 100.0 + 10.0 * i)
    val rw = SparkEntry.queries("q_dickey_fuller")(spark, mk(ramp)).head()
    assert(rw.getDouble(1) === 0.0 && rw.getLong(4) === 0L, s"$rw")
  }

  test("KPSS: alternation around a constant mean scores exactly 1/80, a ramp rejects") {
    import spark.implicits._
    def mk(vals: Seq[Double]) = {
      val dir = java.nio.file.Files.createTempDirectory("graft_kpss").toString
      vals.zipWithIndex.map { case (v, i) =>
        (java.sql.Timestamp.valueOf(java.time.LocalDate.of(2020, 1, 1)
          .plusDays(i.toLong).atStartOfDay()), v)
      }.toDF("o_orderdate", "o_totalprice").write.parquet(s"$dir/orders.parquet")
      dir
    }
    // ±50 around 1000 over an even count: residuals alternate ±5000 cents,
    // partial sums bounce 5000,0,…  ⇒ eta = (20·5000²)/(40·40·5000²) = 1/80
    // exactly (every intermediate is an exact integer; one double division)
    val alt = (0 until 40).map(i => if (i % 2 == 0) 1050.0 else 950.0)
    val ra = SparkEntry.queries("q_kpss")(spark, mk(alt)).head()
    assert(ra.getLong(0) === 40L)
    assert(ra.getDouble(1) === 0.0125, s"alternation is level-stationary: $ra")
    assert(ra.getLong(2) === 0L)
    // a deterministic ramp drifts: partial sums of t − (n−1)/2 grow as n²,
    // eta far above the 0.463 critical ⇒ level stationarity rejected
    val ramp = (0 until 60).map(i => 100.0 + 10.0 * i)
    val rr = SparkEntry.queries("q_kpss")(spark, mk(ramp)).head()
    assert(rr.getDouble(1) > 0.463 && rr.getLong(2) === 1L, s"$rr")
    // a constant series has zero variance: abstains NULL, flag pinned 0
    val const = (0 until 30).map(_ => 500.0)
    val rc = SparkEntry.queries("q_kpss")(spark, mk(const)).head()
    assert(rc.isNullAt(1) && rc.getLong(2) === 0L, s"degenerate abstains: $rc")
  }

  test("rolling anomaly: a planted spike day tops the list and flags") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ra").toString
    // 60 quiet days with small wobble, then one 100x spike
    (0 until 61).map { i =>
      (java.sql.Timestamp.valueOf(java.time.LocalDate.of(2020, 1, 1)
        .plusDays(i.toLong).atStartOfDay()),
        if (i == 60) 10000.0 else 100.0 + (i % 5))
    }.toDF("o_orderdate", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    val out = SparkEntry.queries("q_rolling_anomaly")(spark, dir).collect()
    assert(out.nonEmpty && out.length <= 10)
    val top = out.head
    assert(top.getDate(0).toLocalDate ===
      java.time.LocalDate.of(2020, 3, 1), s"spike day must rank first: $top")
    assert(top.getDouble(3) > 3.0 && top.getLong(4) === 1L)
  }

  test("SAX: four 16-day levels symbolize to exactly a/b/c/d") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sax").toString
    (0 until 64).map { i =>
      (java.sql.Timestamp.valueOf(java.time.LocalDate.of(2020, 1, 1)
        .plusDays(i.toLong).atStartOfDay()), 100.0 * (1 + i / 16))
    }.toDF("o_orderdate", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    val out = SparkEntry.queries("q_sax_symbols")(spark, dir).collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L, 3L))
    assert(out.map(_.getString(2)).toSeq === Seq("a", "b", "c", "d"),
      s"rising levels map onto the alphabet in order: ${out.toSeq}")
    // the PAA z-values are symmetric around 0 by construction
    assert(math.abs(out(0).getDouble(1) + out(3).getDouble(1)) < 1e-6)
  }

  test("Page-Hinkley: a constant series never alarms") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ph0").toString
    (0 until 50).map { i =>
      (java.sql.Timestamp.valueOf(java.time.LocalDate.of(2020, 1, 1)
        .plusDays(i.toLong).atStartOfDay()), 250.0)
    }.toDF("o_orderdate", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    val r = SparkEntry.queries("q_page_hinkley")(spark, dir).head()
    assert(r.getDouble(2) === 0.0 && r.getLong(4) === 0L, s"flat series: $r")
  }

  // ---- q_burstiness ---------------------------------------------------------

  test("burstiness: a metronome scores exactly −1, a planted burst goes positive") {
    import spark.implicits._
    def ts(s0: Int) = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      .toInstant.plusSeconds(s0).toString.replace("T", " ").replace("Z", "")
    // user 1: perfectly regular 60 s gaps → σ = 0 → B = (0−μ)/(0+μ) = −1
    // user 2: four 1 s gaps then one 10000 s gap → heavy burst, B > 0.5
    val rows =
      (0 until 10).map(i => (1L, i.toLong, ts(60 * i))) ++
        ((0 until 5).map(i => (2L, 100L + i, ts(i))) :+ ((2L, 105L, ts(10004))))
    val dir = java.nio.file.Files.createTempDirectory("graft_burst").toString
    rows.toDF("user_id", "event_id", "ts")
      .withColumn("ts", to_timestamp(col("ts")))
      .write.parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q_burstiness")(spark, dir)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) === 9L)
    assert(out(1L).getDouble(4) === -1.0, s"metronome must score −1: ${out(1L)}")
    assert(out(2L).getLong(1) === 5L)
    // sample-σ at n=5 caps B below its asymptotic 1; the planted burst
    // lands at ≈ 0.38 — decisively positive against the −1 metronome
    assert(out(2L).getDouble(4) > 0.3, s"burst must go positive: ${out(2L)}")
  }

  test("burstiness on real data: B ∈ [−1, 1), gaps conserve event counts") {
    val rows = SparkEntry.queries("q_burstiness")(spark, sf).collect()
    assert(rows.nonEmpty)
    val events = graft.io.Sources.table(spark, sf, "events")
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getLong(1) === events(r.getLong(0)) - 1,
        s"gaps must be events − 1: $r")
      if (!r.isNullAt(4))
        assert(r.getDouble(4) >= -1.0 && r.getDouble(4) < 1.0, s"$r")
    }
  }

  // ---- q_holt_trend ---------------------------------------------------------

  test("Holt trend: a constant series holds level, an exact line learns its slope") {
    import spark.implicits._
    def day(x: Int) = java.time.LocalDate.of(1995, 1, 1).plusDays(x).toString
    // constant revenue: level stays exactly at the constant, trend exactly 0
    val flatDir = java.nio.file.Files.createTempDirectory("graft_holt1").toString
    (0 until 50).map(x => (day(x), 123.0)).toDF("o_orderdate", "o_totalprice")
      .write.parquet(s"$flatDir/orders.parquet")
    val rf = SparkEntry.queries("q_holt_trend")(spark, flatDir).head()
    assert(rf.getLong(0) === 50L)
    assert(rf.getDouble(1) === 123.0 && rf.getDouble(2) === 0.0, s"$rf")
    assert(rf.getDouble(3) === 123.0 && rf.getDouble(4) === 123.0)
    // exact line y = 100 + 10x: the fold converges toward slope 10; after
    // 200 observations the learned trend is within 2% and the 7-step
    // forecast tracks the true line within 3%
    val lineDir = java.nio.file.Files.createTempDirectory("graft_holt2").toString
    (0 until 200).map(x => (day(x), 100.0 + 10.0 * x))
      .toDF("o_orderdate", "o_totalprice")
      .write.parquet(s"$lineDir/orders.parquet")
    val rl = SparkEntry.queries("q_holt_trend")(spark, lineDir).head()
    assert(math.abs(rl.getDouble(2) - 10.0) < 0.2, s"trend ≈ slope: $rl")
    val trueAt206 = 100.0 + 10.0 * 206
    assert(math.abs(rl.getDouble(3) - trueAt206) / trueAt206 < 0.03,
      s"7-step forecast must track the line: $rl")
  }

  test("Holt trend matches a driver-side recurrence replay on real data") {
    val daily = graft.io.Sources.table(spark, sf, "orders")
      .groupBy(datediff(to_date(col("o_orderdate")),
        lit("1995-01-01").cast("date")).as("x"))
      .agg(sum(floor(col("o_totalprice") * lit(100.0) + lit(0.500001))
        .cast("long")).as("yc"))
      .orderBy("x").collect().map(r => r.getLong(1) / 100.0)
    var l = daily.head; var t = 0.0
    daily.tail.foreach { y =>
      val l1 = 0.2 * y + 0.8 * (l + t)
      t = 0.1 * (l1 - l) + 0.9 * t
      l = l1
    }
    val r = SparkEntry.queries("q_holt_trend")(spark, sf).head()
    def r4(x: Double) = math.floor(x * 1e4 + 0.500001) / 1e4
    assert(r.getDouble(1) === r4(l), s"level ${r.getDouble(1)} vs $l")
    assert(math.abs(r.getDouble(2) - t) < 1e-6, s"trend ${r.getDouble(2)} vs $t")
  }

  test("Holt plan: one shuffle to the daily frame, join-free fold") {
    val p = plan("q_holt_trend")
    assert(!p.contains("Join"), s"the fold is join-free:\n$p")
    assert(p.lastIndexOf("HashAggregate") > p.lastIndexOf("Exchange"),
      s"daily rows must partial-aggregate before the shuffle:\n$p")
  }

  // ---- q_drawdown -----------------------------------------------------------

  test("drawdown: running peak and shortfalls match a driver replay") {
    val rows = run("q_drawdown").collect().sortBy(_.getDate(0).getTime)
    assert(rows.nonEmpty)
    def r6(x: Double) = math.floor(x * 1e6 + 0.500001) / 1e6
    var peak = Long.MinValue
    var maxDd = 0.0
    val replay = rows.map { r =>
      peak = math.max(peak, r.getLong(1))
      val dd = if (peak > 0) r6((peak - r.getLong(1)).toDouble / peak) else 0.0
      maxDd = math.max(maxDd, dd)
      (peak, dd)
    }
    rows.zip(replay).foreach { case (r, (p, dd)) =>
      assert(r.getLong(2) === p, s"peak on ${r.getDate(0)}")
      assert(r.getDouble(3) === dd, s"drawdown on ${r.getDate(0)}")
    }
    rows.foreach(r => assert(r.getDouble(4) === r6(maxDd)))
    // peak days trade at zero drawdown; peaks are monotone
    assert(rows.exists(_.getDouble(3) == 0.0))
    assert(replay.map(_._1).sliding(2).forall(p => p(0) <= p(1)))
  }

  test("drawdown plan: join-free, one shuffle to the daily frame") {
    val p = plan("q_drawdown")
    assert(!p.contains("Join"), s"running peak is a window, not a self-join:\n$p")
    assert(p.lastIndexOf("HashAggregate") > p.lastIndexOf("Exchange"),
      s"cents partial-aggregate before the daily shuffle:\n$p")
  }

  // ---- q_ccf ----------------------------------------------------------------

  test("CCF matches a driver-side Pearson replay at every lag") {
    val ev = graft.io.Sources.table(spark, sf, "events")
      .select(to_date(col("ts")).as("day"), col("event_type")).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getString(1)))
    def daily(ty: String) = ev.filter(_._2 == ty).groupBy(_._1)
      .map { case (d, g) => d -> g.size.toLong }
    val vs = daily("view"); val ps = daily("purchase")
    def r6(x: Double) = math.floor(x * 1e6 + 0.500001) / 1e6
    val got = run("q_ccf").collect()
    assert(got.length === 7)
    got.foreach { r =>
      val k = r.getLong(0).toInt
      val pairs = vs.toSeq.flatMap { case (d, x) =>
        ps.get(d.plusDays(k)).map(y => (x, y)) }
      assert(r.getLong(1) === pairs.size.toLong, s"n_pairs at lag $k")
      if (pairs.size > 1) {
        val n = pairs.size.toDouble
        val sx = pairs.map(_._1).sum.toDouble
        val sy = pairs.map(_._2).sum.toDouble
        val sxy = pairs.map(p => p._1 * p._2).sum.toDouble
        val sxx = pairs.map(p => p._1 * p._1).sum.toDouble
        val syy = pairs.map(p => p._2 * p._2).sum.toDouble
        val denx = n * sxx - sx * sx; val deny = n * syy - sy * sy
        if (denx > 0 && deny > 0) {
          val want = r6((n * sxy - sx * sy) / math.sqrt(denx) / math.sqrt(deny))
          assert(math.abs(r.getDouble(2) - want) < 2e-6, s"ccf at lag $k")
          assert(math.abs(r.getDouble(2)) <= 1.0 + 1e-9)
        } else assert(r.isNullAt(2))
      } else assert(r.isNullAt(2))
    }
  }

  test("CCF plan: the 7-way shifted frame joins by broadcast only") {
    val p = plan("q_ccf")
    assert(p.contains("BroadcastHashJoin"), s"calendar join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no shuffle join on a bounded frame:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  // ---- q_conformal_forecast -------------------------------------------------

  test("conformal: a perfectly 7-periodic series gives zero-width intervals, full coverage") {
    import spark.implicits._
    def day(x: Int) = java.time.LocalDate.of(1995, 1, 1).plusDays(x).toString
    val vals = (0 until 70).map(d => (day(d), 100.0 + 10.0 * (d % 7)))
    val dir = java.nio.file.Files.createTempDirectory("graft_conf").toString
    vals.toDF("o_orderdate", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    val r = SparkEntry.queries("q_conformal_forecast")(spark, dir).head()
    assert(r.getLong(0) === 14L && r.getLong(1) === 14L)
    assert(r.getLong(2) === 0L, s"periodic series has zero residuals: $r")
    assert(r.getDouble(4) === 1.0, s"zero-width intervals still cover: $r")
  }

  test("conformal on real data: q matches the exact order-statistic replay") {
    val r = run("q_conformal_forecast").head()
    assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
    // replay the conformal rank from the daily frame
    val daily = graft.io.Sources.table(spark, sf, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(floor(col("o_totalprice") * lit(100.0) + lit(0.500001))
        .cast("long")).as("rev"))
      .collect().map(x => x.getDate(0).toLocalDate -> x.getLong(1)).toMap
    val maxDay = daily.keys.max(Ordering.by[java.time.LocalDate, Long](_.toEpochDay))
    val calib = daily.keys.toSeq
      .filter(d => d.isAfter(maxDay.minusDays(28)) &&
        !d.isAfter(maxDay.minusDays(14)))
      .flatMap(d => daily.get(d.minusDays(7)).map(p => math.abs(daily(d) - p)))
      .sorted
    val k = math.min(calib.length,
      math.ceil(0.9 * (calib.length + 1)).toLong.toInt)
    assert(r.getLong(2) === calib(k - 1), s"conformal q replay: $r")
  }

  // ---- q_seasonal_strength --------------------------------------------------

  test("seasonal strength: a planted weekly pulse scores high F_S; a ramp high F_T") {
    import spark.implicits._
    def day(x: Int) = java.time.LocalDate.of(1995, 1, 1).plusDays(x).toString
    def mk(vals: Seq[Double]) = {
      val dir = java.nio.file.Files.createTempDirectory("graft_sstr").toString
      vals.zipWithIndex.map { case (v, i) => (day(i), v) }
        .toDF("o_orderdate", "o_totalprice")
        .write.parquet(s"$dir/orders.parquet")
      SparkEntry.queries("q_seasonal_strength")(spark, dir).head()
    }
    // weekly pulse: +500 every 7th day over 10 weeks
    val pulse = (0 until 70).map(d => 100.0 + (if (d % 7 == 0) 500.0 else 0.0))
    val rp = mk(pulse)
    assert(rp.getDouble(2) > 0.8,
      s"a pure weekly pulse must show strong seasonality: $rp")
    // pure ramp: strong trend, no seasonality
    val ramp = (0 until 70).map(d => 100.0 + 10.0 * d)
    val rr = mk(ramp)
    assert(rr.getDouble(1) > 0.9, s"a ramp must show strong trend: $rr")
    assert(rr.getDouble(2) < rp.getDouble(2),
      "the ramp cannot out-season the pulse")
  }

  test("seasonal strength on real data: strengths in [0, 1]") {
    val r = run("q_seasonal_strength").head()
    Seq(1, 2).foreach { i =>
      assert(r.getDouble(i) >= 0.0 && r.getDouble(i) <= 1.0 + 1e-9)
    }
  }

  // ---- q_dau_mau ------------------------------------------------------------

  test("DAU/MAU: matches a driver-side trailing-window replay; bounds hold") {
    val ud = graft.io.Sources.table(spark, sf, "events")
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate))
    val rows = run("q_dau_mau").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val d = r.getDate(0).toLocalDate
      val dau = ud.count(_._2 == d).toLong
      val mau = ud.filter { case (_, ad) =>
        !ad.isAfter(d) && ad.isAfter(d.minusDays(30)) }
        .map(_._1).distinct.length.toLong
      assert(r.getLong(1) === dau, s"DAU on $d")
      assert(r.getLong(2) === mau, s"MAU on $d")
      assert(r.getLong(1) <= r.getLong(2), "DAU ≤ MAU always")
      assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0 + 1e-9)
    }
  }

  // ---- q_kleinberg_burst ----------------------------------------------------

  test("Kleinberg burst: a planted 10-day spike is one burst of exactly 10 days") {
    import spark.implicits._
    def day(x: Int) = java.time.LocalDate.of(1995, 1, 1).plusDays(x).toString
    // 5 orders/day for 60 days, except days 25..34 carry 20/day: λ = 7.5,
    // burst rate 15 — the emission gap (≈6.4/day in-burst vs ≈4/day out)
    // dwarfs γ = 2, so Viterbi brackets exactly the spike
    val rows = (0 until 60).flatMap { d =>
      val n = if (d >= 25 && d < 35) 20 else 5
      (0 until n).map(k => (day(d), 100.0 + k))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_kb").toString
    rows.toDF("o_orderdate", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    val r = SparkEntry.queries("q_kleinberg_burst")(spark, dir).head()
    assert(r.getLong(0) === 60L && r.getLong(1) === 50 * 5L + 10 * 20L)
    assert(r.getDouble(2) === 7.5)
    assert(r.getLong(3) === 10L, s"burst brackets the spike exactly: $r")
    assert(r.getLong(4) === 1L, s"one contiguous burst: $r")
    // a flat series never enters the burst state
    val flat = (0 until 40).flatMap(d => (0 until 5).map(k => (day(d), 9.0)))
    val dir2 = java.nio.file.Files.createTempDirectory("graft_kb2").toString
    flat.toDF("o_orderdate", "o_totalprice")
      .write.parquet(s"$dir2/orders.parquet")
    val rf = SparkEntry.queries("q_kleinberg_burst")(spark, dir2).head()
    assert(rf.getLong(3) === 0L && rf.getLong(4) === 0L, s"$rf")
  }

  test("Kleinberg burst on real data: burst days bound runs, rates sane") {
    val r = run("q_kleinberg_burst").head()
    assert(r.getLong(4) <= r.getLong(3), "every burst has ≥ 1 day")
    assert(r.getLong(3) <= r.getLong(0))
    assert(r.getDouble(2) > 0.0)
  }

  // ---- q_mann_kendall -------------------------------------------------------

  test("Mann–Kendall: a monotone ramp scores S = C(n,2) and flags; a constant abstains at 0") {
    import spark.implicits._
    def day(x: Int) = java.time.LocalDate.of(1995, 1, 1).plusDays(x).toString
    def mk(vals: Seq[Double]) = {
      val dir = java.nio.file.Files.createTempDirectory("graft_mk").toString
      vals.zipWithIndex.map { case (v, i) => (day(i), v) }
        .toDF("o_orderdate", "o_totalprice")
        .write.parquet(s"$dir/orders.parquet")
      SparkEntry.queries("q_mann_kendall")(spark, dir).head()
    }
    val ramp = mk((1 to 40).map(_.toDouble))
    assert(ramp.getLong(0) === 40L && ramp.getLong(1) === 40L * 39 / 2)
    assert(ramp.getLong(2) === 40L * 39 / 2, "every pair votes up")
    assert(ramp.getLong(4) === 1L, "a strict ramp must trend")
    val const = mk(Seq.fill(30)(7.0))
    assert(const.getLong(2) === 0L && const.getDouble(3) === 0.0)
    assert(const.getLong(4) === 0L,
      "a constant series has S = 0 and the tie correction kills Var misuse")
  }

  test("Mann–Kendall on real data: |S| bounded by the pair census, flag consistent") {
    val r = run("q_mann_kendall").head()
    assert(math.abs(r.getLong(2)) <= r.getLong(1))
    assert(r.getLong(1) === r.getLong(0) * (r.getLong(0) - 1) / 2)
    assert(r.getLong(4) ===
      (if (math.abs(r.getDouble(3)) > 1.959963984540054) 1L else 0L))
  }

  // ---- q_watermark_lateness -------------------------------------------------

  test("watermark lateness: bands cover every event, tails match the replayed delays") {
    val rows = run("q_watermark_lateness").collect()
    val total = graft.io.Sources.table(spark, sf, "events").count()
    assert(rows.map(_.getLong(1)).sum === total,
      "every event lands in exactly one band")
    val share = rows.map(_.getDouble(3)).sum
    assert(math.abs(share - 1.0) < 1e-4, s"shares sum to 1: $share")
    // a 0..2h planted transport delay can never produce lateness > 2h +
    // the max per-user inter-event gap tail — but it MUST produce some
    // out-of-order arrivals on a dense log
    assert(rows.exists(r => r.getString(0) != "0_on_time" && r.getLong(1) > 0),
      "the delay replay must reorder something")
    rows.foreach { r =>
      if (r.getString(0) == "0_on_time") assert(r.getLong(2) === 0L)
      else assert(r.getLong(2) > 0L)
    }
  }

  test("watermark lateness plan: one user shuffle, single window, no join") {
    val p = plan("q_watermark_lateness")
    assert(!p.contains("Join"), s"lateness is a window, not a self-join:\n$p")
    val n = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(n <= 3,
      s"user shuffle + bounded band agg + bounded share window, got $n:\n$p")
    assert(p.contains("partial_count"),
      s"band counts must partial-aggregate map-side:\n$p")
  }

  // ---- q_holt_winters -------------------------------------------------------

  test("Holt–Winters: a constant series holds level exactly with zero trend/seasonals") {
    import spark.implicits._
    def day(x: Int) = java.time.LocalDate.of(1995, 1, 1).plusDays(x).toString
    val dir = java.nio.file.Files.createTempDirectory("graft_hw").toString
    (0 until 60).map(x => (day(x), 250.0)).toDF("o_orderdate", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    val r = SparkEntry.queries("q_holt_winters")(spark, dir).head()
    assert(r.getLong(0) === 60L)
    assert(r.getDouble(1) === 250.0 && r.getDouble(2) === 0.0)
    (3 to 9).foreach(i => assert(r.getDouble(i) === 0.0, s"seasonal $i"))
    assert(r.getDouble(10) === 250.0, "forecast holds the level")
  }

  test("Holt–Winters matches an exact driver-side recurrence replay on real data") {
    val daily = graft.io.Sources.table(spark, sf, "orders")
      .groupBy(datediff(to_date(col("o_orderdate")),
        lit("1995-01-01").cast("date")).as("x"))
      .agg(sum(floor(col("o_totalprice") * lit(100.0) + lit(0.500001))
        .cast("long")).as("yc"))
      .orderBy("x").collect()
      .map(r => (r.getInt(0), r.getLong(1).toDouble / 100.0))
    var l = daily.head._2; var b = 0.0
    val s = Array.fill(7)(0.0)
    daily.tail.foreach { case (x, y) =>
      val dow = ((x % 7) + 7) % 7
      val sd = s(dow)
      val lv = 0.2 * (y - sd) + 0.8 * (l + b)
      val bv = 0.1 * (lv - l) + 0.9 * b
      s(dow) = 0.3 * (y - lv) + 0.7 * sd
      l = lv; b = bv
    }
    def r4d(x: Double) = math.floor(x * 1e4 + 0.500001) / 1e4
    def r6d(x: Double) = math.floor(x * 1e6 + 0.500001) / 1e6
    val r = SparkEntry.queries("q_holt_winters")(spark, sf).head()
    assert(r.getLong(0) === daily.length.toLong)
    assert(r.getDouble(1) === r4d(l), "level")
    assert(r.getDouble(2) === r6d(b), "trend")
    (0 until 7).foreach(i =>
      assert(r.getDouble(3 + i) === r4d(s(i)), s"seasonal slot $i"))
    val lastDow = ((daily.last._1 % 7) + 7) % 7
    assert(r.getDouble(10) === r4d(l + 7.0 * b + s(lastDow)), "forecast_7")
  }

  // ---- q_hurst --------------------------------------------------------------

  test("Hurst: a pure linear trend scores H ≈ 1; blocks and sizes are exact") {
    import spark.implicits._
    def day(x: Int) = java.time.LocalDate.of(1995, 1, 1).plusDays(x).toString
    // one order per day, cents = 100·(i+1): a deterministic ramp is the
    // maximally persistent series — R/S grows ∝ m, so the log-log slope
    // is 1 (driver-replayed expectation 0.9964 at 320 days)
    val dir = java.nio.file.Files.createTempDirectory("graft_hurst").toString
    (0 until 320).map(x => (day(x), (x + 1).toDouble))
      .toDF("o_orderdate", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    val rows = SparkEntry.queries("q_hurst")(spark, dir).collect()
      .sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq === Seq(8L, 16L, 32L, 64L))
    assert(rows.map(_.getLong(1)).toSeq === Seq(40L, 20L, 10L, 5L),
      "complete blocks only: 320/m each")
    val h = rows.head.getDouble(3)
    rows.foreach(r => assert(r.getDouble(3) === h, "H is a global scalar"))
    assert(math.abs(h - 1.0) < 0.05, s"ramp must score H ≈ 1: $h")
    // mean R/S roughly doubles with m on a trend
    val mrs = rows.map(_.getDouble(2))
    assert(mrs.sliding(2).forall(p => p(1) > p(0) * 1.7), mrs.toSeq.toString)
  }

  test("Hurst matches an all-integer driver replay on real data") {
    val daily = graft.io.Sources.table(spark, sf, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(floor(col("o_totalprice") * lit(100.0) + lit(0.500001))
        .cast("long")).as("rev"))
      .orderBy("day").collect().map(_.getLong(1))
    def meanRs(m: Int): (Long, Double) = {
      val micros = daily.grouped(m).filter(_.length == m).flatMap { blk =>
        val s = blk.sum
        val s2 = blk.map(v => BigInt(v) * BigInt(v)).sum
        val mz = blk.scanLeft(0L)(_ + _).tail.zipWithIndex
          .map { case (cum, j) => m * cum - (j + 1) * s }
        val v = BigInt(m) * s2 - BigInt(s) * BigInt(s)
        if (v > 0)
          Some(math.floor((mz.max - mz.min).toDouble /
            math.sqrt(v.toDouble) * 1e6).toLong)
        else None
      }.toSeq
      (micros.length.toLong, micros.sum.toDouble / micros.length / 1e6)
    }
    def r6(x: Double) = math.floor(x * 1e6 + 0.500001) / 1e6
    val rows = SparkEntry.queries("q_hurst")(spark, sf).collect()
      .sortBy(_.getLong(0))
    val pts = rows.map { r =>
      val (nb, mrs) = meanRs(r.getLong(0).toInt)
      assert(r.getLong(1) === nb, s"block census at m=${r.getLong(0)}")
      assert(r.getDouble(2) === r6(mrs), s"mean R/S at m=${r.getLong(0)}")
      (math.log(r.getLong(0).toDouble), math.log(mrs))
    }
    val (xs, ys) = (pts.map(_._1), pts.map(_._2))
    val sl = (4.0 * xs.zip(ys).map(p => p._1 * p._2).sum - xs.sum * ys.sum) /
      (4.0 * xs.map(x => x * x).sum - xs.sum * xs.sum)
    rows.foreach(r => assert(math.abs(r.getDouble(3) - sl) < 2e-6, s"H: $r"))
  }

  test("Hurst plan: join-free up to the 1-row slope broadcast, no cartesian") {
    val p = plan("q_hurst")
    assert(!p.contains("SortMergeJoin"), s"no shuffle join:\n$p")
    assert(!p.contains("CartesianProduct"), s"slope attach must broadcast:\n$p")
    assert(p.lastIndexOf("HashAggregate") > p.lastIndexOf("Exchange"),
      s"cents partial-aggregate before the daily shuffle:\n$p")
  }

  test("Pettitt: a planted level shift pins K = 900 at the break day exactly") {
    import spark.implicits._
    def mk(vals: Seq[Double]) = {
      val dir = java.nio.file.Files.createTempDirectory("graft_pt").toString
      vals.zipWithIndex.map { case (v, i) =>
        (java.sql.Timestamp.valueOf(java.time.LocalDate.of(2020, 1, 1)
          .plusDays(i.toLong).atStartOfDay()), v)
      }.toDF("o_orderdate", "o_totalprice").write.parquet(s"$dir/orders.parquet")
      dir
    }
    // 30 days at 100 then 30 at 500: every low day has (below, above) =
    // (0, 30) ⇒ d = −30 (ties count in NEITHER frame — the exact sgn
    // census), so U_t = −30t bottoms at t = 30: K = 900 exactly, the
    // break day is the last low day, and p ≈ 2e^(−22.1) rounds to 0
    val shift = (0 until 60).map(i => if (i < 30) 100.0 else 500.0)
    val rs = SparkEntry.queries("q_pettitt")(spark, mk(shift)).head()
    assert(rs.getLong(0) === 60L)
    assert(rs.getDate(1).toLocalDate === java.time.LocalDate.of(2020, 1, 30),
      s"break at the last low day: $rs")
    assert(rs.getLong(2) === 900L && rs.getLong(3) === -900L, s"$rs")
    assert(rs.getDouble(4) === 0.0 && rs.getLong(5) === 1L)
    // a constant series: every sgn is 0, U ≡ 0, the approximation clamps
    // to p = 1, nothing rejects, first day wins the all-tie argmax
    val const = (0 until 30).map(_ => 500.0)
    val rc = SparkEntry.queries("q_pettitt")(spark, mk(const)).head()
    assert(rc.getLong(2) === 0L && rc.getDouble(4) === 1.0 &&
      rc.getLong(5) === 0L, s"$rc")
    assert(rc.getDate(1).toLocalDate === java.time.LocalDate.of(2020, 1, 1))
  }

  test("turning points: alternation saturates T = n−2, a ramp has none") {
    import spark.implicits._
    def mk(vals: Seq[Double]) = {
      val dir = java.nio.file.Files.createTempDirectory("graft_tp").toString
      vals.zipWithIndex.map { case (v, i) =>
        (java.sql.Timestamp.valueOf(java.time.LocalDate.of(2020, 1, 1)
          .plusDays(i.toLong).atStartOfDay()), v)
      }.toDF("o_orderdate", "o_totalprice").write.parquet(s"$dir/orders.parquet")
      dir
    }
    // strict alternation: every interior day is an extremum ⇒ T = 39 vs
    // E = 26 ⇒ z = 13/√(627/90) ≈ 4.93, far too MANY phases
    val alt = (0 until 41).map(i => if (i % 2 == 0) 100.0 else 200.0)
    val ra = SparkEntry.queries("q_turning_points")(spark, mk(alt)).head()
    assert(ra.getLong(0) === 41L && ra.getLong(1) === 39L)
    assert(ra.getDouble(2) === 26.0 && ra.getDouble(3) > 1.96 &&
      ra.getLong(4) === 1L, s"$ra")
    // a strict ramp has zero extrema ⇒ far too FEW
    val ramp = (0 until 40).map(i => 100.0 + 10.0 * i)
    val rr = SparkEntry.queries("q_turning_points")(spark, mk(ramp)).head()
    assert(rr.getLong(1) === 0L && rr.getDouble(3) < -1.96 &&
      rr.getLong(4) === 1L, s"$rr")
  }

  test("Cook's distance: a planted off-line spike day ranks first and flags") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cd").toString
    // 40 days exactly on 100 + 10t dollars, except day 20 spiked 100×:
    // every other residual is small, the spike owns the ranking
    (0 until 40).map { i =>
      (java.sql.Timestamp.valueOf(java.time.LocalDate.of(2020, 1, 1)
        .plusDays(i.toLong).atStartOfDay()),
        if (i == 20) 30000.0 else 100.0 + 10.0 * i)
    }.toDF("o_orderdate", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    val rows = SparkEntry.queries("q_cooks_distance")(spark, dir).collect()
    assert(rows.length === 10)
    val top = rows.head
    assert(top.getDate(0).toLocalDate ===
      java.time.LocalDate.of(2020, 1, 21), s"spike day must rank first: $top")
    assert(top.getLong(4) === 1L, s"spike is influential at 4/n: $top")
    rows.foreach { r =>
      assert(r.getDouble(2) > 0.0 && r.getDouble(2) < 1.0,
        s"leverage in (0,1): $r")
      assert(r.getDouble(3) >= 0.0, s"D nonneg: $r")
    }
  }

  test("Breusch–Pagan: growing wobble rejects, exactly-constant wobble abstains") {
    import spark.implicits._
    def mk(vals: Seq[Double]) = {
      val dir = java.nio.file.Files.createTempDirectory("graft_bp").toString
      vals.zipWithIndex.map { case (v, i) =>
        (java.sql.Timestamp.valueOf(java.time.LocalDate.of(2020, 1, 1)
          .plusDays(i.toLong).atStartOfDay()), v)
      }.toDF("o_orderdate", "o_totalprice").write.parquet(s"$dir/orders.parquet")
      dir
    }
    // amplitude grows linearly with t: squared residuals trend up ⇒
    // positive het slope, LM far past χ²₁
    val grow = (0 until 80).map(i =>
      1000.0 + (if (i % 2 == 0) 1.0 else -1.0) * (i + 1))
    val rg = SparkEntry.queries("q_breusch_pagan")(spark, mk(grow)).head()
    assert(rg.getLong(0) === 80L)
    assert(rg.getDouble(1) > 0.0, s"variance grows with t: $rg")
    assert(rg.getDouble(2) > 3.8415 && rg.getLong(3) === 1L, s"$rg")
    // the (+,−,−,+) Morse pattern around an exact line: Σε = Σtε = 0 per
    // 4-block, so OLS recovers the true line EXACTLY and every squared
    // residual is the same integer ⇒ Suu = 0 ⇒ abstains NULL
    val morse = Seq(1.0, -1.0, -1.0, 1.0)
    val const = (0 until 40).map(i => 1000.0 + 2.0 * i + 50.0 * morse(i % 4))
    val rc = SparkEntry.queries("q_breusch_pagan")(spark, mk(const)).head()
    assert(rc.isNullAt(1) && rc.isNullAt(2) && rc.getLong(3) === 0L,
      s"flat u abstains: $rc")
  }

  test("Chow: a planted slope break at 1998-01-01 rejects; one line does not") {
    import spark.implicits._
    // 32 pre-break days (multiples of 4 keep the Morse blocks whole) +
    // 32 post; the (+,−,−,+) wobble makes every segment fit EXACT
    def mk(pre: Int => Double, post: Int => Double) = {
      val dir = java.nio.file.Files.createTempDirectory("graft_chow").toString
      val morse = Seq(1.0, -1.0, -1.0, 1.0)
      (0 until 64).map { i =>
        val base = if (i < 32) pre(i) else post(i)
        (java.sql.Timestamp.valueOf(java.time.LocalDate.of(1997, 11, 30)
          .plusDays(i.toLong).atStartOfDay()), base + 50.0 * morse(i % 4))
      }.toDF("o_orderdate", "o_totalprice").write.parquet(s"$dir/orders.parquet")
      dir
    }
    // slope jumps 2 → 20 and the level jumps: the pooled line cannot fit
    val rb = SparkEntry.queries("q_chow")(
      spark, mk(i => 1000.0 + 2.0 * i, i => 5000.0 + 20.0 * i)).head()
    assert(rb.getLong(0) === 32L && rb.getLong(1) === 32L)
    assert(rb.getDouble(2) > 2.9957 && rb.getLong(4) === 1L, s"$rb")
    assert(rb.getDouble(3) > 0.9, s"the break owns the RSS: $rb")
    // one line throughout: all three fits recover it exactly, the break
    // explains nothing ⇒ F = 0
    val one = (i: Int) => 1000.0 + 2.0 * i
    val rn = SparkEntry.queries("q_chow")(spark, mk(one, one)).head()
    assert(rn.getDouble(2) < 1.0 && rn.getLong(4) === 0L, s"$rn")
    assert(math.abs(rn.getDouble(3)) < 1e-6, s"no break share: $rn")
  }

  test("RDD: a planted level jump at the cutoff recovers both limits exactly; a missing side abstains") {
    import spark.implicits._
    // two exact local lines with the (+,−,−,+) Morse wobble (Σε = Σtε = 0
    // per 4-block ⇒ OLS recovers each line EXACTLY, rss = 8c² > 0 so the
    // SE is defined): left y = 1000 + 2t $, right y = 500 + t $ — the
    // jump at t = 0 is −500 $ by construction
    def mk(sides: Range*): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft_rdd").toString
      val morse = Seq(1.0, -1.0, -1.0, 1.0)
      sides.flatMap(_.zipWithIndex.map { case (tt, i) =>
        val base = if (tt < 0) 1000.0 + 2.0 * tt else 500.0 + 1.0 * tt
        (java.sql.Timestamp.valueOf(java.time.LocalDate.of(1998, 1, 1)
          .plusDays(tt.toLong).atStartOfDay()), base + 0.4 * morse(i % 4))
      }).toDF("o_orderdate", "o_totalprice")
        .write.parquet(s"$dir/orders.parquet")
      dir
    }
    val r = SparkEntry.queries("q_rdd")(spark, mk(-8 until 0, 0 until 8)).head()
    assert(r.getLong(0) === 8L && r.getLong(1) === 8L)
    assert(r.getDouble(2) === 1000.0 && r.getDouble(3) === 500.0, s"$r")
    assert(r.getDouble(4) === -500.0, s"jump: $r")
    assert(r.getDouble(5) === 2.0 && r.getDouble(6) === 1.0, s"slopes: $r")
    assert(r.getDouble(7) < 0.0 && r.getLong(8) === 1L, s"z/reject: $r")
    // no left-side data inside the bandwidth → that limit (and z) abstain
    val ra = SparkEntry.queries("q_rdd")(spark, mk(0 until 8)).head()
    assert(ra.getLong(0) === 0L && ra.isNullAt(2) && ra.isNullAt(4) &&
      ra.isNullAt(7) && ra.getLong(8) === 0L, s"$ra")
  }

  test("seasonal MK: planted same-weekday monotone trends sum S across seasons") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mks").toString
    // 4 Mondays rising + 4 Tuesdays rising (distinct values, no ties):
    // S = 2 seasons × C(4,2) = 12, var18 = 2 · 4·3·13 = 312
    val days = Seq("1998-01-05" -> 100.0, "1998-01-06" -> 150.0,
      "1998-01-12" -> 200.0, "1998-01-13" -> 250.0,
      "1998-01-19" -> 300.0, "1998-01-20" -> 350.0,
      "1998-01-26" -> 400.0, "1998-01-27" -> 450.0)
    days.map { case (d, v) =>
      (java.sql.Timestamp.valueOf(java.time.LocalDate.parse(d).atStartOfDay()), v)
    }.toDF("o_orderdate", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    val r = SparkEntry.queries("q_mk_seasonal")(spark, dir).head()
    assert(r.getLong(0) === 8L && r.getLong(1) === 2L &&
      r.getLong(2) === 12L && r.getLong(3) === 12L, s"$r")
    val z = (12.0 - 1.0) / math.sqrt(312.0 / 18.0)
    assert(r.getDouble(4) === math.floor(z * 1000000.0 + 0.500001) / 1000000.0,
      s"$r")
    assert(r.getLong(5) === 1L, s"monotone seasons must trend: $r")
  }

  test("Bartels RVN: monotone ranks read sticky, alternation reads alternating, constant abstains") {
    import spark.implicits._
    def mk(rev: Int => Double, n: Int = 20) = {
      val dir = java.nio.file.Files.createTempDirectory("graft_rvn").toString
      (0 until n).map { i =>
        (java.sql.Timestamp.valueOf(java.time.LocalDate.of(1998, 1, 1)
          .plusDays(i.toLong).atStartOfDay()), rev(i))
      }.toDF("o_orderdate", "o_totalprice").write.parquet(s"$dir/orders.parquet")
      dir
    }
    // strictly increasing: every rank step is 1 ⇒ RVN = (N−1)·4 / den4,
    // far below 2 — replicate the doubled-rank float chain exactly
    val upR = SparkEntry.queries("q_bartels_rank")(spark,
      mk(i => 100.0 + 10.0 * i)).head
    val n = 20
    val sdd = (1 to n).map(i => (2L * i) * (2L * i)).sum.toDouble
    val den0 = sdd - n.toDouble * (n + 1.0) * (n + 1.0)
    val rvn = ((n - 1) * 4).toDouble / den0
    def r6(x: Double): Double =
      math.floor(x * 1000000.0 + 0.500001) / 1000000.0
    assert(upR.getLong(0) === 20L && upR.getDouble(1) === r6(rvn), s"$upR")
    assert(upR.getLong(3) === 1L && upR.getLong(4) === 0L,
      s"monotone must read sticky: $upR")
    // strict alternation (low/high interleave): successive rank jumps are
    // near-maximal ⇒ RVN ≈ 2.6; at N = 60 the z clears the one-sided
    // critical (Var(RVN) ≈ 4/N shrinks the band)
    val alt = SparkEntry.queries("q_bartels_rank")(spark,
      mk(i => if (i % 2 == 0) 100.0 + i else 1000.0 + i, n = 60)).head
    assert(alt.getDouble(1) > 2.0 && alt.getLong(4) === 1L &&
      alt.getLong(3) === 0L, s"$alt")
    // constant series: rank variance is 0 ⇒ abstain NULL
    val flat = SparkEntry.queries("q_bartels_rank")(spark, mk(_ => 100.0)).head
    assert(flat.getLong(0) === 20L && flat.isNullAt(1) && flat.isNullAt(2) &&
      flat.getLong(3) === 0L && flat.getLong(4) === 0L, s"$flat")
  }

  test("Gumbel block maxima: MoM fit replicates the closed form on 12 planted months; short frames abstain") {
    import spark.implicits._
    def mk(months: Int): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft_gum").toString
      (0 until months).map { i =>
        (java.sql.Timestamp.valueOf(java.time.LocalDate.of(1998, 1, 15)
          .plusMonths(i.toLong).atStartOfDay()), 1000.0 + 100.0 * i)
      }.toDF("o_orderdate", "o_totalprice")
        .write.parquet(s"$dir/orders.parquet")
      dir
    }
    val r = SparkEntry.queries("q_gumbel_max")(spark, mk(12)).head()
    assert(r.getLong(0) === 12L)
    // replicate the engine's exact float sequence off the exact moments
    val ms = (0 until 12).map(i => 100000L + 10000L * i)
    val n = 12.0
    val sm = ms.sum.toDouble
    val smm = ms.map(m => BigInt(m) * BigInt(m)).sum.toDouble
    val mean = sm / n
    val svar = (smm - sm * sm / n) / (n - 1.0)
    val beta = math.sqrt(svar) * (math.sqrt(6.0) / math.Pi)
    val mu = mean - 0.5772156649015329 * beta
    val rl12 = mu - beta * math.log(-math.log(1.0 - 1.0 / 12.0))
    val rl120 = mu - beta * math.log(-math.log(1.0 - 1.0 / 120.0))
    def d2(c: Double): Double = math.floor(c / 100.0 * 100.0 + 0.500001) / 100.0
    assert(r.getDouble(1) === d2(mean) && r.getDouble(2) === d2(mu) &&
      r.getDouble(3) === d2(beta), s"$r")
    assert(r.getDouble(4) === d2(rl12) && r.getDouble(5) === d2(rl120), s"$r")
    assert(r.getDouble(5) > r.getDouble(4) && r.getDouble(4) > r.getDouble(1),
      s"return levels must order decade > year > mean: $r")
    // 3 blocks: below the 12-block floor → everything but the count abstains
    val ra = SparkEntry.queries("q_gumbel_max")(spark, mk(3)).head()
    assert(ra.getLong(0) === 3L && ra.isNullAt(1) && ra.isNullAt(4), s"$ra")
  }

  test("transfer entropy: a delayed copy channels information, constant v is exactly 0") {
    import spark.implicits._
    def write(rows: Seq[(java.time.LocalDate, Double, Int)]): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft_te").toString
      rows.flatMap { case (d, total, cnt) =>
        val ts = java.sql.Timestamp.valueOf(d.atStartOfDay())
        (0 until cnt).map(_ => (ts, total / cnt))
      }.toDF("o_orderdate", "o_totalprice").write.parquet(s"$dir/orders.parquet")
      dir
    }
    // order-count moves follow the 3-cycle (1,2,2) ⇒ v = 1,0,0 repeating;
    // revenue copies v one day late (u_t = v_{t−1}), so conditioning on
    // x adds real information in BOTH directions of this deterministic
    // system — the flag just has to agree with the rounded pair
    val d0 = java.time.LocalDate.of(2020, 1, 1)
    var rev = 1000.0
    val rows = (0 until 62).map { t =>
      val cnt = Seq(1, 2, 2)(t % 3)
      val vPrev = (t - 1) % 3 == 1 // v_{t−1} = 1 iff (t−1) ≡ 1 (mod 3)
      if (t > 0) rev = if (vPrev) rev + 1.0 else rev - 0.5
      (d0.plusDays(t.toLong), rev, cnt)
    }
    val rt = SparkEntry.queries("q_transfer_entropy")(spark, write(rows)).head()
    assert(rt.getLong(0) === 60L, s"N = 62 − 2 lags: $rt")
    assert(rt.getDouble(1) > 0.3, s"delayed copy must channel info: $rt")
    assert(rt.getLong(3) ===
      (if (rt.getDouble(1) > rt.getDouble(2)) 1L else 0L))
    // constant order count: x1 is a single symbol ⇒ conditioning on it
    // changes nothing ⇒ TE(X→Y) = 0 exactly; a constant TARGET likewise
    // zeroes TE(Y→X) term-by-term
    val flat = (0 until 30).map(t =>
      (d0.plusDays(t.toLong), 1000.0 + Seq(7, -3, 1)(t % 3) * t, 1))
    val rf = SparkEntry.queries("q_transfer_entropy")(spark, write(flat)).head()
    assert(rf.getDouble(1) === 0.0 && rf.getDouble(2) === 0.0 &&
      rf.getLong(3) === 0L, s"$rf")
  }

  test("PACF: lag-1 equals ACF by definition, constant series abstains, DL identity holds") {
    import spark.implicits._
    val rows = SparkEntry.queries("q_pacf")(spark, sf).collect()
    assert(rows.length === 5)
    val byLag = rows.map(r => r.getLong(0) -> r).toMap
    // Durbin–Levinson base case: φ₁₁ = r₁ exactly (same rounded column)
    assert(byLag(1L).getDouble(2) === byLag(1L).getDouble(3))
    // lag-2 identity on the rounded outputs: φ₂₂ = (r₂ − r₁²)/(1 − r₁²)
    val r1 = byLag(1L).getDouble(2); val r2 = byLag(2L).getDouble(2)
    assert(math.abs(byLag(2L).getDouble(3) -
      (r2 - r1 * r1) / (1.0 - r1 * r1)) < 1e-4, s"DL lag-2: ${byLag(2L)}")
    rows.foreach(r => if (!r.isNullAt(3))
      assert(math.abs(r.getDouble(3)) <= 1.0 + 1e-6, s"|pacf| ≤ 1: $r"))
    // constant series: zero variance ⇒ every r_k and φ_kk abstains NULL
    val dir = java.nio.file.Files.createTempDirectory("graft_pacf").toString
    (0 until 30).map(i =>
      (java.sql.Timestamp.valueOf(java.time.LocalDate.of(2020, 1, 1)
        .plusDays(i.toLong).atStartOfDay()), 500.0))
      .toDF("o_orderdate", "o_totalprice").write.parquet(s"$dir/orders.parquet")
    SparkEntry.queries("q_pacf")(spark, dir).collect().foreach { r =>
      assert(r.isNullAt(2) && r.isNullAt(3), s"degenerate abstains: $r")
    }
  }

  test("winsorize: planted 1..20 ramp clips one value per tail to the exact fences") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_wz").toString
    (0 until 20).map(i =>
      (java.sql.Timestamp.valueOf(java.time.LocalDate.of(2020, 1, 1)
        .plusDays(i.toLong).atStartOfDay()), (i + 1) * 1.0))
      .toDF("o_orderdate", "o_totalprice").write.parquet(s"$dir/orders.parquet")
    // cents 100..2000: p05 interpolates 100 + 0.95·100 = 195, p95 = 1905;
    // winsorized sum = 195 + (200+…+1900) + 1905 = 21000 ⇒ mean $10.50
    val r = SparkEntry.queries("q_winsorize")(spark, dir).head()
    assert(r.getLong(0) === 20L)
    assert(r.getDouble(1) === 1.95 && r.getDouble(2) === 19.05, s"$r")
    assert(r.getLong(3) === 1L && r.getLong(4) === 1L, s"one clip per tail: $r")
    assert(r.getDouble(5) === 10.5, s"winsorized mean: $r")
  }

  test("Pettitt on real data: K bounded by t(n−t), p in [0,1], U telescopes") {
    val r = SparkEntry.queries("q_pettitt")(spark, sf).head()
    val n = r.getLong(0)
    assert(n > 0L && r.getLong(2) <= n * n / 4 + n,
      s"K exceeds the max-split bound: $r")
    assert(math.abs(r.getLong(3)) === r.getLong(2), "K = |U at the break|")
    assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
    assert(r.getLong(5) === (if (r.getDouble(4) < 0.05) 1L else 0L))
  }
}
