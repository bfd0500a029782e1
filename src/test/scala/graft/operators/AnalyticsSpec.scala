package graft.operators

import graft.{SparkSpec, SparkEntry}
import org.apache.spark.sql.functions._

/** Semantic invariants + plan-shape gates for the marketing-analytics /
  * rank-fusion family (Analytics.scala). The DuckDB hash gate pins exact
  * values; these pin the arithmetic that makes the answers right (cohort
  * denominators, funnel monotonicity, segment digit consistency, RRF rank
  * bounds, centroid exactness) and the plan shapes that make them scale
  * (no self-joins where a window suffices, broadcast-only joins, top-k via
  * TakeOrdered rather than a global sort).
  */
class AnalyticsSpec extends SparkSpec {

  private val sf = graft.TestData.Sf0001

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  private def plan(name: String): String = {
    spark.catalog.clearCache()
    run(name).queryExecution.executedPlan.toString
  }

  // ---- q_cohort_retention -------------------------------------------------

  test("cohort retention: month-0 rate is 1.0 and no cell exceeds its cohort") {
    val rows = run("q_cohort_retention").collect()
    assert(rows.nonEmpty)
    val byCohort = rows.groupBy(_.getLong(0))
    byCohort.foreach { case (_, cells) =>
      val m0 = cells.find(_.getLong(1) == 0L)
      assert(m0.isDefined, "cohort missing its month-0 cell")
      val n0 = m0.get.getLong(2)
      assert(m0.get.getDouble(3) === 1.0)
      // retention never counts more actives than the cohort had members
      cells.foreach(c => assert(c.getLong(2) <= n0))
    }
  }

  test("cohort retention: denominator rides a window, not a self-join") {
    val p = plan("q_cohort_retention")
    assert(!p.contains("Join"), s"expected join-free cohort plan:\n$p")
  }

  // ---- q_funnel -----------------------------------------------------------

  test("growth accounting: planted user journeys decompose exactly; identities hold on real data") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_growth").toString
    // week anchor 2000-01-03: 2024-01-01 falls in a known week; use three
    // consecutive Mondays so weeks are unambiguous. u1 retained both
    // weeks; u2 churns after week 1; u3 skips week 2 and resurrects.
    def day(w: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(2024, 1, 1).plusDays(7L * w).atStartOfDay())
    val evs = Seq((1L, day(0)), (1L, day(1)), (1L, day(2)),
      (2L, day(0)), (3L, day(0)), (3L, day(2)))
      .toDF("user_id", "ts")
      .withColumn("event_id", monotonically_increasing_id())
      .withColumn("event_type", lit("view"))
      .withColumn("value", lit(1.0))
    evs.write.parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q_growth_accounting")(spark, dir)
      .orderBy("week_idx").collect()
    assert(out.length === 3)
    // week 1: all 3 new; week 2: u1 retained, u2+u3 churned; week 3: u1
    // retained, u3 resurrected
    assert((out(0).getLong(1), out(0).getLong(2), out(0).getLong(3),
      out(0).getLong(4), out(0).getLong(5)) === ((3L, 3L, 0L, 0L, 0L)))
    assert((out(1).getLong(1), out(1).getLong(2), out(1).getLong(3),
      out(1).getLong(4), out(1).getLong(5)) === ((1L, 0L, 1L, 0L, 2L)))
    assert((out(2).getLong(1), out(2).getLong(2), out(2).getLong(3),
      out(2).getLong(4), out(2).getLong(5)) === ((2L, 0L, 1L, 1L, 0L)))
    // identities on real data: active = new + retained + resurrected
    val real = run("q_growth_accounting").collect()
    assert(real.nonEmpty)
    real.foreach { r =>
      assert(r.getLong(1) === r.getLong(2) + r.getLong(3) + r.getLong(4), s"$r")
      assert(r.getLong(5) >= 0L, s"churn non-negative: $r")
    }
  }

  test("funnel stages are monotone and match a brute-force recount") {
    val r = run("q_funnel").collect().head
    val (nUsers, nView, nClick, nPurchase) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(nUsers >= nView && nView >= nClick && nClick >= nPurchase)
    assert(nView > 0, "fixture should produce view-stage users")

    // brute force on the driver (sf0.001 is small): same staged-min logic
    val ev = graft.io.Sources.table(spark, sf, "events")
      .select("user_id", "event_type", "ts").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getTimestamp(2)))
    val byUser = ev.groupBy(_._1)
    def stage(prev: Map[Long, java.sql.Timestamp], ty: String) =
      prev.flatMap { case (u, t0) =>
        byUser(u).filter(e => e._2 == ty && e._3.after(t0))
          .map(_._3).minOption.map(u -> _)
      }
    val v = byUser.flatMap { case (u, es) =>
      es.filter(_._2 == "view").map(_._3).minOption.map(u -> _) }.toMap
    val c = stage(v, "click")
    val p = stage(c, "purchase")
    assert(nView === v.size && nClick === c.size && nPurchase === p.size)
  }

  test("funnel plan: one event shuffle, windows share it, no joins") {
    val p = plan("q_funnel")
    assert(!p.contains("Join"), s"expected join-free funnel plan:\n$p")
    // one hash Exchange on user_id + the single-partition final agg; the
    // three staged windows and the per-user collapse must all reuse the
    // user_id partitioning rather than re-shuffling events
    val hashEx = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(hashEx <= 1, s"staged windows re-shuffled events:\n$p")
  }

  // ---- q_new_vs_returning -------------------------------------------------

  test("new vs returning: month-1 all new, news sum to customer count") {
    val rows = run("q_new_vs_returning").collect()
    assert(rows.nonEmpty)
    // first month: every active customer is new
    assert(rows.head.getLong(2) === rows.head.getLong(1))
    assert(rows.head.getLong(3) === 0L)
    rows.foreach(r => assert(r.getLong(1) === r.getLong(2) + r.getLong(3)))
    // every customer is new exactly once
    val nCust = graft.io.Sources.table(spark, sf, "orders")
      .select(countDistinct(col("o_custkey"))).collect().head.getLong(0)
    assert(rows.map(_.getLong(2)).sum === nCust)
  }

  // ---- q_time_to_convert --------------------------------------------------

  test("time-to-convert: converted count matches funnel, quantiles ordered") {
    val r = run("q_time_to_convert").collect().head
    val (n, med, p90) = (r.getLong(0), r.getDouble(1), r.getDouble(2))
    assert(n > 0 && med >= 0.0 && p90 >= med)
    // conversion latency is view→FIRST-purchase-after: the converted-user
    // count must equal the funnel's view→purchase stage only when the
    // funnel's strict click stage is skipped — recount directly
    val ev = graft.io.Sources.table(spark, sf, "events")
      .select("user_id", "event_type", "ts").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getTimestamp(2)))
    val byUser = ev.groupBy(_._1)
    val converted = byUser.count { case (_, es) =>
      es.filter(_._2 == "view").map(_._3).minOption.exists(v =>
        es.exists(e => e._2 == "purchase" && e._3.after(v)))
    }
    assert(n === converted)
  }

  // ---- q_rfm_segments -----------------------------------------------------

  test("rfm segments: digits consistent, scores in 1..5, customers conserved") {
    val rows = run("q_rfm_segments").collect()
    rows.foreach { r =>
      val (seg, rs, fs, ms) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(seg === rs * 100 + fs * 10 + ms)
      Seq(rs, fs, ms).foreach(x => assert(x >= 1 && x <= 5))
    }
    val nCust = graft.io.Sources.table(spark, sf, "orders")
      .select(countDistinct(col("o_custkey"))).collect().head.getLong(0)
    assert(rows.map(_.getLong(4)).sum === nCust)
    // quintiles of a continuous metric put ~20% in each monetary tier
    val byM = rows.groupBy(_.getLong(3)).view.mapValues(_.map(_.getLong(4)).sum)
    byM.values.foreach(n => assert(n >= nCust / 10 && n <= nCust * 3 / 10))
  }

  test("rfm segments plan: cuts broadcast, no sort-merge join") {
    val p = plan("q_rfm_segments")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"expected broadcast cuts row:\n$p")
    assert(!p.contains("SortMergeJoin"), s"cuts must not shuffle-join:\n$p")
  }

  // ---- q_rrf_fusion -------------------------------------------------------

  test("rrf fusion: rank bounds, query vector excluded, fused order correct") {
    val rows = run("q_rrf_fusion").collect()
    assert(rows.length === 20)
    rows.foreach { r =>
      assert(r.getLong(0) != 0L, "query vector must not match itself")
      assert(r.getLong(1) >= 0 && r.getLong(1) <= Analytics.FuseTopK)
      assert(r.getLong(2) >= 0 && r.getLong(2) <= Analytics.FuseTopK)
      assert(r.getLong(1) > 0 || r.getLong(2) > 0, "fused row in neither list")
    }
    val rrfs = rows.map(_.getDouble(3))
    assert(rrfs.zip(rrfs.tail).forall { case (a, b) => a >= b }, "not sorted")
    // a vector ranked top by BOTH lists must outrank one ranked by neither
    val best = rrfs.head
    // +1e-6 slack: the emitted rrf is rounded at the 6th decimal
    assert(best <= 2.0 / (Analytics.RrfK + 1) + 1e-6)
  }

  test("rrf fusion plan: distributed top-k, fusion join-free") {
    val p = plan("q_rrf_fusion")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected per-partition-heap top-k, not a global sort:\n$p")
    assert(!p.contains("SortMergeJoin"), s"fusion must not shuffle-join:\n$p")
    // the only joins allowed are the broadcast query-vector attaches
    val joins = p.linesIterator.filter(_.contains("Join")).toSeq
    assert(joins.forall(_.contains("BroadcastNestedLoopJoin")),
      s"fusion grew a non-broadcast join:\n$p")
  }

  // ---- q_embed_centroid ---------------------------------------------------

  test("embed centroid: exact mean on a hand-built frame, cohesion ordering") {
    import spark.implicits._
    // two labels, known centroids: label 0 → (1,0)/(0,1) centroid (.5,.5);
    // label 1 → (2,2)/(4,4) centroid (3,3) with both vectors colinear
    val tiny = Seq(
      (0L, Array(1f, 0f), 0), (1L, Array(0f, 1f), 0),
      (2L, Array(2f, 2f), 1), (3L, Array(4f, 4f), 1))
      .toDF("vec_id", "embedding", "label")
    val dirLess = Analytics.queries("q_embed_centroid")
    // route the tiny frame through the same centroid+cosine pipeline
    val cent = tiny
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("v").cast("double")).as("m"))
      .groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x.getField("m")).as("centroid"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(cent(0) === Seq(0.5, 0.5))
    assert(cent(1) === Seq(3.0, 3.0))

    val rows = run("q_embed_centroid").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) > 0)
      val (avgCos, minCos) = (r.getDouble(2), r.getDouble(3))
      assert(avgCos >= minCos && avgCos <= 1.0 + 1e-9)
    }
    val total = rows.map(_.getLong(1)).sum
    val n = graft.io.Sources.table(spark, sf, "embeddings").count()
    assert(total === n)
  }

  test("embed centroid plan: centroid frame broadcasts back, no SMJ") {
    val p = plan("q_embed_centroid")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"expected broadcast centroid attach:\n$p")
    assert(!p.contains("SortMergeJoin"), s"centroid attach shuffled:\n$p")
  }

  // ---- q_markov_transitions -----------------------------------------------

  test("markov transitions: rows match a driver brute-force recount") {
    val events = graft.io.Sources.table(spark, sf, "events")
      .select("user_id", "ts", "event_id", "event_type").collect()
    val want = events.groupBy(_.getLong(0)).values.flatMap { evs =>
      evs.sortBy(r => (r.getTimestamp(1).getTime, r.getLong(2)))
        .map(_.getString(3)).sliding(2).collect { case Array(a, b) => (a, b) }
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val got = run("q_markov_transitions").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === want)
  }

  test("markov transitions: probabilities row-normalize to 1 per source state") {
    val rows = run("q_markov_transitions").collect()
    rows.groupBy(_.getString(0)).foreach { case (src, trs) =>
      val total = trs.map(_.getDouble(3)).sum
      // p values carry 1e-6 rounding; |states| terms of slack
      assert(math.abs(total - 1.0) < 1e-5 * trs.length,
        s"src $src: transition mass $total")
    }
  }

  // ---- q_entropy_rate -----------------------------------------------------

  test("entropy rate: matches an exact driver replay of the micro-unit algebra") {
    val events = graft.io.Sources.table(spark, sf, "events")
      .select("user_id", "ts", "event_id", "event_type").collect()
    val cells = events.groupBy(_.getLong(0)).values.flatMap { evs =>
      evs.sortBy(r => (r.getTimestamp(1).getTime, r.getLong(2)))
        .map(_.getString(3)).sliding(2).collect { case Array(a, b) => (a, b) }
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    def nlogn(n: Long): Long =
      math.floor(n.toDouble * math.log(n.toDouble) * 1e6).toLong
    val bySrc = cells.groupBy(_._1._1).map { case (src, m) =>
      val nOut = m.values.sum
      val a = m.values.map(nlogn).sum
      src -> (nOut, m.size.toLong, a, nlogn(nOut))
    }
    val sumB = bySrc.values.map(_._4).sum
    val sumA = bySrc.values.map(_._3).sum
    val sumN = bySrc.values.map(_._1).sum
    def r6d(x: Double) = math.floor(x * 1e6 + 0.500001) / 1e6
    val wantRate = r6d((sumB - sumA).toDouble / 1e6 / sumN.toDouble)
    val got = run("q_entropy_rate").collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val src = r.getString(0)
      val (nOut, nDst, a, b) = bySrc(src)
      assert(r.getLong(1) === nOut)
      assert(r.getLong(2) === nDst)
      assert(r.getDouble(3) === r6d((b - a).toDouble / 1e6 / nOut.toDouble),
        s"h_cond mismatch for $src")
      assert(r.getDouble(4) === wantRate)
      assert(r.getLong(5) === sumN)
    }
    assert(got.map(_.getString(0)).toSet === bySrc.keySet)
  }

  test("entropy rate: conditional entropies bounded by ln(branching factor)") {
    val rows = run("q_entropy_rate").collect()
    rows.foreach { r =>
      val (nDst, h) = (r.getLong(2), r.getDouble(3))
      // micro-unit floors can land a hair below 0 for deterministic rows
      assert(h >= -1e-6 && h <= math.log(nDst.toDouble) + 1e-6,
        s"src ${r.getString(0)}: h=$h outside [0, ln($nDst)]")
    }
    // a deterministic chain (single destination) has exactly zero entropy
    rows.filter(_.getLong(2) == 1L)
      .foreach(r => assert(math.abs(r.getDouble(3)) < 1e-6))
  }

  // ---- q_segment_migration ------------------------------------------------

  test("segment migration: matrix matches a driver replay of the tiering") {
    val orders = graft.io.Sources.table(spark, sf, "orders")
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("d"),
        col("o_totalprice")).collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate, r.getDouble(2)))
    val split = java.time.LocalDate.parse("1998-05-01")
    def seg(rows: Array[(Long, java.time.LocalDate, Double)]): Map[Long, Long] =
      rows.groupBy(_._1).map { case (ck, g) =>
        val n = g.length
        val cents = g.map(r => math.floor(r._3 * 100.0 + 0.500001).toLong).sum
        val f = if (n > 6) 3L else if (n > 3) 2L else 1L
        val v = if (cents > 110000000L) 3L else if (cents > 60000000L) 2L else 1L
        ck -> (f * 10 + v)
      }
    val s1 = seg(orders.filter(_._2.isBefore(split)))
    val s2 = seg(orders.filterNot(_._2.isBefore(split)))
    val want = (s1.keySet ++ s2.keySet).toSeq
      .map(ck => (s1.getOrElse(ck, 0L), s2.getOrElse(ck, 0L)))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val got = run("q_segment_migration").collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      === want)
    // row-conditional shares sum to 1 within each origin segment
    got.groupBy(_.getLong(0)).foreach { case (from, cells) =>
      val total = cells.map(_.getDouble(3)).sum
      assert(math.abs(total - 1.0) < 1e-5 * cells.length,
        s"seg_from $from shares sum to $total")
    }
    // derived-from-orders only: the (inactive, inactive) cell cannot exist
    assert(!got.exists(r => r.getLong(0) == 0L && r.getLong(1) == 0L))
    assert(got.map(_.getLong(2)).sum === (s1.keySet ++ s2.keySet).size.toLong)
  }

  // ---- q_attribution ------------------------------------------------------

  private def ev(rows: (Long, String, Long, String, Double, Long)*) = {
    import spark.implicits._
    rows.toSeq.toDF("user_id", "ts_s", "event_id", "event_type", "value", "k")
      .select(col("user_id"), to_timestamp(col("ts_s")).as("ts"),
        col("event_id"), col("event_type"), col("value"),
        concat(lit("{\"k\": "), col("k"), lit("}")).as("props"))
  }

  test("attribution: hand-computed journeys — linear splits, last-touch wins, unconverted drops") {
    val events = ev(
      (1L, "2024-01-01 10:00:00", 1L, "view", 1.0, 0L),
      (1L, "2024-01-01 10:01:00", 2L, "click", 1.0, 1L),
      (1L, "2024-01-01 10:02:00", 3L, "purchase", 10.0, 9L),
      (1L, "2024-01-01 10:03:00", 4L, "view", 1.0, 0L),
      (1L, "2024-01-01 10:04:00", 5L, "purchase", 6.0, 9L),
      // trailing unconverted journey — must contribute nothing
      (1L, "2024-01-01 10:05:00", 6L, "view", 1.0, 2L))
    val out = Analytics.attribution(events).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getLong(3)))
      .toMap
    // journey 0: touches c0, c1 → 5 linear each, last = c1 (click@10:01)
    // journey 1: touch c0 → 6 linear, last = c0
    assert(out === Map(
      "c0" -> ((11.0, 6.0, 2L)),
      "c1" -> ((5.0, 10.0, 1L))))
  }

  test("attribution conserves value: Σ linear = Σ last = convertible purchase total") {
    val out = run("q_attribution").collect()
    val lin = out.map(_.getDouble(1)).sum
    val last = out.map(_.getDouble(2)).sum
    // driver recount of purchases whose journey holds ≥1 preceding touch
    val events = graft.io.Sources.table(spark, sf, "events")
      .select("user_id", "ts", "event_id", "event_type", "value").collect()
    var want = 0.0
    events.groupBy(_.getLong(0)).values.foreach { evs =>
      var touches = 0
      evs.sortBy(r => (r.getTimestamp(1).getTime, r.getLong(2))).foreach { r =>
        r.getString(3) match {
          case "view" | "click" => touches += 1
          case "purchase" =>
            if (touches > 0) want += r.getDouble(4)
            touches = 0
          case _ => ()
        }
      }
    }
    // each channel row carries 1e-4 rounding slack
    assert(math.abs(lin - want) < 1e-3, s"linear $lin vs driver $want")
    assert(math.abs(last - want) < 1e-3, s"last $last vs driver $want")
  }

  test("attribution plan: one user shuffle feeds all journey windows, no join") {
    val p = plan("q_attribution")
    assert(!p.contains("Join"), s"attribution must be join-free:\n$p")
    // user window + channel rollup + dump sort: ≤ 3 hash exchanges, and
    // the (user, journey) windows must NOT add one (subset partitioning)
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 3,
      s"journey windows re-shuffled:\n$p")
  }

  // ---- q_feature_scale ----------------------------------------------------

  test("feature scale: planted two-customer frame — zero-variance guard and exact z") {
    import spark.implicits._
    // both customers have exactly 2 orders → f is constant → guarded 0.0;
    // monetary 10 vs 30 → z = ∓1/√2, minmax = {0, 1}
    val orders = Seq((1L, 4.0), (1L, 6.0), (2L, 14.0), (2L, 16.0))
      .toDF("o_custkey", "o_totalprice")
    val out = Analytics.featureScale(orders).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toMap
    assert(out(1L)._1 === 0.0 && out(1L)._2 === 0.0)
    assert(out(2L)._1 === 0.0 && out(2L)._2 === 0.0)
    assert(math.abs(out(1L)._3 + 1.0 / math.sqrt(2.0)) < 1e-6)
    assert(math.abs(out(2L)._3 - 1.0 / math.sqrt(2.0)) < 1e-6)
    assert(out(1L)._4 === 0.0 && out(2L)._4 === 1.0)
  }

  test("feature scale on the fixture: z mean ~0, minmax spans [0,1] with endpoints") {
    val out = run("q_feature_scale").collect()
    val mz = out.map(_.getDouble(3))
    assert(math.abs(mz.sum / mz.length) < 1e-4)
    val mmm = out.map(_.getDouble(4))
    assert(mmm.min === 0.0 && mmm.max === 1.0)
    assert(mmm.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("feature scale plan: stats attach by broadcast, never a shuffle join") {
    val p = plan("q_feature_scale")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"expected broadcast stats row:\n$p")
    assert(!p.contains("SortMergeJoin"), s"stats attach shuffled:\n$p")
  }

  // ---- q_skyline ----------------------------------------------------------

  test("skyline: sound and complete against brute-force dominance") {
    val all = graft.io.Sources.table(spark, sf, "part")
      .select(col("p_partkey"), col("p_retailprice"), col("p_size").cast("long"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    def dominated(p: (Long, Double, Long)) = all.exists(q =>
      q._2 <= p._2 && q._3 >= p._3 && (q._2 < p._2 || q._3 > p._3))
    val sky = run("q_skyline").collect().map(_.getLong(0)).toSet
    all.foreach { p =>
      if (sky.contains(p._1)) assert(!dominated(p), s"${p._1} in skyline but dominated")
      else assert(dominated(p), s"${p._1} omitted but undominated")
    }
    assert(sky.nonEmpty)
  }

  test("skyline keeps tied Pareto duplicates — neither strictly dominates") {
    import spark.implicits._
    val df = Seq((1L, 10.0, 5L), (2L, 10.0, 5L), (3L, 10.0, 4L), (4L, 9.0, 3L))
      .toDF("p_partkey", "p_retailprice", "p_size")
    // same factorization as the query, driven directly on a synthetic frame
    val p = df.select(col("p_partkey"), col("p_retailprice").as("price"),
      col("p_size").cast("long").as("size"))
    val g = p.groupBy("price").agg(max("size").as("gmax"))
    val gm = g.select(col("price"), col("gmax"),
      coalesce(max(col("gmax")).over(
        graft.operators.BoundedWindow.ordered(col("price"), col("price"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
        lit(Long.MinValue)).as("m1"))
    val sky = p.join(gm, Seq("price"))
      .where(col("size") === col("gmax") && col("size") > col("m1"))
      .select("p_partkey").collect().map(_.getLong(0)).toSet
    // 1 and 2 tie on the front (only strictness would drop them); 4 is the
    // cheapest price group so it survives too; 3 is dominated by 1/2
    assert(sky === Set(1L, 2L, 4L))
  }

  test("skyline plan: prefix-max factorization, no all-pairs anti-join") {
    val p = plan("q_skyline")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"skyline regressed to all-pairs dominance:\n$p")
    assert(p.contains("Window"), s"expected the group prefix-max window:\n$p")
  }

  // ---- q_survival ---------------------------------------------------------

  test("KM survival matches the hand-computed curve on a planted cohort") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_km").toString
    // durations: c1 → 0 (active → censored), c2 → 10 (event), c3 → 10
    // (active → censored), c4 → 20 (event; the last at-risk customer, so
    // the curve dies out there)
    Seq((1L, "2001-07-01"),
        (2L, "2001-01-01"), (2L, "2001-01-11"),
        (3L, "2001-06-20"), (3L, "2001-06-30"),
        (4L, "2001-01-01"), (4L, "2001-01-21"))
      .toDF("o_custkey", "o_orderdate")
      .write.parquet(s"$dir/orders.parquet")
    val rows = SparkEntry.queries("q_survival")(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows.keySet === Set(0L, 10L, 20L))
    assert(rows(0L).getLong(1) === 4L && rows(0L).getLong(2) === 0L &&
      rows(0L).getLong(3) === 1L && rows(0L).getDouble(4) === 1.0)
    assert(rows(10L).getLong(1) === 3L && rows(10L).getLong(2) === 1L &&
      rows(10L).getLong(3) === 1L)
    // S(10) = 1 - 1/3 rounded by the shared r6 floor form
    assert(rows(10L).getDouble(4) === 0.666667)
    // risk set dies out at 20 → survival pinned to exactly 0, no ln(0)
    assert(rows(20L).getLong(1) === 1L && rows(20L).getLong(2) === 1L &&
      rows(20L).getDouble(4) === 0.0)
  }

  test("Nelson-Aalen matches the hand-computed hazard chain on the KM cohort") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_na").toString
    // the q_survival planted cohort: risk sets 4 → 3 → 1, events at 10, 20
    Seq((1L, "2001-07-01"),
        (2L, "2001-01-01"), (2L, "2001-01-11"),
        (3L, "2001-06-20"), (3L, "2001-06-30"),
        (4L, "2001-01-01"), (4L, "2001-01-21"))
      .toDF("o_custkey", "o_orderdate")
      .write.parquet(s"$dir/orders.parquet")
    val rows = SparkEntry.queries("q_nelson_aalen")(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows.keySet === Set(0L, 10L, 20L))
    def r6(x: Double): Double =
      math.floor(x * 1000000.0 + 0.500001) / 1000000.0
    // t = 0: no events yet — H = 0, the log band is undefined → NULL
    assert(rows(0L).getLong(1) === 4L && rows(0L).getDouble(3) === 0.0 &&
      rows(0L).isNullAt(5) && rows(0L).isNullAt(6))
    // t = 10: H = 1/3, v = 1/9; band replicated op-for-op
    val h1 = 0.0 + 1.0 / 3.0
    val v1 = 0.0 + 1.0 / (3.0 * 3.0)
    val b1 = math.exp(1.959963984540054 * math.sqrt(v1) / h1)
    assert(rows(10L).getLong(1) === 3L && rows(10L).getDouble(3) === r6(h1))
    assert(rows(10L).getDouble(4) === r6(math.sqrt(v1)))
    assert(rows(10L).getDouble(5) === r6(h1 / b1) &&
      rows(10L).getDouble(6) === r6(h1 * b1), s"${rows(10L)}")
    // t = 20: the last at-risk customer dies — the hazard increment is a
    // FINITE d/n = 1 (no KM-style ln(0) tail to pin)
    val h2 = h1 + 1.0 / 1.0
    val v2 = v1 + 1.0 / (1.0 * 1.0)
    val b2 = math.exp(1.959963984540054 * math.sqrt(v2) / h2)
    assert(rows(20L).getLong(1) === 1L && rows(20L).getDouble(3) === r6(h2))
    assert(rows(20L).getDouble(5) === r6(h2 / b2) &&
      rows(20L).getDouble(6) === r6(h2 * b2), s"${rows(20L)}")
  }

  test("Nelson-Aalen plan: join-free, one customer shuffle + bounded windows") {
    val p = plan("q_nelson_aalen")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"hazard grew a join:\n$p")
    assert(p.contains("Window"), s"expected the risk-set windows:\n$p")
  }

  test("KM survival on real data: monotone curve, telescoping risk sets") {
    val rows = run("q_survival").collect()
    assert(rows.nonEmpty)
    val nCustomers = graft.io.Sources.table(spark, sf, "orders")
      .select("o_custkey").distinct().count()
    assert(rows.head.getLong(1) === nCustomers, "first risk set != customers")
    rows.zip(rows.drop(1)).foreach { case (a, b) =>
      // n_risk(next) = n_risk(prev) - (events + censored at prev)
      assert(b.getLong(1) === a.getLong(1) - a.getLong(2) - a.getLong(3),
        s"risk set does not telescope at t=${b.getLong(0)}")
      assert(b.getDouble(4) <= a.getDouble(4) + 1e-9,
        s"survival increased at t=${b.getLong(0)}")
    }
    rows.foreach(r =>
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0))
  }

  test("KM survival plan: join-free, one customer shuffle + bounded windows") {
    val p = plan("q_survival")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"survival grew a join:\n$p")
    assert(p.contains("Window"), s"expected the risk-set windows:\n$p")
  }

  // ---- q_assoc_rules ------------------------------------------------------

  test("association rules: exact supports/confidence/lift on a planted basket") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_assoc").toString
    // o3 carries a duplicated part 104 — pair generation must dedupe it
    Seq((1L, 101L), (1L, 102L), (1L, 103L),
        (2L, 101L), (2L, 102L),
        (3L, 101L), (3L, 104L), (3L, 104L))
      .toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")
    val rows = SparkEntry.queries("q_assoc_rules")(spark, dir).collect()
    assert(rows.length === 4)
    // (101,102) leads on supp_ab=2; the supp_ab=1 tail orders by lift then key
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((101L, 102L), (102L, 103L), (101L, 103L), (101L, 104L)))
    val top = rows.head
    assert(top.getLong(2) === 2L && top.getLong(3) === 3L && top.getLong(4) === 2L)
    assert(top.getDouble(5) === 0.666667) // conf 101→102 = 2/3
    assert(top.getDouble(6) === 1.0)      // conf 102→101
    assert(top.getDouble(7) === 1.0)      // lift = 2·3/(3·2)
    val second = rows(1)                  // (102,103): lift 3/(2·1) = 1.5
    assert(second.getDouble(7) === 1.5)
  }

  test("association rules on real data: probability bounds hold on every rule") {
    val rows = run("q_assoc_rules").collect()
    assert(rows.length === 20)
    rows.foreach { r =>
      val (sAb, sA, sB) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(sAb >= 1L && sAb <= math.min(sA, sB), "support bounds violated")
      assert(r.getDouble(5) > 0.0 && r.getDouble(5) <= 1.0)
      assert(r.getDouble(6) > 0.0 && r.getDouble(6) <= 1.0)
      assert(r.getDouble(7) > 0.0)
    }
    // descending pair-support ordering with the documented tie-breaks
    assert(rows.zip(rows.drop(1)).forall { case (a, b) =>
      a.getLong(2) >= b.getLong(2) })
  }

  test("association rules plan: co-partitioned pair join, broadcast attaches") {
    val p = plan("q_assoc_rules")
    assert(p.contains("BroadcastHashJoin"),
      s"item supports should broadcast back:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"pair generation must stay an orderkey equi-join:\n$p")
  }

  // ---- q_pareto_8020 --------------------------------------------------------

  test("Pareto 80/20: a whale covers 80% alone; a uniform base needs exactly 80%") {
    import spark.implicits._
    def mk(rows: Seq[(Long, Double)]) = {
      val dir = java.nio.file.Files.createTempDirectory("graft_pareto").toString
      rows.zipWithIndex.map { case ((c, tp), i) => (i.toLong, c, tp) }
        .toDF("o_orderkey", "o_custkey", "o_totalprice")
        .write.parquet(s"$dir/orders.parquet")
      SparkEntry.queries("q_pareto_8020")(spark, dir).head()
    }
    // whale: 1 customer with 8000, 99 with ~0.2 total → rank 1 crosses 80%
    val whale = Seq((999L, 8000.0)) ++ (1L to 99L).map(c => (c, 2.0))
    val rw = mk(whale)
    assert(rw.getLong(0) === 100L && rw.getLong(1) === 1L)
    assert(rw.getDouble(2) === 0.01)
    // uniform 100 × equal spend: the k-th rank covers exactly k% — the
    // integer crossing lands at 80/90/95
    val even = (1L to 100L).map(c => (c, 50.0))
    val re = mk(even)
    assert(re.getLong(1) === 80L && re.getLong(3) === 90L &&
      re.getLong(5) === 95L, s"$re")
    assert(re.getDouble(2) === 0.8)
  }

  test("Pareto on real data: monotone thresholds, shares within (0, 1]") {
    val r = run("q_pareto_8020").head()
    assert(r.getLong(1) <= r.getLong(3) && r.getLong(3) <= r.getLong(5))
    Seq(2, 4, 6).foreach(i =>
      assert(r.getDouble(i) > 0.0 && r.getDouble(i) <= 1.0))
  }

  // ---- q_rmst ---------------------------------------------------------------

  test("RMST: everyone churning at day 100 gives exactly 100 retained days") {
    import spark.implicits._
    // every customer: first order 1995-01-01, last 1995-04-11 (t = 100),
    // long before the 2001-09-01 as-of ⇒ all events at one time ⇒ the KM
    // curve steps 1 → 0 at t = 100 and ∫₀^730 S = 100 exactly
    val rows = (1L to 40L).flatMap(c => Seq(
      (c * 2, c, "1995-01-01", 100.0), (c * 2 + 1, c, "1995-04-11", 100.0)))
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val dir = java.nio.file.Files.createTempDirectory("graft_rmst").toString
    rows.write.parquet(s"$dir/orders.parquet")
    val r = SparkEntry.queries("q_rmst")(spark, dir).head()
    assert(r.getLong(0) === 730L && r.getLong(1) === 1L)
    assert(r.getDouble(2) === 100.0, s"step integral: $r")
    def r6d(x: Double) = math.floor(x * 1e6 + 0.500001) / 1e6
    assert(r.getDouble(3) === r6d(100.0 / 730.0))
  }

  test("RMST on real data: bounded by the horizon, consistent with the KM tail") {
    val r = run("q_rmst").head()
    assert(r.getDouble(2) > 0.0 && r.getDouble(2) <= 730.0 + 1e-9)
    assert(r.getDouble(3) <= 1.0 + 1e-9)
  }

  // ---- q_topk_churn ---------------------------------------------------------

  test("top-k churn: identical periods give Jaccard 1, disjoint lists give 0") {
    import spark.implicits._
    def li(rows: Seq[(Long, Double, String)]) = {
      val dir = java.nio.file.Files.createTempDirectory("graft_churn").toString
      rows.zipWithIndex.map { case ((pk, price, day), i) =>
        (i.toLong, pk, price, day) }
        .toDF("l_orderkey", "l_partkey", "l_extendedprice", "l_shipdate")
        .write.parquet(s"$dir/lineitem.parquet")
      SparkEntry.queries("q_topk_churn")(spark, dir).head()
    }
    // same 5 parts with identical revenue ranks in both halves — a list
    // that fully survives churns NOTHING (r10 ADVICE fix: churned_out
    // counts against the period-0 list's ACTUAL size, not a literal 20
    // that would report 15 phantom churns on a 5-part slice)
    val stable = (1L to 5L).flatMap(p => Seq(
      (p, 1000.0 * p, "1997-06-01"), (p, 1000.0 * p, "1998-06-01")))
    val rs = li(stable)
    assert(rs.getLong(0) === 5L && rs.getLong(1) === 5L)
    assert(rs.getDouble(2) === 1.0 && rs.getLong(3) === 0L)
    assert(rs.getLong(4) === 0L, "identical lists churn nothing")
    // disjoint part sets across halves
    val churned = (1L to 5L).map(p => (p, 1000.0, "1997-06-01")) ++
      (11L to 15L).map(p => (p, 1000.0, "1998-06-01"))
    val rc = li(churned)
    assert(rc.getLong(0) === 0L && rc.getLong(1) === 10L)
    assert(rc.getDouble(2) === 0.0)
    assert(rc.getLong(4) === 5L, "disjoint lists churn the whole old list")
  }

  test("top-k churn on real data: overlap algebra consistent") {
    val r = run("q_topk_churn").head()
    assert(r.getLong(0) <= 20L)
    assert(r.getLong(1) === 40L - r.getLong(0),
      "|A ∪ B| = |A| + |B| − |A ∩ B| at k = 20")
    assert(r.getLong(3) <= r.getLong(0) * 19L, "footrule bound")
  }

  // ---- q_simpsons_paradox ---------------------------------------------------

  test("Simpson audit: the classic allocation reversal trips the paradox flag") {
    import spark.implicits._
    // urgency helps WITHIN both strata (+0.012 / +0.1) but urgent orders
    // concentrate in the hard stratum, so the pooled diff reverses —
    // the kidney-stone construction
    def orders(seg1: Long, seg2: Long) = {
      def mk(ck: Long, urgent: Boolean, hv: Boolean, n: Int) =
        (0 until n).map(_ => (ck, if (urgent) "1-URGENT" else "5-LOW",
          if (hv) 300000.0 else 100000.0))
      (mk(seg1, true, true, 9) ++ mk(seg1, true, false, 1) ++
        mk(seg1, false, true, 80) ++ mk(seg1, false, false, 10) ++
        mk(seg2, true, true, 27) ++ mk(seg2, true, false, 63) ++
        mk(seg2, false, true, 2) ++ mk(seg2, false, false, 8))
        .zipWithIndex.map { case ((ck, p, tp), i) => (i.toLong, ck, p, tp) }
        .toDF("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
    }
    val cust = Seq((1L, "EASY"), (2L, "HARD"))
      .toDF("c_custkey", "c_mktsegment")
    val dir = java.nio.file.Files.createTempDirectory("graft_simpson").toString
    orders(1L, 2L).write.parquet(s"$dir/orders.parquet")
    cust.write.parquet(s"$dir/customer.parquet")
    val rows = SparkEntry.queries("q_simpsons_paradox")(spark, dir).collect()
    assert(rows.length === 2)
    rows.foreach { r =>
      assert(r.getDouble(5) > 0.0, s"urgency helps within ${r.getString(0)}: $r")
      assert(r.getDouble(6) < 0.0, s"pooled reverses: $r")
      assert(r.getLong(7) === 1L, s"paradox must flag: $r")
    }
  }

  test("Simpson audit on real data: cell census covers matched orders, flag boolean") {
    val rows = run("q_simpsons_paradox").collect()
    assert(rows.nonEmpty)
    val matched = graft.io.Sources.table(spark, sf, "orders")
      .join(graft.io.Sources.table(spark, sf, "customer"),
        col("o_custkey") === col("c_custkey")).count()
    assert(rows.map(r => r.getLong(1) + r.getLong(3)).sum === matched)
    assert(rows.map(_.getLong(7)).distinct.length === 1,
      "the paradox verdict is global")
  }

  // ---- q_quantile_normalize -------------------------------------------------

  test("quantile normalize: post-QN columns share one value multiset, ranks preserved") {
    val rows = run("q_quantile_normalize").collect()
    assert(rows.nonEmpty)
    // the defining property: after QN the two columns are the SAME multiset
    val q1 = rows.map(_.getDouble(5)).sorted.toSeq
    val q2 = rows.map(_.getDouble(6)).sorted.toSeq
    assert(q1 === q2, "QN forces identical distributions")
    // rank preservation: qn_m1 is monotone in rank1 (same for m2)
    val byR1 = rows.sortBy(_.getLong(3)).map(_.getDouble(5)).toSeq
    assert(byR1.sliding(2).forall(p => p(0) <= p(1)), "monotone in rank")
    // each reference value is the mean of the two order statistics
    val m1sorted = rows.map(_.getLong(1)).sorted
    val m2sorted = rows.map(_.getLong(2)).sorted
    rows.foreach { r =>
      val want1 = (m1sorted(r.getLong(3).toInt - 1) +
        m2sorted(r.getLong(3).toInt - 1)).toDouble / 2.0 / 100.0
      assert(r.getDouble(5) === want1, s"reference at rank ${r.getLong(3)}")
    }
  }

  test("quantile normalize plan: windows ride the customer frame, not raw orders") {
    // the orders partial-aggregate now lives INSIDE the checkpointed
    // customer frame (r10: Ranks.withGlobalRanks + localCheckpoint), so
    // the visible plan reads materialized scans — the load-bearing gates
    // are no cartesian and no partition-less Window (the latter also
    // PlanSpec-gated across all four ranking queries)
    val p = plan("q_quantile_normalize")
    assert(!p.contains("CartesianProduct"), s"$p")
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val lp = SparkEntry.queries("q_quantile_normalize")(spark, sf)
      .queryExecution.optimizedPlan
    assert(lp.collect { case w: LWindow if w.partitionSpec.isEmpty => w }.isEmpty,
      "partition-less Window in the QN plan")
  }

  // ---- q_shapley_attribution ----------------------------------------------

  test("Shapley attribution: closed-form two-journey game, dummy and efficiency") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_shap").toString
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    // user 1: {c0} -> purchase; user 2: {c0, c1} -> purchase;
    // user 3: touches but never converts; user 4: purchase with no touches
    Seq(
      (1L, ts(1), 1L, "view", 0.0, """{"k": 0}"""),
      (2L, ts(2), 1L, "purchase", 50.0, """{"k": 0}"""),
      (3L, ts(1), 2L, "view", 0.0, """{"k": 0}"""),
      (4L, ts(2), 2L, "click", 0.0, """{"k": 1}"""),
      (5L, ts(3), 2L, "purchase", 80.0, """{"k": 0}"""),
      (6L, ts(1), 3L, "view", 0.0, """{"k": 2}"""),
      (7L, ts(1), 4L, "purchase", 10.0, """{"k": 3}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q_shapley_attribution")(spark, dir).collect()
    assert(out.length === 5)
    val phi = out.map(r => r.getString(0) -> r.getDouble(2)).toMap
    // {c0}: phi_c0 += 1; {c0,c1}: 0.5 each. Exact rationals on the /120 grid.
    assert(phi("c0") === 1.5 && phi("c1") === 0.5,
      s"closed-form Shapley: $phi")
    // dummy: untouched-in-converting-journey channels get exactly 0
    assert(phi("c2") === 0.0 && phi("c3") === 0.0 && phi("c4") === 0.0)
    // efficiency: total covers only TOUCHED conversions (user 4 excluded)
    assert(out.head.getLong(4) === 2L, s"total_conv: ${out.toSeq}")
    assert(out.map(_.getLong(1)).sum === 120L * 2L,
      "sum of phi*120 must equal 120 * v(full) exactly")
  }

  test("Shapley attribution on real data: exact efficiency and bounded shares") {
    val out = run("q_shapley_attribution").collect()
    assert(out.length === 5)
    val total = out.head.getLong(4)
    assert(out.map(_.getLong(1)).sum === 120L * total,
      "efficiency must hold exactly in phi*120 integers")
    out.foreach { r =>
      assert(r.getDouble(2) >= 0.0, s"monotone game: nonneg phi: $r")
      if (total > 0) assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
  }

  // ---- q_theil_index ------------------------------------------------------

  private def theilFixture(spend: Seq[(Long, Int, Double)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_theil").toString
    spend.map { case (ck, _, amt) =>
      (ck, java.sql.Timestamp.valueOf("2020-06-01 00:00:00"), amt)
    }.toDF("o_custkey", "o_orderdate", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    spend.map { case (ck, nk, _) => (ck, nk) }
      .toDF("c_custkey", "c_nationkey")
      .write.parquet(s"$dir/customer.parquet")
    dir
  }

  test("Theil: equal incomes give exactly zero on every component") {
    val dir = theilFixture((1L to 8L).map(i => (i, (i % 2).toInt, 250.0)))
    val r = SparkEntry.queries("q_theil_index")(spark, dir).head
    assert(r.getLong(0) === 8L)
    assert(r.getDouble(2) === 0.0 && r.getDouble(3) === 0.0 &&
      r.getDouble(4) === 0.0 && r.getDouble(5) === 0.0,
      s"equal incomes must carry zero inequality: $r")
  }

  test("Theil: within-nation-equal split puts ALL inequality between nations") {
    // nation 0: two customers at $100; nation 1: two at $400 — within-
    // nation terms vanish, so T must equal the between component and the
    // closed form (1/4)·Σ(x/mu)·ln(x/mu) with mu = 250
    val dir = theilFixture(Seq((1L, 0, 100.0), (2L, 0, 100.0),
      (3L, 1, 400.0), (4L, 1, 400.0)))
    val r = SparkEntry.queries("q_theil_index")(spark, dir).head
    val mu = 250.0
    val want = Seq(100.0, 100.0, 400.0, 400.0)
      .map(x => (x / mu) * math.log(x / mu)).sum / 4.0
    assert(math.abs(r.getDouble(2) - want) < 1e-5, s"T closed form: $r")
    assert(r.getDouble(5) === 0.0, s"within must be zero: $r")
    assert(math.abs(r.getDouble(4) - r.getDouble(2)) < 1e-5,
      s"all inequality is between nations: $r")
  }

  test("Theil on real data: decomposition identity and T vs L sanity") {
    val r = run("q_theil_index").head
    val (t, l, btw, w) = (r.getDouble(2), r.getDouble(3),
      r.getDouble(4), r.getDouble(5))
    assert(t > 0 && l > 0, s"real spend is unequal: $r")
    // T = between + within up to the two quantization grids
    assert(math.abs(t - (btw + w)) < 1e-4,
      s"Theil decomposition identity: $t vs ${btw + w}")
  }

  test("q_theil_index plan: moment frames broadcast, one keyed shuffle join") {
    val p = plan("q_theil_index")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"global/nation moments must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  // ---- q_hhi / q_price_index / q_elasticity -----------------------------------

  test("HHI: a 3:1 two-group split scores 0.625 exactly on both dims") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_hhi").toString
    Seq((1L, 1L, 3.0), (2L, 2L, 1.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    Seq((1L, "S1", 10L), (2L, "S2", 20L))
      .toDF("c_custkey", "c_mktsegment", "c_nationkey")
      .write.parquet(s"$dir/customer.parquet")
    val rows = SparkEntry.queries("q_hhi")(spark, dir).collect()
    assert(rows.length === 2)
    rows.foreach { r =>
      assert(r.getLong(1) === 2L)
      assert(r.getDouble(2) === 0.625, s"(9+1)/16: $r")
      assert(r.getDouble(3) === 1.6, s"effective n: $r")
    }
  }

  test("price index: hand-priced two-part basket replays L = 17/14, P = 16/13") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_pidx").toString
    // part 1: $5 → $6 (q 2 → 1); part 2: $4 → $5 (q 1 → 2); part 3 trades
    // only in the base year and must drop from the common basket
    Seq((1L, "1997-06-01", 10.0, 2.0), (1L, "1998-06-01", 6.0, 1.0),
        (2L, "1997-06-01", 4.0, 1.0), (2L, "1998-06-01", 10.0, 2.0),
        (3L, "1997-06-01", 7.0, 1.0))
      .toDF("l_partkey", "l_shipdate", "l_extendedprice", "l_quantity")
      .write.parquet(s"$dir/lineitem.parquet")
    val r = SparkEntry.queries("q_price_index")(spark, dir).head()
    assert(r.getLong(0) === 2L, s"common basket: $r")
    val lasp = math.floor(17.0 / 14.0 * 1e6 + 0.500001) / 1e6
    val paas = math.floor(16.0 / 13.0 * 1e6 + 0.500001) / 1e6
    assert(r.getDouble(1) === lasp, s"laspeyres: $r")
    assert(r.getDouble(2) === paas, s"paasche: $r")
    assert(r.getDouble(3) ===
      math.floor(math.sqrt(lasp * paas) * 1e6 + 0.500001) / 1e6)
  }

  test("elasticity: an exact constant-elasticity demand curve fits slope −1/2") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_el").toString
    // unit price c·q⁻²: ln q = −½·ln u + const exactly, so the micro-
    // quantized OLS must recover −0.5 to the grid and r² ≈ 1
    Seq((16.0, 1.0), (8.0, 2.0), (4.0, 4.0))
      .toDF("l_extendedprice", "l_quantity")
      .write.parquet(s"$dir/lineitem.parquet")
    val r = SparkEntry.queries("q_elasticity")(spark, dir).head()
    assert(r.getLong(0) === 3L)
    assert(math.abs(r.getDouble(1) + 0.5) < 1e-4, s"slope: $r")
    assert(r.getDouble(2) > 0.999999, s"r2: $r")
  }

  test("elasticity on real data: negative slope, r2 in [0,1]") {
    val r = run("q_elasticity").head()
    assert(r.getLong(0) > 0L)
    if (!r.isNullAt(1)) {
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0, s"$r")
    }
  }

  // ---- q_lorenz ---------------------------------------------------------------

  test("Lorenz deciles: ten 1..10-dollar customers give one per tile, shares k/55") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_lz").toString
    (1 to 10).map(k => (k.toLong, k.toLong, k * 1.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    val rows = SparkEntry.queries("q_lorenz")(spark, dir).collect()
    assert(rows.length === 10)
    rows.foreach { r =>
      val k = r.getLong(0)
      assert(r.getLong(1) === 1L, s"one customer per tile: $r")
      assert(r.getLong(2) === k * 100L, s"spend ascends with tile: $r")
      assert(r.getDouble(3) ===
        math.floor(k / 55.0 * 1e6 + 0.500001) / 1e6, s"share: $r")
      assert(r.getDouble(4) ===
        math.floor(k * (k + 1) / 2 / 55.0 * 1e6 + 0.500001) / 1e6,
        s"cum share: $r")
    }
  }

  test("Lorenz on real data: tiles balanced, cum share monotone to 1") {
    val rows = run("q_lorenz").collect().sortBy(_.getLong(0))
    assert(rows.length === 10)
    val n = rows.map(_.getLong(1)).sum
    rows.foreach(r => assert(math.abs(r.getLong(1) - n / 10) <= 1,
      s"NTILE balance: $r"))
    rows.sliding(2).foreach { w =>
      assert(w(0).getDouble(4) < w(1).getDouble(4), "cum share monotone")
    }
    assert(math.abs(rows.last.getDouble(4) - 1.0) < 1e-6)
  }

  // ---- q_km_ci ---------------------------------------------------------------

  test("KM Greenwood bands: planted cohort replays the closed-form se") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_kmci").toString
    // the q_survival planted cohort: t=0 censored-only, t=10 one event of
    // three at risk, t=20 the risk set dies out
    Seq((1L, "2001-07-01"),
        (2L, "2001-01-01"), (2L, "2001-01-11"),
        (3L, "2001-06-20"), (3L, "2001-06-30"),
        (4L, "2001-01-01"), (4L, "2001-01-21"))
      .toDF("o_custkey", "o_orderdate")
      .write.parquet(s"$dir/orders.parquet")
    val rows = SparkEntry.queries("q_km_ci")(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    // t=0: no events ⇒ S=1, G=0 ⇒ se=0, band collapses to [1,1]
    assert(rows(0L).getDouble(3) === 1.0 && rows(0L).getDouble(4) === 0.0)
    assert(rows(0L).getDouble(5) === 1.0 && rows(0L).getDouble(6) === 1.0)
    // t=10: S = 2/3, G = 1/(3·2) ⇒ se = S·√(1/6), band clamps inside [0,1]
    val s10 = math.exp(math.log(1.0 - 1.0 / 3.0))
    val se10 = s10 * math.sqrt(1.0 / (3.0 * 2.0))
    assert(rows(10L).getDouble(4) ===
      math.floor(se10 * 1e6 + 0.500001) / 1e6, s"se: ${rows(10L)}")
    assert(rows(10L).getDouble(5) < rows(10L).getDouble(3) &&
      rows(10L).getDouble(3) < rows(10L).getDouble(6))
    // t=20: the risk set dies out ⇒ S pinned 0, the band abstains
    assert(rows(20L).getDouble(3) === 0.0 && rows(20L).isNullAt(4) &&
      rows(20L).isNullAt(5) && rows(20L).isNullAt(6))
  }

  test("KM bands on real data: bands bracket the curve, se nonneg") {
    val rows = run("q_km_ci").collect()
    assert(rows.nonEmpty)
    val surv = run("q_survival").collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    rows.foreach { r =>
      assert(r.getDouble(3) === surv(r.getLong(0)),
        s"survival must match q_survival at t=${r.getLong(0)}")
      if (!r.isNullAt(4)) {
        assert(r.getDouble(4) >= 0.0)
        assert(r.getDouble(5) <= r.getDouble(3) + 1e-9 &&
          r.getDouble(3) <= r.getDouble(6) + 1e-9, s"band brackets: $r")
        assert(r.getDouble(5) >= 0.0 && r.getDouble(6) <= 1.0)
      }
    }
  }

  // ---- q_log_rank -----------------------------------------------------------

  test("log-rank: planted cohort replays the hand-computed chi-square") {
    import spark.implicits._
    // BUILDING: c1 censored at t=0, c2 event at t=10; rest: c3 censored
    // at t=0, c4 event at t=10, c5 CENSORED at t=10. At t=10: n=3, n1=1,
    // d=2, d1=1 ⇒ E=2/3, V = 2·(1/3)(2/3)·(3−2)/(3−1) = 2/9,
    // χ² = (1 − 2/3)²/(2/9) = 1/2
    val orders = Seq(
      (1L, "2001-07-01"),
      (2L, "2001-01-01"), (2L, "2001-01-11"),
      (3L, "2001-07-01"),
      (4L, "2001-01-01"), (4L, "2001-01-11"),
      (5L, "2001-06-20"), (5L, "2001-06-30"))
      .toDF("o_custkey", "o_orderdate")
    val cust = Seq((1L, "BUILDING"), (2L, "BUILDING"), (3L, "AUTOMOBILE"),
      (4L, "HOUSEHOLD"), (5L, "MACHINERY"))
      .toDF("c_custkey", "c_mktsegment")
    val dir = java.nio.file.Files.createTempDirectory("graft_lr").toString
    orders.write.parquet(s"$dir/orders.parquet")
    cust.write.parquet(s"$dir/customer.parquet")
    val r = SparkEntry.queries("q_log_rank")(spark, dir).head()
    assert(r.getLong(0) === 2L && r.getLong(1) === 3L, s"group sizes: $r")
    assert(r.getLong(2) === 1L, s"observed group-1 events: $r")
    assert(r.getDouble(3) === 0.666667, s"expected: $r")
    assert(r.getDouble(4) === 0.222222, s"variance: $r")
    assert(r.getDouble(5) === 0.5, s"chi2: $r")
    assert(r.getLong(6) === 0L)
  }

  test("log-rank: a saturated risk set (d = n) zeroes V and abstains") {
    import spark.implicits._
    // both customers churn at t=10 and nothing else is at risk there ⇒
    // every event time has n_risk = d or n_risk ≤ 1 ⇒ ΣV = 0 ⇒ NULL χ²
    val orders = Seq(
      (1L, "2001-01-01"), (1L, "2001-01-11"),
      (2L, "2001-01-01"), (2L, "2001-01-11"))
      .toDF("o_custkey", "o_orderdate")
    val cust = Seq((1L, "BUILDING"), (2L, "AUTOMOBILE"))
      .toDF("c_custkey", "c_mktsegment")
    val dir = java.nio.file.Files.createTempDirectory("graft_lr0").toString
    orders.write.parquet(s"$dir/orders.parquet")
    cust.write.parquet(s"$dir/customer.parquet")
    val r = SparkEntry.queries("q_log_rank")(spark, dir).head()
    assert(r.getLong(2) === 1L && r.isNullAt(5), s"degenerate abstains: $r")
    assert(r.getLong(6) === 0L, "flag pinned 0 on abstention")
  }

  test("log-rank on real data: O and E balance across the two groups") {
    val r = run("q_log_rank").head()
    val nCust = graft.io.Sources.table(spark, sf, "orders")
      .select("o_custkey").distinct().count()
    assert(r.getLong(0) + r.getLong(1) === nCust,
      "lifetimes cover every ordering customer")
    assert(r.getLong(2) >= 0L && r.getDouble(3) >= 0.0)
    assert(r.getDouble(4) >= 0.0, s"variance nonneg: $r")
    if (!r.isNullAt(5))
      assert(r.getLong(6) === (if (r.getDouble(5) > 3.8415) 1L else 0L))
  }
}
