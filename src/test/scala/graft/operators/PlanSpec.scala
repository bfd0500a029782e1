package graft.operators

import graft.{SparkSpec, SparkEntry}
import org.apache.spark.sql.functions._

/** Plan-shape regression tests: the scale properties this engine claims
  * (filter/column pushdown into the parquet scan, map-side partial
  * aggregation, single-shuffle pivot, broadcast kept to dimension tables,
  * no cartesian products outside the documented bounded brute-force
  * anchors) asserted against the actual executed plans, so a future edit
  * that silently regresses a 100 TB property fails CI — not just the
  * benchmark three rounds later.
  */
class PlanSpec extends SparkSpec {

  private val sf = graft.TestData.Sf0001

  private def plan(name: String): String = {
    // plan-shape assertions must see the real scans: a sibling suite that
    // ran first may have .cache()d a testdata table, and the CacheManager
    // substitutes that fragment into ANY later query on the same plan —
    // turning "filter pushed to parquet" into a filter over an
    // InMemoryRelation and making these tests order-sensitive
    spark.catalog.clearCache()
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
  }

  test("q_filter_project pushes filters and prunes columns at the scan") {
    val p = plan("q_filter_project")
    assert(p.contains("PushedFilters:") &&
      p.contains("GreaterThan(l_quantity,25"), s"filter not pushed:\n$p")
    // projection pruning: the scan schema must not include untouched wide
    // columns like l_comment/l_shipdate
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_shipdate"),
      s"scan reads unused columns: $readSchema")
  }

  test("grouped aggregates run partial (map-side) then final") {
    val p = plan("q_group_agg")
    val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2, s"expected partial+final HashAggregate, got $hashAggs:\n$p")
  }

  test("pivot with explicit values needs no distinct-values job") {
    val p = plan("q_pivot")
    // Spark's pivot is two-level: a full-data groupBy(year, status) whose
    // output is |years × statuses| rows, then pivotfirst over that tiny
    // set, then the orderBy range exchange — 3 Exchanges, only the first
    // of which sees full data. A 4th would mean the distinct-values scan
    // that implicit pivot values cost.
    assert(p.linesIterator.count(_.contains("Exchange")) <= 3,
      s"pivot plans extra shuffles:\n$p")
    assert(p.contains("pivotfirst") && !p.contains("CartesianProduct"))
  }

  test("star join broadcasts dimensions but never forces the fact side") {
    val p = plan("q_join_star")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"dimension broadcast missing:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("LSH dedup candidate generation stays equi-join only") {
    // q_ann_lsh/q_ann_ivf are not asserted here since r4: their envelope
    // queries embed the documented bounded brute-force anchor (a broadcast
    // nested-loop by construction); the LSH/IVF operator plans themselves
    // are asserted equi-join-only in AnnSpec.
    Seq("q_dedup_minhash", "q_dedup_simhash").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q plans an all-pairs join:\n$p")
    }
  }

  test("windowed and session queries reuse the aggregation partitioning") {
    // running-sum window over (customer) partitions: exactly one exchange
    // feeds the Window — no redundant repartition
    val p = plan("q_window_running")
    assert(p.linesIterator.count(_.contains("Exchange")) <= 2,
      s"window query plans redundant shuffles:\n$p")
  }

  test("q_edit_distance evaluates the banded DP once per row") {
    // the clip guard lives in a second projection over the materialized
    // attribute; if CollapseProject ever merges them the levenshtein runs
    // twice per row (measured 2.4× in r4) — count calls in the plan
    // (1 real call + 1 occurrence inside the raise_error message string)
    val p = plan("q_edit_distance")
    val calls = "levenshtein\\(".r.findAllIn(p).size
    assert(calls <= 2, s"levenshtein duplicated in plan ($calls occurrences):\n$p")
  }

  test("q_gap_fill: grid explode is broadcast-bounded, fill joins by key") {
    val p = plan("q_gap_fill")
    // the day-range bounds are a 1-row broadcast; the only nested-loop
    // join allowed is that bounds attach — user×day grid vs dailies must
    // be a key join, and nothing may degrade to a cartesian product
    assert(!p.contains("CartesianProduct"), s"cartesian in gap-fill:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"bounds broadcast missing:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"), s"daily fill join not a key join:\n$p")
  }

  test("q_token_budget: bucket prefix broadcasts, corpus never cartesian-joins") {
    val p = plan("q_token_budget")
    // the bounded bucket-prefix frame must BROADCAST back to the corpus;
    // a shuffled or nested-loop attach would defeat the two-level design
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"bucket prefix not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in token budget:\n$p")
  }

  test("q_snapshot_diff: full-outer diff is a key join over both snapshots") {
    val p = plan("q_snapshot_diff")
    assert(p.contains("FullOuter"), s"full-outer classification missing:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"diff degraded to a non-equi join:\n$p")
  }

  test("q_embed_neardup's exact anchor broadcasts the probe slice only") {
    // the contract's brute-force side must stay O(probes·n): the bounded
    // probe slice broadcasts; an all-pairs self-join (no probe filter)
    // would be O(n²) and explode at sf1+
    val p = plan("q_embed_neardup")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"probe-slice broadcast missing:\n$p")
    assert(!p.contains("CartesianProduct"), s"all-pairs cartesian:\n$p")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("LessThan(vec_id,256)"),
      s"probe slice filter not pushed to parquet:\n$pushed")
  }

  test("connectedComponents: convergence rides the checkpoint job, rounds stay cheap") {
    // r5 regression class: per-round convergence/cleanup jobs made the CC
    // query driver-overhead-bound (20 jobs for a 3-round graph). The
    // observe()-based shape pins the budget: per round exactly ONE action
    // (the eager localCheckpoint, carrying the changed-label count as a
    // CollectMetrics accumulator) plus AQE's shuffle-stage jobs — so a
    // 3-round two-hop graph must stay within a small fixed job budget,
    // and the result must read ONLY checkpointed labels (re-scanning the
    // edge lineage per round is the classic iterative-Spark trap).
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.functions.col
    val ids = spark.read.parquet(s"$sf/documents.parquet").select(col("doc_id"))
    val edges = ids.select(col("doc_id").as("a"), (col("doc_id") + 1000000L).as("b"))
      .unionByName(ids.select((col("doc_id") + 1000000L).as("a"),
        (col("doc_id") + 2000000L).as("b")))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.catalog.clearCache()
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = graft.dedup.Dedup.connectedComponents(edges)
      assert(!out.queryExecution.executedPlan.toString.contains("Scan parquet"),
        "CC result re-reads the edge lineage instead of the checkpointed labels")
      out.write.format("noop").mode("overwrite").save()
      Thread.sleep(1000) // listener bus drains asynchronously
      // measured shape: 3 rounds ≈ 12-14 jobs (setup + 1 checkpoint and
      // AQE shuffle jobs per round + the final write); 18 is headroom for
      // AQE variance, while the r5 isEmpty-per-round shape (20) fails
      assert(jobs.get() <= 18,
        s"CC launched ${jobs.get()} jobs for a 3-round graph — a per-round " +
          "convergence/cleanup job crept back in")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("group percentile: one aggregate pass, sketch agrees with exact") {
    import org.apache.spark.sql.functions.col
    spark.catalog.clearCache()
    val df = graft.SparkEntry.queries("q_group_percentile")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // exact + sketch medians share ONE aggregate: a single hash Exchange
    // on the group key, no join, no window
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx <= 1, s"grouped percentile shuffled more than once:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"unexpected join/window in grouped percentile plan:\n$p")
    // the envelope contract holds on real data at this SF
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(3) === 1L,
      s"sketch median strayed >3% for group ${r.getString(0)}"))
  }

  test("weighted quantile: definition recheck + shared-Exchange plan") {
    val df = graft.SparkEntry.queries("q_weighted_quantile")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // cum window, partition-total window, and the groupBy all ride ONE
    // source-keyed Exchange
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 1,
      s"weighted quantile shuffled more than once:\n$p")
    assert(!p.contains("Join"), s"unexpected join:\n$p")
    val out = df.collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.nonEmpty)
    // recompute one source end-to-end from raw rows
    val src = out.keys.min
    val rows = graft.io.Sources.table(spark, sf, "documents")
      .where(col("source") === src)
      .select(col("n_chars"), col("doc_id"),
        size(graft.text.TextOps.tokens(col("text"))).cast("long").as("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    val total = rows.map(_._3).sum
    def wq(q: Double): Long = {
      var c = 0L
      rows.find { t => c += t._3; c >= q * total }.get._1
    }
    val (tw, p50, p90) = out(src)
    assert(tw === total)
    assert(p50 === wq(0.5), "p50 definition mismatch")
    assert(p90 === wq(0.9), "p90 definition mismatch")
    out.values.foreach { case (_, lo, hi) => assert(lo <= hi) }
  }

  test("global-ranking queries plan NO partition-less Window (r10 swap-in)") {
    // q_gini / q_quantile_normalize / q_kendall_w / q_trimmed_mean ranked
    // via a deliberate single-task `row_number() OVER (ORDER BY ...)`
    // through round 9 ("the warning fires honestly"); they now run
    // Ranks.withGlobalRank's two-level bucket pattern, so the gate flips:
    // every Window node in these plans must carry a partition spec (the
    // bounded-frame BoundedWindow key or the bucket column) — an empty
    // partitionSpec is the moves-all-data-to-one-task shape that cannot
    // survive 100 TB.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    Seq("q_gini", "q_quantile_normalize", "q_kendall_w", "q_trimmed_mean")
      .foreach { q =>
        spark.catalog.clearCache()
        val lp = SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan
        val bare = lp.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
        assert(bare.isEmpty,
          s"$q still plans ${bare.size} partition-less Window node(s)")
      }
  }

  test("round-11 closing queries keep the scale contracts (no bare Window, bounded joins)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate => LAggregate, Window => LWindow}
    // q_lorenz ranks through the two-level bucket pattern: any Window in
    // the plan must carry a partition spec or sit over an
    // Aggregate-bounded child (the ≤10-row decile frame)
    Seq("q_lorenz", "q_cmh", "q_log_rank", "q_km_ci", "q_transfer_entropy")
      .foreach { q =>
        spark.catalog.clearCache()
        val lp = SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan
        val bare = lp.collect {
          case w: LWindow if w.partitionSpec.isEmpty &&
            w.child.collectFirst { case a: LAggregate => a }.isEmpty => w
        }
        assert(bare.isEmpty,
          s"$q plans ${bare.size} partition-less Window over raw data")
      }
    // q_hhi: the customer dim attaches by broadcast, never a cartesian
    val hhi = plan("q_hhi")
    assert(hhi.contains("BroadcastHashJoin") || hhi.contains("BroadcastExchange"),
      s"q_hhi customer dim must broadcast:\n$hhi")
    assert(!hhi.contains("CartesianProduct"), s"q_hhi cartesian:\n$hhi")
    // q_price_index: ONE part-keyed equi-join between the two year
    // slices; no cartesian, no nested loop
    val pi = plan("q_price_index")
    assert(!pi.contains("CartesianProduct") &&
      !pi.contains("BroadcastNestedLoopJoin"), s"q_price_index joins:\n$pi")
    // q_elasticity: join-free — one scan to a 1-row moment aggregate
    val el = plan("q_elasticity")
    assert(!el.contains("Join"), s"q_elasticity must be join-free:\n$el")
  }

  test("round-12 additions keep the scale contracts (bounded windows, broadcast pair joins)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate => LAggregate, Window => LWindow}
    // q_nelson_aalen: windows only over the Aggregate-bounded t_days
    // frame (the q_survival shape); q_rdd / q_gumbel_max: join-free
    // single-aggregate plans
    Seq("q_nelson_aalen").foreach { q =>
      spark.catalog.clearCache()
      val lp = SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan
      val bare = lp.collect {
        case w: LWindow if w.partitionSpec.isEmpty &&
          w.child.collectFirst { case a: LAggregate => a }.isEmpty => w
      }
      assert(bare.isEmpty,
        s"$q plans ${bare.size} partition-less Window over raw data")
    }
    Seq("q_rdd", "q_gumbel_max").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join"), s"$q must be join-free:\n$p")
    }
    // q_mk_seasonal: the same-weekday pair census must be a BROADCAST
    // join on the calendar-bounded daily frame — a SortMergeJoin or
    // cartesian here would shuffle the census at corpus scale
    val mks = plan("q_mk_seasonal")
    assert(mks.contains("BroadcastHashJoin") || mks.contains("BroadcastExchange"),
      s"q_mk_seasonal pair census must broadcast:\n$mks")
    assert(!mks.contains("CartesianProduct") && !mks.contains("SortMergeJoin"),
      s"q_mk_seasonal census join regressed:\n$mks")
    // q_brunner_munzel / q_jonckheere / q_ansari_bradley: rank math
    // entirely on the value histogram — join-free, windows only over the
    // Aggregate-bounded frame
    Seq("q_brunner_munzel", "q_jonckheere", "q_ansari_bradley").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join"), s"$q must be join-free:\n$p")
    }
    // q_gk_gamma: the concordance census self-joins the SCHEMA-bounded
    // 50×11 cell frame — broadcast only (a bounded nested-loop on the
    // strict-q key is the plan; a SortMergeJoin or raw cartesian over
    // lineitem would be the regression)
    val gk = plan("q_gk_gamma")
    assert(!gk.contains("SortMergeJoin") && !gk.contains("CartesianProduct"),
      s"q_gk_gamma census regressed:\n$gk")
    assert(gk.contains("BroadcastNestedLoopJoin") ||
      gk.contains("BroadcastHashJoin"),
      s"q_gk_gamma cell pairs must broadcast:\n$gk")
    // q_bartels_rank: join-free; every window over the Aggregate-bounded
    // daily frame
    spark.catalog.clearCache()
    val brLp = SparkEntry.queries("q_bartels_rank")(spark, sf)
      .queryExecution.optimizedPlan
    val brBare = brLp.collect {
      case w: LWindow if w.partitionSpec.isEmpty &&
        w.child.collectFirst { case a: LAggregate => a }.isEmpty => w
    }
    assert(brBare.isEmpty,
      s"q_bartels_rank plans ${brBare.size} partition-less Window over raw data")
    assert(!plan("q_bartels_rank").contains("Join"),
      s"q_bartels_rank must be join-free")
    // q_kl_divergence: the corpus term frame and per-source totals attach
    // by BROADCAST; the corpus-sized counts frame never sort-merge-joins
    val kl = plan("q_kl_divergence")
    assert(!kl.contains("SortMergeJoin") && !kl.contains("CartesianProduct"),
      s"q_kl_divergence counts must not shuffle-join:\n$kl")
    assert(kl.contains("BroadcastHashJoin"),
      s"q_kl_divergence term/source frames must broadcast:\n$kl")
    // q_page_trend: every window partitioned (by week / weekday) or over
    // an Aggregate-bounded child
    spark.catalog.clearCache()
    val ptLp = SparkEntry.queries("q_page_trend")(spark, sf)
      .queryExecution.optimizedPlan
    val ptBare = ptLp.collect {
      case w: LWindow if w.partitionSpec.isEmpty &&
        w.child.collectFirst { case a: LAggregate => a }.isEmpty => w
    }
    assert(ptBare.isEmpty,
      s"q_page_trend plans ${ptBare.size} partition-less Window over raw data")
  }

  test("distribution-rank queries plan NO bounded-small-key Window over data (r11 swap-in)") {
    // q_window_ntile partitioned by c_mktsegment (5 values) and
    // q_window_dist by o_orderstatus (3) — a schema-bounded-small
    // partition key over a data-sized frame streams a constant FRACTION
    // of the corpus through one task: the partition-less shape divided by
    // five. Both now run Ranks.withPartitionedRank; the gate admits a
    // Window only when it is (a) multi-key — the (part, bucket) ranking
    // window, |parts|·buckets uniform tasks — or (b) single-key over an
    // Aggregate-bounded child (the |parts|·buckets-row offsets frame,
    // never the data).
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate => LAggregate, Window => LWindow}
    Seq("q_window_ntile", "q_window_dist").foreach { q =>
      spark.catalog.clearCache()
      val lp = SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan
      val hot = lp.collect {
        case w: LWindow if w.partitionSpec.size < 2 &&
          w.child.collectFirst { case a: LAggregate => a }.isEmpty => w
      }
      assert(hot.isEmpty,
        s"$q plans ${hot.size} Window node(s) keyed only by a " +
          "schema-bounded-small column over a data-sized frame")
    }
  }
}
