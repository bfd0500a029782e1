package graft.operators

import graft.{SparkSpec, SparkEntry}
import org.apache.spark.sql.functions._

/** Semantic invariants for the distribution-rank window family
  * (q_window_ntile): the DuckDB hash gate pins exact values; these pin
  * the PROPERTIES that make them right — quartile balance, exact
  * percent-rank/cume-dist arithmetic, monotonicity in the order key —
  * plus the one-shuffle plan shape.
  */
class RelationalWindowSpec extends SparkSpec {

  private val sf = graft.TestData.Sf0001

  test("ntile quartiles balance within 1; ranks are exact integer ratios") {
    val rows = SparkEntry.queries("q_window_ntile")(spark, sf).collect()
    val bySeg = rows.groupBy(_.getString(1))
    assert(bySeg.nonEmpty)
    bySeg.foreach { case (seg, rs) =>
      val n = rs.length
      val sizes = rs.groupBy(_.getLong(2)).map { case (q, g) => q -> g.length }
      assert(sizes.keySet.subsetOf(Set(1L, 2L, 3L, 4L)), s"$seg: $sizes")
      assert(sizes.values.max - sizes.values.min <= 1,
        s"$seg quartiles must balance within 1: $sizes")
      // exact distribution arithmetic at every row: with the unique
      // (v, custkey) order, rank == row position; pct_rank = (r-1)/(n-1),
      // cume = r/n
      val sorted = rs.sortBy(_.getDouble(4)) // cume ascending == rank order
      sorted.zipWithIndex.foreach { case (r, i) =>
        val rank = i + 1
        def r6(x: Double) = math.floor(x * 1e6 + 0.500001) / 1e6
        assert(r.getDouble(3) === r6((rank - 1).toDouble / (n - 1)),
          s"$seg rank $rank pct_rank: $r")
        assert(r.getDouble(4) === r6(rank.toDouble / n), s"$seg cume: $r")
      }
      // quartile is non-decreasing along the rank order
      assert(sorted.map(_.getLong(2)).sliding(2).forall(p => p(0) <= p(1)))
    }
  }

  test("ntile plan (r11): bucketed ranking, broadcast joins only, two bounded windows") {
    // the r10 shape — ONE Window partitioned by c_mktsegment (5 values) —
    // streamed ~20% of all customers through a single task; the Ranks swap
    // trades join-freedom for uniform (segment, bucket) ranking tasks.
    // Gate: every join broadcasts (boundaries, offsets, counts are all
    // ≤ |segments|·buckets rows), and exactly two Window nodes remain —
    // the (segment, bucket) ranking window and the offsets prefix-sum over
    // the aggregate-bounded frame; neither keys on the segment alone.
    spark.catalog.clearCache()
    val q = SparkEntry.queries("q_window_ntile")(spark, sf)
    val p = q.queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"every join side is schema-bounded and must broadcast:\n$p")
    val windows = p.linesIterator.count(_.contains("Window ["))
    assert(windows === 2,
      s"expected the ranking + offsets windows, nothing more:\n$p")
  }

  // ---- q_interval_union ---------------------------------------------------

  test("interval union matches a driver-side merge of each user's intervals") {
    val durUs = 600L * 1000000L
    val ev = graft.io.Sources.table(spark, sf, "events")
      .select("user_id", "event_id", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2)))
    val want = ev.groupBy(_._1).map { case (uid, rows) =>
      val ivs = rows.sortBy(r => (r._3.getTime, r._2)).map { r =>
        // getTime is ms; the operator works in µs — re-derive exactly
        val us = r._3.getTime * 1000L + (r._3.getNanos / 1000L) % 1000L
        (us, us + durUs)
      }
      val merged = ivs.foldLeft(List.empty[(Long, Long, Long)]) {
        case (acc, (st, en)) => acc match {
          case (a, b, n) :: rest if st <= b =>
            (a, math.max(b, en), n + 1) :: rest
          case _ => (st, en, 1L) :: acc
        }
      }
      uid -> (merged.size.toLong,
        merged.map(m => m._2 - m._1).sum,
        merged.map(m => m._2 - m._1).max,
        merged.map(_._3).sum)
    }
    val got = SparkEntry.queries("q_interval_union")(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (ni, cov, lng, ne) = want(r.getLong(0))
      assert(r.getLong(1) === ni, s"n_intervals for user ${r.getLong(0)}")
      assert(r.getLong(2) === cov, s"covered_us for user ${r.getLong(0)}")
      assert(r.getLong(3) === lng, s"longest_us for user ${r.getLong(0)}")
      assert(r.getLong(4) === ne, s"n_events for user ${r.getLong(0)}")
    }
    assert(got.map(_.getLong(0)).toSet === want.keySet)
  }

  test("interval union invariants and one-exchange plan") {
    val durUs = 600L * 1000000L
    val rows = SparkEntry.queries("q_interval_union")(spark, sf).collect()
    rows.foreach { r =>
      val (ni, cov, lng, ne) = (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))
      assert(ni >= 1L && ni <= ne, s"interval count bounds: $r")
      // coverage is between one window (all overlapping) and n disjoint ones
      assert(cov >= lng && lng >= durUs && cov <= ne * durUs, s"coverage: $r")
      assert(cov >= ni * durUs, s"each island spans at least one window: $r")
    }
    spark.catalog.clearCache()
    val p = SparkEntry.queries("q_interval_union")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"islands ride windows, never a self-join:\n$p")
    // exactly one DATA shuffle (the user_id hash exchange that the two
    // Window nodes and both rollups share); the output orderBy's range
    // exchange is presentation, not dataflow
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx === 1,
      s"windows and both rollups must reuse the one user_id shuffle:\n$p")
  }
}
