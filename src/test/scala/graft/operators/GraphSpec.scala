package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {

  import spark.implicits._

  private def edges(pairs: (Long, Long)*) = pairs.toDF("src", "dst")

  private def sym(pairs: (Long, Long)*) =
    edges(pairs ++ pairs.map(_.swap): _*)

  test("uniform on a cycle: every node scores exactly 1/n at any iteration count") {
    // directed 4-cycle: in-degree = out-degree = 1 everywhere, so the
    // uniform start is the exact fixpoint — any drift is an engine bug
    val ring = edges((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L))
    for (iters <- Seq(1, 7)) {
      val pr = Graph.pagerank(ring, iters).collect()
      assert(pr.length === 4)
      pr.foreach(r => assert(math.abs(r.getDouble(1) - 0.25) < 1e-12))
      pr.foreach(r => assert(r.getLong(2) === 4L))
    }
  }

  test("probability mass is conserved and the star center dominates") {
    // symmetrized star: center 0 ↔ leaves 1..6
    val star = sym((1L to 6L).map(i => (0L, i)): _*)
    val pr = Graph.pagerank(star, iters = 5).collect()
    assert(math.abs(pr.map(_.getDouble(1)).sum - 1.0) < 1e-9)
    val byNode = pr.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    (1L to 6L).foreach { leaf =>
      assert(byNode(0L) > 2 * byNode(leaf))
      // leaves are symmetric — identical scores, bit-for-bit
      assert(byNode(leaf) === byNode(1L))
    }
  }

  test("matches a driver-computed dense power iteration on an irregular graph") {
    val pairs = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 0L))
    val g = pairs ++ pairs.map(_.swap)
    val n = 5
    val odeg = g.groupBy(_._1).map { case (k, v) => k -> v.size.toDouble }
    var ref = Array.fill(n)(1.0 / n)
    for (_ <- 1 to 5) {
      val next = Array.fill(n)(0.15 / n)
      g.foreach { case (s, d) =>
        next(d.toInt) += 0.85 * ref(s.toInt) / odeg(s)
      }
      ref = next
    }
    val got = Graph.pagerank(edges(g: _*), iters = 5).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    (0 until n).foreach { i =>
      assert(math.abs(got(i.toLong) - ref(i)) < 1e-12,
        s"node $i: got ${got(i.toLong)}, want ${ref(i)}")
    }
  }

  test("copurchase edges are distinct, symmetric, id-spaces disjoint") {
    val li = Seq((1L, 10L), (1L, 10L), (1L, 11L), (2L, 10L))
      .toDF("l_orderkey", "l_partkey")
      .withColumn("l_quantity", lit(1.0))
    val e = Graph.copurchaseEdges(li).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(e.length === 6) // 3 distinct links × 2 directions
    assert(e.toSet.map((p: (Long, Long)) => p.swap) === e.toSet)
    val orderNodes = e.map(_._1).filter(_ < Graph.PartOffset).toSet
    assert(orderNodes === Set(1L, 2L))
    assert(e.map(_._1).filter(_ >= Graph.PartOffset).toSet ===
      Set(Graph.PartOffset + 10L, Graph.PartOffset + 11L))
  }

  test("job budget: a 5-iteration run stays within the single-action bound") {
    // Setup (adj + node checkpoints) + ONE terminal action (the final
    // round's localCheckpoint) that materializes all 5 lazily-persisted
    // rounds at once — AQE splits that action into per-exchange stage-jobs,
    // but the count stays well under the old round-at-a-time shape's ~34.
    // A regression back to one eager action per round (the r8 contention
    // amplifier), to per-round edge re-materialization, or to convergence
    // POLLING each adds whole jobs and lands past this bound.
    val li = graft.io.Sources.table(spark, graft.TestData.Sf0001, "lineitem")
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    Graph.pagerank(Graph.copurchaseEdges(li), iters = 5).count()
    val after = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val jobs = after - before
    assert(jobs <= 32, s"pagerank(5 iters) ran $jobs jobs — iteration " +
      "machinery is running per-round actions it should have folded into one")
  }

  // ---- triangle counting --------------------------------------------------

  test("triangles: K4 has 4, a path has 0, transitivity bounds hold") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("u", "v")
    val r = Graph.triangleStats(k4).head
    assert(r.getLong(0) === 4 && r.getLong(1) === 6 && r.getLong(2) === 4)
    assert(math.abs(r.getDouble(3) - 1.0) < 1e-9, "K4 transitivity must be 1")
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    val p = Graph.triangleStats(path).head
    assert(p.getLong(2) === 0 && p.getDouble(3) === 0.0)
  }

  test("triangles: degree-ordered count matches brute-force triple join") {
    val li = graft.io.Sources.table(spark, graft.TestData.Sf0001, "lineitem")
      .where(col("l_orderkey") < 300)
    val und = Graph.partPairEdges(li).cache()
    try {
      val fast = Graph.triangleStats(und).head.getLong(2)
      // brute force: every ordered triple u<v<w with all three edges
      val e1 = und.select(col("u").as("a"), col("v").as("b"))
      val e2 = und.select(col("u").as("b"), col("v").as("c"))
      val e3 = und.select(col("u").as("a"), col("v").as("c"))
      val brute = e1.join(e2, Seq("b")).join(e3, Seq("a", "c")).count()
      assert(fast === brute, s"forward algorithm $fast != brute $brute")
      assert(brute > 0, "slice too small to exercise the closure join")
    } finally und.unpersist()
  }

  test("triangles plan: equi-joins only, semi-join closure") {
    val df = graft.SparkEntry.queries("q_triangles")(spark, graft.TestData.Sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"wedge join went cartesian:\n$p")
    assert(p.contains("LeftSemi"), s"closure should be a semi-join:\n$p")
  }
  // ---- butterflies ---------------------------------------------------------

  private def bip(pairs: (Long, Long)*) = pairs.toDF("c", "p")

  test("butterflies: complete biclique K(2,3) has 3 and bcc exactly 1.0") {
    val r = Graph.butterflyStats(bip(
      (1L, 10L), (1L, 20L), (1L, 30L), (2L, 10L), (2L, 20L), (2L, 30L))).head
    assert(r.getLong(0) === 2 && r.getLong(1) === 3 && r.getLong(2) === 6)
    assert(r.getLong(3) === 3, "K(2,3) butterflies = C(2,2)*C(3,2)")
    assert(r.getLong(4) === 12, "K(2,3) caterpillars = 6 edges * (2-1)(3-1)")
    assert(r.getDouble(5) === 1.0, "complete biclique bcc = 1")
  }

  test("butterflies: a path has none; census is side-symmetric") {
    val path = bip((1L, 10L), (2L, 10L), (2L, 20L))
    val r = Graph.butterflyStats(path).head
    assert(r.getLong(3) === 0 && r.getLong(4) === 1 && r.getDouble(5) === 0.0)
    // transpose the K(2,3) fixture: the anchor side flips, the census not
    val t = Graph.butterflyStats(Seq(
      (10L, 1L), (20L, 1L), (30L, 1L), (10L, 2L), (20L, 2L), (30L, 2L))
      .toDF("c", "p")).head
    assert(t.getLong(3) === 3 && t.getLong(4) === 12 && t.getDouble(5) === 1.0)
  }

  test("butterflies plan: anchor equi-join, no cartesian wedge generation") {
    val df = graft.SparkEntry.queries("q_butterflies")(spark, graft.TestData.Sf0001)
    val p = df.queryExecution.executedPlan.toString
    // the single-row stat attaches are BNLJ crosses by design (the
    // triangleStats shape); what must never appear is a row-level cartesian
    assert(!p.contains("CartesianProduct"), s"wedge join went cartesian:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"),
      s"wedges must come from the anchor equi-join:\n$p")
  }

  test("residual trace: non-increasing, matches a driver recomputation, 0 at fixpoint") {
    // irregular graph: residuals must contract (damping 0.85 bounds the
    // per-round L1 step growth factor) and the emitted column = last trace
    val pairs = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 0L))
    val (df, res) = Graph.pagerankWithResiduals(
      edges(pairs ++ pairs.map(_.swap): _*), iters = 5)
    assert(res.length === 5 && res.forall(r => !r.isNaN && r >= 0))
    res.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a + 1e-12, s"residual rose: $res") }
    val rows = df.collect()
    rows.foreach(r => assert(r.getDouble(3) === res.last))
    // 4-cycle starts AT the fixpoint: every round's step is exactly 0
    val (_, ringRes) = Graph.pagerankWithResiduals(
      edges((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L)), iters = 3)
    ringRes.foreach(r => assert(math.abs(r) < 1e-12, s"fixpoint moved: $ringRes"))
  }

  // ---- label propagation ---------------------------------------------------

  test("LPA: disjoint triangles each collapse to their min-id label") {
    val twoTris = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L)).toDF("u", "v")
    val labels = Graph.labelPropagation(twoTris, rounds = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size === 6)
    Seq(1L, 2L, 3L).foreach(n => assert(labels(n) === 1L,
      s"node $n should carry the triangle's min id, got ${labels(n)}"))
    Seq(10L, 11L, 12L).foreach(n => assert(labels(n) === 10L))
  }

  test("LPA change counts: observed per round, settle to 0 once collapsed") {
    val twoTris = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L)).toDF("u", "v")
    val (_, changes) = Graph.labelPropagationWithChanges(twoTris, rounds = 3)
    assert(changes.length === 3 && changes.forall(_ >= 0), s"lost metric: $changes")
    // round 1: every node adopts a neighbour's id (min-tie) — all 6 move;
    // round 2: only each triangle's min node still carries a foreign label;
    // round 3: collapsed, nothing changes
    assert(changes === Seq(6L, 2L, 0L), s"unexpected trace: $changes")
  }

  test("LPA is deterministic and partition-invariant") {
    val und = Graph.partPairEdges(
      graft.io.Sources.table(spark, graft.TestData.Sf0001, "lineitem")
        .where(col("l_orderkey") % 10 === 0)).cache()
    try {
      val a = Graph.labelPropagation(und, Graph.LpaRounds).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val b = Graph.labelPropagation(und.repartition(7), Graph.LpaRounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(a === b, "labels must be a pure function of the graph")
      assert(a.values.toSet.size > 1 && a.values.toSet.size < a.size,
        "3 rounds should form real communities (neither all-merged nor none)")
    } finally und.unpersist()
  }

  // ---- local clustering coefficient ----------------------------------------

  test("local cc: every K4 node has t = 3, cc = 1.0; corner sum = 3x global") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("u", "v")
    val rows = Graph.localClustering(k4, k = 10).collect()
    assert(rows.length === 4)
    rows.foreach { r =>
      assert(r.getLong(1) === 3 && r.getLong(2) === 3 && r.getDouble(3) === 1.0)
    }
    // on real data: per-node triangle credits sum to exactly 3x the census
    val und = Graph.partPairEdges(
      graft.io.Sources.table(spark, graft.TestData.Sf0001, "lineitem")
        .where(col("l_orderkey") % 10 === 0)).cache()
    try {
      val global = Graph.triangleStats(und).head.getLong(2)
      val perNodeSum = Graph.localClustering(und, k = Int.MaxValue)
        .agg(sum("n_triangles")).head.getLong(0)
      assert(perNodeSum === 3 * global,
        s"corner credits $perNodeSum != 3 x $global")
    } finally und.unpersist()
  }

  test("local cc plan: distributed TakeOrdered heap, no global sort") {
    val p = graft.SparkEntry.queries("q_local_cc")(spark, graft.TestData.Sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be a heap, not a full sort:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  // ---- k-core --------------------------------------------------------------

  test("kCore: closed forms — K5 survives its own 4-core, a tree has empty 2-core") {
    val k5 = (for { u <- 1L to 5L; v <- (u + 1) to 5L } yield (u, v)).toDF("u", "v")
    val r = Graph.kCore(k5, k = 4, rounds = 3).head
    assert(r.getLong(1) === 5 && r.getLong(2) === 10 && r.getLong(3) === 1L,
      "K5 is its own 4-core")
    val tree = Seq((1L, 2L), (1L, 3L), (2L, 4L), (2L, 5L)).toDF("u", "v")
    val t = Graph.kCore(tree, k = 2, rounds = 6).head
    assert(t.getLong(1) === 0 && t.getLong(2) === 0 && t.getLong(3) === 1L,
      "a tree peels to nothing at k = 2")
  }

  test("kTruss: a K4 survives its own 4-truss, a pendant triangle peels") {
    // K4 on {1..4}: every edge closes 2 triangles -> survives k = 4.
    // The triangle {4,5,6} hangs off node 4: its edges have support 1
    // and peel in round 1, after which nothing else changes.
    val k4 = for { u <- 1L to 4L; v <- (u + 1) to 4L } yield (u, v)
    val g = (k4 ++ Seq((4L, 5L), (4L, 6L), (5L, 6L))).toDF("u", "v")
    val r = Graph.kTruss(g, k = 4, rounds = 3).head
    assert(r.getLong(0) === 4L)
    assert(r.getLong(1) === 6L && r.getLong(2) === 4L && r.getLong(3) === 1L,
      s"the 4-truss of K4+pendant-triangle is K4 itself: $r")
    // a pure triangle chain (every edge support 1) peels to nothing
    val chain = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (3L, 5L)).toDF("u", "v")
    val c = Graph.kTruss(chain, k = 4, rounds = 3).head
    assert(c.getLong(1) === 0L && c.getLong(2) === 0L && c.getLong(3) === 1L,
      s"support-1 triangles cannot survive k = 4: $c")
  }

  test("kTruss: fixpoint in-budget on real data, truss edges nest in the graph") {
    val r = graft.SparkEntry.queries("q_ktruss")(
      spark, graft.TestData.Sf0001).head
    assert(r.getLong(3) === 1L, s"q_ktruss must reach its fixpoint in 3 rounds: $r")
    assert(r.getLong(1) >= 0L && r.getLong(2) >= 0L)
    // edge-cohesion nesting: the 4-truss is a subgraph of the 2-core of
    // the co-purchase slice (every truss edge endpoint has degree >= 2)
    val und = Graph.partPairEdges(
      graft.io.Sources.table(spark, graft.TestData.Sf0001, "lineitem")
        .where(col("l_orderkey") % 10 === 0))
    val core2 = Graph.kCore(und, k = 2, rounds = 6).head.getLong(1)
    assert(r.getLong(2) <= core2, "truss nodes nest inside the 2-core")
  }

  test("kCore: fixpoint reached in-budget on real data, cores nest") {
    val und = Graph.partPairEdges(
      graft.io.Sources.table(spark, graft.TestData.Sf0001, "lineitem")
        .where(col("l_orderkey") % 10 === 0)).cache()
    try {
      val r6c = graft.SparkEntry.queries("q_kcore")(spark, graft.TestData.Sf0001).head
      assert(r6c.getLong(3) === 1L, "q_kcore must reach its fixpoint in 6 rounds")
      val n4 = Graph.kCore(und, k = 4, rounds = 8).head.getLong(1)
      assert(r6c.getLong(1) <= n4, "the 6-core must nest inside the 4-core")
      // every survivor keeps degree >= k within the core (fixpoint property)
      assert(r6c.getLong(2) * 2 >= Graph.CoreK * r6c.getLong(1),
        "handshake: core edges cannot support degree >= k otherwise")
    } finally und.unpersist()
  }

  // ---- link prediction ------------------------------------------------------

  test("link prediction: path closed form — (a,c) scores cn=1, jaccard=1, AA=1/ln2") {
    // path 1–2–3: the only open wedge pair is (1,3) through center 2 (deg 2)
    val path = Seq((1L, 2L), (2L, 3L)).toDF("u", "v")
    val rows = Graph.linkPrediction(path, k = 10).collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getLong(0) === 1L && r.getLong(1) === 3L)
    assert(r.getLong(2) === 1L && r.getLong(3) === 1L && r.getLong(4) === 1L)
    assert(r.getDouble(5) === 1.0, s"jaccard ${r.getDouble(5)}")
    val aa = math.floor(1000000.0 / math.log(2.0)) / 1000000.0
    assert(r.getDouble(6) === aa, s"AA ${r.getDouble(6)} != floor-quantized 1/ln2 $aa")
  }

  test("link prediction: square's two diagonals score cn=2; edges never appear") {
    // 4-cycle 1–2–3–4–1: open pairs are the diagonals (1,3), (2,4), cn = 2
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("u", "v")
    val rows = Graph.linkPrediction(square, k = 10).collect()
    assert(rows.length === 2)
    val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((1L, 3L, 2L), (2L, 4L, 2L)))
    rows.foreach(r => assert(r.getDouble(5) === 1.0, "diagonals: jaccard 2/(2+2-2)"))
  }

  test("link prediction on real data: pairs are non-adjacent, cn ≤ min(deg)") {
    val und = Graph.partPairEdges(
      graft.io.Sources.table(spark, graft.TestData.Sf0001, "lineitem")
        .where(col("l_orderkey") % 10 === 0)).cache()
    try {
      val top = Graph.linkPrediction(und, k = 20)
      val onEdges = top.join(und,
        top("x") === und("u") && top("y") === und("v"), "left_semi").count()
      assert(onEdges === 0L, "predicted links must not already exist")
      top.collect().foreach { r =>
        assert(r.getLong(2) >= 1L, "every candidate shares a neighbor")
        assert(r.getLong(2) <= math.min(r.getLong(3), r.getLong(4)),
          "common neighbors bounded by either degree")
        assert(r.getDouble(5) > 0.0 && r.getDouble(5) <= 1.0)
        assert(r.getDouble(6) > 0.0)
      }
    } finally und.unpersist()
  }

  test("link prediction plan: TakeOrdered heap, key equi-joins only") {
    val p = graft.SparkEntry.queries("q_link_prediction")(spark, graft.TestData.Sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be a heap, not a full sort:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"all joins must be key equi-joins:\n$p")
  }

  // ---- BFS levels / q_sssp --------------------------------------------------

  test("BFS levels: exact path-graph distances, early exhaustion observed") {
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("u", "v")
    val (dist, sizes) = Graph.bfsLevels(und, source = 1L, rounds = 6)
    val m = dist.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
    // frontier trace: one new node per round, then exhaustion at round 5
    assert(sizes === Seq(1L, 1L, 1L, 1L, 0L, 0L))
  }

  test("BFS never crosses into a disconnected component") {
    val und = Seq((1L, 2L), (10L, 11L)).toDF("u", "v")
    val (dist, sizes) = Graph.bfsLevels(und, source = 1L, rounds = 3)
    assert(dist.collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    assert(sizes === Seq(1L, 0L, 0L))
  }

  test("q_sssp on real data: source row pinned, counts conserve, converged") {
    val und = Graph.partPairEdges(
      graft.io.Sources.table(spark, graft.TestData.Sf0001, "lineitem")
        .where(col("l_orderkey") % 10 === 0)).cache()
    try {
      val rows = graft.SparkEntry.queries("q_sssp")(spark, graft.TestData.Sf0001)
        .collect()
      val srcNode = und.agg(min(col("u"))).head.getLong(0)
      val d0 = rows.find(_.getLong(0) == 0L).get
      assert(d0.getLong(1) === 1L && d0.getLong(2) === srcNode &&
        d0.getLong(3) === srcNode, "distance-0 row must be exactly the source")
      assert(rows.forall(_.getLong(4) === 1L),
        s"the ${graft.operators.Graph.BfsRounds}-round budget must exhaust " +
          "the frontier on the sliced graph")
      val nNodes = und.select(col("u").as("n"))
        .unionAll(und.select(col("v").as("n"))).distinct().count()
      assert(rows.map(_.getLong(1)).sum <= nNodes,
        "reached nodes cannot exceed the graph's node count")
      // distances are contiguous from 0 (a BFS cannot skip a level)
      val ds = rows.map(_.getLong(0)).sorted.toSeq
      assert(ds === (0L until ds.length.toLong).toSeq, s"level gap in $ds")
    } finally und.unpersist()
  }

  test("BFS is deterministic across runs (checkpointed frontier, no races)") {
    val und = Graph.partPairEdges(
      graft.io.Sources.table(spark, graft.TestData.Sf0001, "lineitem")
        .where(col("l_orderkey") % 10 === 0))
    def snap() = {
      val (dist, sizes) = Graph.bfsLevels(und, source = 1L, rounds = 3)
      (dist.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq,
        sizes)
    }
    assert(snap() === snap())
  }

  test("HITS on a complete biclique: uniform 1/|side| scores on both sides") {
    // K_{2,3}: every hub sees every authority, so both iterates stay
    // uniform and the L1-normalized scores are exactly 1/2 and 1/3 (r6)
    val k23 = bip((for (c <- 1L to 2L; p <- 10L to 12L) yield (c, p)): _*)
    val rows = Graph.hits(k23, Graph.HitsRounds).collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      val want = if (r.getString(0) == "auth") 1.0 / 3 else 1.0 / 2
      val r6 = math.floor(want * 1e6 + 0.500001) / 1e6
      assert(r.getDouble(2) === r6, s"$r")
    }
  }

  test("HITS matches a driver-computed exact integer iteration; mass sums to 1") {
    // irregular bipartite graph, hand-run with BigInt iterates — the same
    // deferred-normalization algebra the operator promises
    val pairs = Seq((1L, 10L), (1L, 11L), (2L, 10L), (3L, 10L), (3L, 12L),
      (4L, 12L), (4L, 11L), (4L, 13L))
    var hub = pairs.map(_._1).distinct.map(_ -> BigInt(1)).toMap
    var auth: Map[Long, BigInt] = Map.empty
    for (_ <- 1 to Graph.HitsRounds) {
      auth = pairs.groupBy(_._2).map { case (p, es) =>
        p -> es.map(e => hub(e._1)).sum }
      hub = pairs.groupBy(_._1).map { case (c, es) =>
        c -> es.map(e => auth(e._2)).sum }
    }
    def norm(m: Map[Long, BigInt]): Map[Long, Double] = {
      val t = m.values.sum.toDouble
      m.map { case (k, v) =>
        k -> math.floor(v.toDouble / t * 1e6 + 0.500001) / 1e6 }
    }
    val wantAuth = norm(auth); val wantHub = norm(hub)
    val got = Graph.hits(bip(pairs: _*), Graph.HitsRounds).collect()
    got.foreach { r =>
      val want = if (r.getString(0) == "auth") wantAuth else wantHub
      assert(r.getDouble(2) === want(r.getLong(1)), s"$r")
    }
    // L1 mass on each side is 1 up to the r6 round
    Seq("auth", "hub").foreach { side =>
      val s = got.filter(_.getString(0) == side).map(_.getDouble(2)).sum
      assert(math.abs(s - 1.0) < 1e-4, s"$side mass $s")
    }
  }

  private def und(pairs: (Long, Long)*) = pairs.toDF("u", "v")

  test("assortativity: a star is exactly −1; a regular cycle abstains NULL") {
    // K_{1,6}: every edge joins degree 6 to degree 1 — perfect
    // disassortativity, and the all-integer compose lands on −1 exactly
    val r = Graph.assortativity(und((1L to 6L).map(i => (0L, i)): _*)).head()
    assert(r.getLong(0) === 6L)
    assert(r.getDouble(4) === -1.0, s"star must score exactly −1: $r")
    // 4-cycle: every degree is 2 → zero degree variance → NULL abstain
    val c = Graph.assortativity(
      und((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L))).head()
    assert(c.isNullAt(4), s"regular graph must abstain: $c")
  }

  test("assortativity on the real slice matches a driver-computed Pearson") {
    val e = Graph.partPairEdges(
      graft.io.Sources.table(spark, graft.TestData.Sf0001, "lineitem")
        .where(col("l_orderkey") % 10 === 0))
    val pairs = e.collect().map(r => (r.getLong(0), r.getLong(1)))
    val deg = (pairs.map(_._1) ++ pairs.map(_._2))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val (s1, s2, s3) = pairs.foldLeft((BigInt(0), BigInt(0), BigInt(0))) {
      case ((a, b, c), (u, v)) =>
        val (j, k) = (BigInt(deg(u)), BigInt(deg(v)))
        (a + j * k, b + j + k, c + j * j + k * k)
    }
    val m = BigInt(pairs.length)
    val want = math.floor((4 * m * s1 - s2 * s2).toDouble /
      (2 * m * s3 - s2 * s2).toDouble * 1e6 + 0.500001) / 1e6
    val r = Graph.assortativity(und(pairs: _*)).head()
    assert(r.getDouble(4) === want, s"got ${r.getDouble(4)}, want $want")
    assert(math.abs(r.getDouble(4)) <= 1.0)
  }

  test("reciprocity: planted mutual pair scores exactly 2/3") {
    // cust 1 buys A then B, cust 2 buys B then A, cust 3 buys C then D:
    // E = {A→B, B→A, C→D}, two of three edges answered
    val orders = Seq(
      (1L, 10L, "1995-01-01"), (1L, 11L, "1995-02-01"),
      (2L, 20L, "1995-01-01"), (2L, 21L, "1995-02-01"),
      (3L, 30L, "1995-01-01"), (3L, 31L, "1995-02-01"))
      .toDF("o_custkey", "o_orderkey", "o_orderdate")
    val li = Seq((10L, 100L), (11L, 200L), (20L, 200L), (21L, 100L),
      (30L, 300L), (31L, 400L)).toDF("l_orderkey", "l_partkey")
    val r = Graph.reciprocity(
      Graph.temporalCopurchaseEdges(orders, li)).head()
    assert(r.getLong(0) === 3L && r.getLong(1) === 2L)
    assert(r.getDouble(2) === math.floor(2.0 / 3.0 * 1e6 + 0.500001) / 1e6)
  }

  test("reciprocity: repurchases are self-loops and never count; empty abstains") {
    // one customer re-buys the same part — no edge at all
    val orders = Seq((1L, 10L, "1995-01-01"), (1L, 11L, "1995-02-01"))
      .toDF("o_custkey", "o_orderkey", "o_orderdate")
    val li = Seq((10L, 100L), (11L, 100L)).toDF("l_orderkey", "l_partkey")
    val r = Graph.reciprocity(
      Graph.temporalCopurchaseEdges(orders, li)).head()
    assert(r.getLong(0) === 0L && r.isNullAt(2), s"$r")
  }

  test("random walks: every step follows an edge and replays the mix hash exactly") {
    // triangle 0–1–2 with seed 0 (0 ≡ 0 mod 97): replay the argmin chain
    // driver-side and demand the identical path
    val tri = und((0L, 1L), (0L, 2L), (1L, 2L))
    val adj = Map(0L -> Seq(1L, 2L), 1L -> Seq(0L, 2L), 2L -> Seq(0L, 1L))
    var cur = 0L
    val want = scala.collection.mutable.ArrayBuffer(0L)
    for (k <- 1 to Graph.WalkSteps) {
      cur = adj(cur).minBy(n =>
        ((n * 2654435761L + cur * 97L + k * 40503L) % 1000003L, n))
      want += cur
    }
    val got = Graph.randomWalks(tri, Graph.WalkSteps).collect()
    assert(got.length === Graph.WalkSteps + 1, "one seed, steps+1 rows")
    got.foreach { r => assert(r.getLong(0) === 0L) }
    assert(got.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq === want.toSeq)
  }

  test("random walks on the real slice: seeds ≡ 0 mod 97, steps ride edges") {
    val e = Graph.partPairEdges(
      graft.io.Sources.table(spark, graft.TestData.Sf0001, "lineitem")
        .where(col("l_orderkey") % 10 === 0))
    val edgeSet = e.collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0))))
      .toSet
    val rows = Graph.randomWalks(e, Graph.WalkSteps).collect()
    val bySeed = rows.groupBy(_.getLong(0))
    assert(bySeed.nonEmpty, "the sf0.001 slice must contain seeds")
    bySeed.foreach { case (seed, walk) =>
      assert(seed % 97 === 0L)
      val path = walk.sortBy(_.getLong(1)).map(_.getLong(2))
      assert(path.length === Graph.WalkSteps + 1)
      assert(path.head === seed, "step 0 is the seed")
      path.sliding(2).foreach { case Array(a, b) =>
        assert(edgeSet.contains((a, b)), s"walk $seed uses non-edge $a→$b")
      }
    }
  }

  test("modularity: two cliques score exactly 1/2, one blob exactly 0") {
    // two disjoint triangles with the perfect partition: the textbook
    // Q = 1/2; the same graph as ONE community: Q = 0 exactly
    val two = und((0L, 1L), (1L, 2L), (0L, 2L), (10L, 11L), (11L, 12L), (10L, 12L))
    val lab2 = Seq((0L, 0L), (1L, 0L), (2L, 0L), (10L, 1L), (11L, 1L), (12L, 1L))
      .toDF("node", "label")
    val r2 = Graph.modularity(two, lab2).head()
    assert(r2.getLong(0) === 6L && r2.getLong(1) === 6L && r2.getLong(2) === 2L)
    assert(r2.getLong(3) === 12L, "Σd_c must be 2m")
    assert(r2.getDouble(4) === 0.5, s"two cliques: $r2")
    val lab1 = lab2.select(col("node"), lit(0L).as("label"))
    assert(Graph.modularity(two, lab1).head().getDouble(4) === 0.0,
      "the trivial one-community partition scores exactly 0")
  }

  test("modularity on the real LPA partition: bounds and conservation") {
    val e = Graph.partPairEdges(
      graft.io.Sources.table(spark, graft.TestData.Sf0001, "lineitem")
        .where(col("l_orderkey") % 10 === 0)).localCheckpoint()
    val r = Graph.modularity(e, Graph.labelPropagation(e, Graph.LpaRounds)).head()
    assert(r.getLong(1) <= r.getLong(0), "intra edges ≤ edges")
    assert(r.getLong(3) === 2 * r.getLong(0), "Σd_c = 2m")
    assert(r.getDouble(4) >= -0.5 && r.getDouble(4) <= 1.0, s"$r")
  }

  test("new graph plans: key equi-joins only, never a cartesian") {
    for (q <- Seq("q_assortativity", "q_reciprocity", "q_random_walk")) {
      spark.catalog.clearCache()
      val p = graft.SparkEntry.queries(q)(spark, graft.TestData.Sf0001)
        .queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      // reciprocity's scalar attach is the sanctioned broadcast 1-row
      // cross join; the edge-sized work must never nested-loop
      if (q != "q_reciprocity")
        assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
    }
  }

  // ---- q_degree_powerlaw ----------------------------------------------------

  test("degree power-law: interior-path and star closed forms") {
    // a path of 10 nodes: 8 interior nodes of degree 2, 2 ends of degree 1
    // ⇒ tail = 8 nodes all at d = 2, α̂ = 1 + 8/(8·⌊ln(4/3)·1e6⌋/1e6)
    val undP = (0L to 8L).map(i => (i, i + 1)).toDF("u", "v")
    val gp = graft.SparkEntry.queries("q_degree_powerlaw")
    // drive the same algebra through a lineitem fixture is unnecessary —
    // replicate the aggregate directly off the literal edge frame
    val deg = undP.select(col("u").as("node"))
      .unionAll(undP.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(deg.values.count(_ == 2L) === 8 && deg.values.count(_ == 1L) === 2)
    val micro = math.floor(math.log(2.0 / 1.5) * 1e6).toLong
    val alphaWant = 1.0 + 8.0 / (8L * micro).toDouble * 1e6
    // the closed form the query must reproduce on an equivalent fixture:
    // build a lineitem table whose co-purchase projection IS that path
    // (order k ties part k and part k+1; every 10th orderkey to pass the
    // slice filter)
    import spark.implicits._
    val li = (0L to 8L).flatMap(k => Seq((k * 10, k), (k * 10, k + 1)))
      .toDF("l_orderkey", "l_partkey")
    val dir = java.nio.file.Files.createTempDirectory("graft_plaw").toString
    li.write.parquet(s"$dir/lineitem.parquet")
    val r = gp(spark, dir).head()
    assert(r.getLong(0) === 10L && r.getLong(1) === 18L)
    assert(r.getLong(2) === 2L && r.getLong(3) === 8L)
    def r6d(x: Double) = math.floor(x * 1e6 + 0.500001) / 1e6
    assert(r.getDouble(5) === r6d(alphaWant), s"path α̂: $r")
  }

  test("degree power-law on real data: α̂ > 1, census consistent") {
    val r = graft.SparkEntry.queries("q_degree_powerlaw")(
      spark, graft.TestData.Sf0001).head()
    assert(r.getLong(3) <= r.getLong(0), "tail ⊆ nodes")
    assert(r.getLong(1) % 2 === 0L, "Σdeg = 2·|edges| is even")
    assert(r.getDouble(5) > 1.0, s"α̂ > 1 by construction: $r")
  }

  // ---- closeness / harmonic centrality --------------------------------------

  test("closeness: exact path-graph values from the mod-97 seed") {
    // path 0—1—2—3: only node 0 is ≡ 0 (mod 97), so one seed row with
    // n=3 reached, Σd = 6 ⇒ closeness 0.5, harmonic = 1e6 + 5e5 + ⌊1e6/3⌋
    val und = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("u", "v")
    val rows = Graph.closeness(und, rounds = 5).collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getLong(0) === 0L && r.getLong(1) === 3L && r.getLong(2) === 6L)
    assert(r.getDouble(3) === 0.5)
    assert(r.getLong(4) === 1000000L + 500000L + 333333L)
    assert(r.getLong(5) === 1L, "5 rounds must exhaust a diameter-3 path")
  }

  test("closeness seeds never reach a disconnected component") {
    val und = Seq((0L, 1L), (97L, 98L), (10L, 11L)).toDF("u", "v")
    val rows = Graph.closeness(und, rounds = 3).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows.keySet === Set(0L, 97L))
    assert(rows(0L).getLong(1) === 1L && rows(0L).getDouble(3) === 1.0)
    assert(rows(97L).getLong(1) === 1L && rows(97L).getLong(4) === 1000000L)
  }

  test("closeness on real data: agrees with a single-source bfsLevels replay") {
    val und = Graph.partPairEdges(
      graft.io.Sources.table(spark, graft.TestData.Sf0001, "lineitem")
        .where(col("l_orderkey") % 10 === 0)).cache()
    try {
      val rows = graft.SparkEntry.queries("q_closeness")(
        spark, graft.TestData.Sf0001).collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(r.getLong(0) % 97 === 0L, "seeds are content-addressed")
        assert(r.getLong(2) >= r.getLong(1),
          "every reached node is at distance ≥ 1")
        assert(r.getDouble(3) <= 1.0 + 1e-9)
        assert(r.getLong(4) <= r.getLong(1) * 1000000L,
          "harmonic ≤ n_reached in micro-units")
      }
      // replay the first seed with the single-source primitive
      val seed = rows.map(_.getLong(0)).min
      val (dist, _) = Graph.bfsLevels(und, seed, Graph.BfsRounds)
      val ds = dist.where(col("dist") > 0).collect().map(_.getLong(1))
      val want = rows.find(_.getLong(0) == seed).get
      assert(want.getLong(1) === ds.length.toLong)
      assert(want.getLong(2) === ds.sum)
      assert(want.getLong(4) === ds.map(1000000L / _).sum)
    } finally und.unpersist()
  }

  // ---- rich club ------------------------------------------------------------

  test("rich club: K5 hubs with pendants score φ = 1 above both live thresholds") {
    // order 10 holds parts 1–5 (a K5); orders 20…60 hang one pendant part
    // off each hub ⇒ hub degree 5, pendant degree 1. Above k = 2 and
    // k = 4 the club is exactly the K5 (φ = 1); above 8 it is empty
    val k5 = (1L to 5L).map(p => (10L, p))
    val pend = (1L to 5L).flatMap(i =>
      Seq((10L * (i + 1), i), (10L * (i + 1), 100L + i)))
    val dir = java.nio.file.Files.createTempDirectory("graft_rc").toString
    (k5 ++ pend).toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")
    val rows = graft.SparkEntry.queries("q_rich_club")(spark, dir).collect()
    assert(rows.length === 4)
    val byK = rows.map(r => r.getLong(0) -> r).toMap
    assert(byK(2L).getLong(1) === 10L, "5 hubs + 5 pendants")
    assert(byK(2L).getLong(2) === 5L && byK(2L).getLong(3) === 10L)
    assert(byK(2L).getDouble(4) === 1.0, s"perfect club: ${byK(2L)}")
    assert(byK(4L).getLong(2) === 5L && byK(4L).getDouble(4) === 1.0)
    assert(byK(8L).getLong(2) === 0L && byK(8L).getLong(3) === 0L &&
      byK(8L).isNullAt(4), "an empty club abstains NULL")
    assert(byK(16L).getLong(2) === 0L)
  }

  test("rich club on real data: clubs nest in k, density bounded by 1") {
    val rows = graft.SparkEntry.queries("q_rich_club")(
      spark, graft.TestData.Sf0001).collect().sortBy(_.getLong(0))
    assert(rows.length === 4)
    rows.sliding(2).foreach { w =>
      assert(w(1).getLong(2) <= w(0).getLong(2) &&
        w(1).getLong(3) <= w(0).getLong(3), "clubs must nest as k grows")
    }
    rows.foreach { r =>
      val n = r.getLong(2)
      assert(2L * r.getLong(3) <= n * (n - 1L), s"density ≤ 1: $r")
      if (n > 1)
        assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0, s"$r")
    }
  }
}
