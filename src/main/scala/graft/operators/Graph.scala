package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.{Blocks, Observe}
import graft.io.Sources
import graft.functions.ColumnOps.r6

/** Link-graph centrality: fixed-iteration PageRank (Page et al. 1999) —
  * the graph-quality signal web-corpus curation ranks URLs with (Common
  * Crawl publishes exactly this family of centrality scores next to its
  * dumps), applied here to the order–part co-purchase graph the warehouse
  * already holds. Sits next to `Dedup.connectedComponents` as the second
  * iterative graph operator: components answer "which docs are the same",
  * centrality answers "which nodes matter".
  *
  * Execution shape (the Pregel shape, and the reason this is not a
  * DuckDB-style recursive CTE translated): the edge table — the 100 TB
  * side — is hash-partitioned on `src` ONCE and localCheckpointed; every
  * iteration shuffles only the RANK table (node-sized, orders of magnitude
  * smaller than edges) to the edge partitioning, and the contribution
  * aggregate is map-side combined so the second exchange carries at most
  * |distinct dst per partition| rows. Edges never move after the first
  * materialization. Rounds build ONE lazy plan (per-round lazily-persisted
  * rank tables, residuals folded into each round's aggregate via carrier
  * rows) that a single terminal action materializes — no per-round driver
  * synchronization, no per-round block-manager checkpoint writes. The r8
  * driver bench showed the previous round-at-a-time checkpoint chain was
  * hostage to storage contention (27 s vs a 4.2 s clean run for the same
  * plan); the single-action shape removes the serial materialization
  * points that contention amplified.
  *
  * Cross-engine float parity: every iteration's sums run in different
  * orders on different engines, so results carry ~1e-15 relative drift;
  * scores are reported scaled by |V| (mean 1.0) and rounded at 1e-6 with
  * the boundary fudge — the q_histogram/q_psi convention.
  */
object Graph {

  /** Teleport and damping as independent literals — NOT derived as
    * `1 - damping` at runtime: `1.0 - 0.85` and a parsed `0.15` differ in
    * the last ulp, and the oracle SQL spells `0.15`. */
  val Damping = 0.85
  val Teleport = 0.15

  /** PageRank over a directed edge list (first two columns = src, dst).
    * Every node is assumed to have at least one out-edge AND one in-edge
    * (callers pass symmetrized graphs — see [[copurchaseEdges]]); with
    * that precondition there is no dangling-mass term and the node set is
    * closed under one iteration. Returns (node, pr, n_nodes, l1_residual)
    * with Σpr = 1; `n_nodes` is the constant |V| and `l1_residual` the
    * final round's mean-1.0-scaled L1 step Σ|pr_k − pr_{k−1}|·|V| —
    * carried so callers can scale scores / judge convergence without a
    * second pass over the graph.
    */
  def pagerank(edges: DataFrame, iters: Int): DataFrame =
    pagerankWithResiduals(edges, iters)._1

  /** [[pagerank]] plus the full per-round residual trace.
    *
    * Two structural choices keep the driver out of the loop (the r8 fix —
    * the previous shape ran one eager localCheckpoint action per round and
    * its wall-time was hostage to block-manager/storage contention):
    *
    *  1. NO per-round prev-join. The previous rank rides INTO the round's
    *     contribution aggregate as node-sized zero-mass "carrier" rows
    *     unioned with the edge-sized contributions: `max(p)` (exactly one
    *     non-null carrier per node) recovers pr_{k−1} from the SAME
    *     map-side-combined groupBy that sums the mass, so the Σ|Δpr|
    *     observe needs no second node-table join. Carrier mass 0.0 is
    *     bitwise-neutral in the sum (all ranks are positive), so the
    *     emitted scores are unchanged.
    *  2. NO per-round action. Each round's rank table is persisted LAZILY
    *     (MEMORY_AND_DISK — each is read twice by round k+1: contributions
    *     and carriers); the final round is the single eager localCheckpoint,
    *     whose one action materializes the whole pipeline and fires every
    *     round's observation at once. Five driver round-trips and five
    *     block-manager checkpoint writes become one.
    *
    * For damping < 1 power iteration contracts in L1 by ≥ the damping
    * factor per round, so the trace is non-increasing — GraphSpec asserts
    * it. The carrier union also makes the round total-mass-safe for nodes
    * with no in-edge (they fall to teleport mass instead of dropping out),
    * though callers still pass symmetrized graphs so Σpr = 1 holds.
    */
  def pagerankWithResiduals(edges: DataFrame, iters: Int): (DataFrame, Seq[Double]) = {
    val e = edges.select(col(edges.columns(0)).as("src"), col(edges.columns(1)).as("dst"))
    // out-degree rides WITH the edges so the per-iteration join is the
    // only edge-sized operator; partition by src once, checkpoint, reuse
    val adj = e.join(e.groupBy("src").agg(count(lit(1)).as("odeg")), "src")
      .repartition(col("src"))
      .localCheckpoint()
    val nObs = Observation()
    val nodes = adj.select(col("src").as("node")).distinct()
      .observe(nObs, count(lit(1)).as("n"))
      .localCheckpoint()
    val n = Observe.metric(nObs, "n").getOrElse(nodes.count())
    require(n > 0, "pagerank on an empty graph")
    // Per-round join strategy, picked DELIBERATELY from the measured node
    // count (guide §3.1) instead of Catalyst's size estimate (which read
    // the persisted agg as large and planned a sort-merge join — two sorts
    // of the edge table per round, measured 44 s of task time vs 23 s
    // hinted at sf0.1). The rank table is node-sized: when it provably
    // fits a broadcast (≤4M nodes ≈ ~130 MB relation) broadcast it and
    // the edge side never moves; beyond that, shuffled-hash — node-sized
    // exchange, no sort, no 8 GB/512M-row broadcast cap, the edge side
    // stays on its checkpoint partitioning either way.
    val rankHint = Observe.joinHint(n)
    var ranks = nodes.select(col("node"), lit(1.0 / n).as("pr"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val rounds = scala.collection.mutable.ArrayBuffer(ranks)
    val observations = Vector.newBuilder[Observation]
    for (k <- 1 to iters) {
      val rObs = Observation()
      val contribs = adj
        .join(ranks.withColumnRenamed("node", "src").hint(rankHint), "src")
        .select(col("dst").as("node"), (col("pr") / col("odeg")).as("m"),
          lit(null).cast("double").as("p"))
      val carrier = ranks
        .select(col("node"), lit(0.0).as("m"), col("pr").as("p"))
      val stepped = contribs.unionAll(carrier)
        .groupBy("node")
        .agg(sum(col("m")).as("mass"), max(col("p")).as("__pr_prev"))
        .select(col("node"),
          (lit(Teleport / n) + lit(Damping) * col("mass")).as("pr"),
          col("__pr_prev"))
        .observe(rObs, sum(abs(col("pr") - col("__pr_prev"))).as("l1"))
        .select(col("node"), col("pr"))
      // final round: the ONE eager action — materializes the whole chain,
      // fires all observations, and leaves a lineage-free result table
      val next =
        if (k == iters) stepped.localCheckpoint()
        else stepped.persist(StorageLevel.MEMORY_AND_DISK)
      observations += rObs
      rounds += next
      ranks = next
    }
    // a residual is a reported figure, so a late observation is an error,
    // never a NaN in l1_residual
    val res = observations.result().zipWithIndex.map { case (o, i) =>
      Observe.metricDouble(o, "l1").getOrElse(throw new IllegalStateException(
        s"pagerank round ${i + 1}: the l1 observation did not arrive in time")) * n
    }
    // the final table is self-contained checkpoint blocks: every earlier
    // round's cache and the edge/node checkpoints are provably dead
    rounds.init.foreach(_.unpersist(blocking = false))
    Blocks.releaseCheckpoint(nodes)
    Blocks.releaseCheckpoint(adj)
    (ranks.withColumn("n_nodes", lit(n))
      .withColumn("l1_residual", lit(res.last)), res)
  }

  /** The symmetrized order–part bipartite graph from lineitem: an order
    * links every part it contains. Part node ids are offset into their own
    * range so the two id spaces cannot collide; symmetrization gives every
    * node an out-edge (no dangling nodes) and an in-edge (closed node
    * set). Distinct edges — repeat lines of the same (order, part) are
    * one link, not a heavier one.
    */
  val PartOffset = 1000000000L

  def copurchaseEdges(lineitem: DataFrame): DataFrame = {
    val base = lineitem
      .select(col("l_orderkey").as("src"),
        (col("l_partkey") + lit(PartOffset)).as("dst"))
      .distinct()
    base.unionAll(base.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** Iteration count for q_pagerank: enough that scores are structure-
    * driven (not the uniform start), small enough that the unrolled
    * oracle CTE chain stays readable. */
  val PrIters = 5

  /** Part–part co-purchase projection: two parts linked iff they share an
    * order — the UNIPARTITE companion to [[copurchaseEdges]] (which is
    * bipartite and so triangle-free by construction). Per-order fan-out is
    * bounded by order size (≤ 7 lines in TPC-H-shaped data), so the
    * self-join is linear in lineitem with a small constant — never an
    * unbounded hot key.
    */
  def partPairEdges(lineitem: DataFrame): DataFrame = {
    val a = lineitem.select(col("l_orderkey").as("ok"), col("l_partkey").as("u"))
    val b = lineitem.select(col("l_orderkey").as("ok"), col("l_partkey").as("v"))
    a.join(b, Seq("ok")).where(col("u") < col("v"))
      .select(col("u"), col("v")).distinct()
  }

  /** The DuckDB mirror of [[partPairEdges]] over every 10th order: the
    * sampled lineitem (li) and its distinct part pairs u < v (und), both
    * CTEs MATERIALIZED or neither. */
  private def partPairsCte(materialized: Boolean): String = {
    val as = if (materialized) "AS MATERIALIZED" else "AS"
    s"""li $as (
       |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 10 = 0
       |), und $as (
       |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |  WHERE a.l_partkey < b.l_partkey
       |)""".stripMargin
  }

  /** [[partPairsCte]] (materialized) with both directions of each pair
    * (sym: src, dst). */
  private val PartPairsSymCte =
    s"""${partPairsCte(true)}, sym AS MATERIALIZED (
       |  SELECT u AS src, v AS dst FROM und
       |  UNION ALL SELECT v AS src, u AS dst FROM und
       |)""".stripMargin

  /** Exact triangle count + global transitivity via the degree-ordered
    * "forward" algorithm (Schank–Wagner 2005; the shape every distributed
    * triangle counter uses): direct each edge toward its higher-(degree,id)
    * endpoint, enumerate ordered out-wedges, close them against the
    * directed edge set. Degree ordering caps out-degree at O(√m), so the
    * wedge join is O(m^1.5) worst-case instead of Σdeg² — the difference
    * between a skewed hub exploding and not. All joins are key equi-joins;
    * wedge and closure shuffles carry edge-order cardinality.
    */
  def triangleStats(und: DataFrame): DataFrame = {
    // r17: materialize the edge list once (the linkPrediction rationale —
    // five subtrees of this plan re-derive it otherwise)
    val edges = und.localCheckpoint()
    val (deg, dir) = directedByDegree(edges)
    val w1 = dir.select(col("s"), col("t").as("x"), col("td").as("xd"))
    val w2 = dir.select(col("s"), col("t").as("y"), col("td").as("yd"))
    val wedges = w1.join(w2, Seq("s"))
      .where(struct(col("xd"), col("x")) < struct(col("yd"), col("y")))
      .select(col("x"), col("y"))
    val tri = wedges.join(dir.select(col("s").as("x"), col("t").as("y")),
      Seq("x", "y"), "left_semi")
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"),
      sum(col("d") * (col("d") - 1) / 2).cast("long").as("n_wedges"))
    edges.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(nNodes))
      .crossJoin(broadcast(tri.agg(count(lit(1)).as("n_triangles"))))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
        (floor(lit(3.0) * col("n_triangles") / col("n_wedges") * lit(10000.0)
          + lit(0.500001)) / lit(10000.0)).as("transitivity"))
  }

  /** Degrees + the degree-ordered directed edge list (each edge pointed at
    * its higher-(degree,id) endpoint) — the shared front half of the
    * forward algorithm, used by [[triangleStats]] and [[localClustering]].
    */
  private def directedByDegree(und: DataFrame): (DataFrame, DataFrame) = {
    val deg = und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val e = und
      .join(deg.withColumnRenamed("node", "u").withColumnRenamed("d", "du"), Seq("u"))
      .join(deg.withColumnRenamed("node", "v").withColumnRenamed("d", "dv"), Seq("v"))
    val uLower = struct(col("du"), col("u")) < struct(col("dv"), col("v"))
    val dir = e.select(
      when(uLower, col("u")).otherwise(col("v")).as("s"),
      when(uLower, col("v")).otherwise(col("u")).as("t"),
      when(uLower, col("dv")).otherwise(col("du")).as("td"))
    (deg, dir)
  }

  /** Per-node triangle counts + LOCAL clustering coefficient (Watts–
    * Strogatz 1998) — the node-level refinement of [[triangleStats]]'
    * global transitivity: cc(v) = 2·t_v / (d_v·(d_v−1)). Same
    * degree-ordered wedge enumeration, but the closure keeps the triple
    * (via an inner join on the unique directed edge set instead of the
    * semi-join) and each triangle credits all three corners — one
    * explode(array(s,x,y)) + a map-side-combined count. Returns the
    * top-`k` nodes by (cc, t, node) through a distributed TakeOrdered
    * heap; exact integer t_v and d_v, cc is the one rounded float.
    */
  def localClustering(und: DataFrame, k: Int): DataFrame = {
    // r17: same single-materialization rationale as triangleStats
    val (deg, dir) = directedByDegree(und.localCheckpoint())
    val w1 = dir.select(col("s"), col("t").as("x"), col("td").as("xd"))
    val w2 = dir.select(col("s"), col("t").as("y"), col("td").as("yd"))
    val wedges = w1.join(w2, Seq("s"))
      .where(struct(col("xd"), col("x")) < struct(col("yd"), col("y")))
      .select(col("s"), col("x"), col("y"))
    // dir's (s,t) pairs are unique, so the inner join closes each wedge at
    // most once — the triple survives where the semi-join form drops it
    val tri = wedges.join(dir.select(col("s").as("x"), col("t").as("y")),
      Seq("x", "y"))
    val perNode = tri.select(explode(array(col("s"), col("x"), col("y"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("t"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), coalesce(col("t"), lit(0L)).as("n_triangles"),
        col("d").as("degree"),
        when(col("d") < 2, lit(0.0)).otherwise(
          floor(lit(2.0) * coalesce(col("t"), lit(0L)) / (col("d") * (col("d") - 1))
            * lit(1000000.0) + lit(0.500001)) / lit(1000000.0)).as("local_cc"))
      .orderBy(col("local_cc").desc, col("n_triangles").desc, col("node"))
      .limit(k)
  }

  /** Customer–part bipartite edge set (customer bought part), the input
    * to the butterfly census: one orderkey equi-join, distinct'd.
    */
  private def custPartEdges(orders: DataFrame, lineitem: DataFrame): DataFrame =
    orders.select(col("o_orderkey").as("ok"), col("o_custkey").as("c"))
      .join(lineitem.select(col("l_orderkey").as("ok"), col("l_partkey").as("p")),
        Seq("ok"))
      .select(col("c"), col("p")).distinct()

  /** Exact butterfly (2×2 biclique) census of a bipartite graph — the
    * bipartite analogue of [[triangleStats]] (a bipartite graph is
    * triangle-free by construction, so cohesion there is butterflies:
    * Sanei-Mehri–Sariyüce–Tirthapura 2018). Butterflies = Σ C(n,2) over
    * co-neighbour pair counts; caterpillars (3-paths) = Σ_edges
    * (d_c−1)(d_p−1); the bipartite clustering coefficient 4·⧖/caterpillars
    * is 1.0 exactly on a complete biclique.
    *
    * Scale shape: wedge generation anchors on WHICHEVER side has the
    * smaller measured wedge volume Σ C(d,2) — two bounded degree
    * aggregates up front, then one equi-join on the chosen anchor key
    * (never a cross join); the pair aggregate is map-side combined. The
    * census is side-symmetric, so anchor choice changes the plan, not one
    * bit of the result (GraphSpec proves it on a transposed graph). A
    * pathologically hot anchor vertex is the LSH-bucket-flood failure
    * mode — cap or salt it with the Dedup bucket-cap pattern.
    */
  def butterflyStats(edges: DataFrame): DataFrame = {
    val e = edges.select(col(edges.columns(0)).as("c"), col(edges.columns(1)).as("p"))
      .localCheckpoint()
    def wedgeVolume(side: String): Long =
      e.groupBy(side).agg(count(lit(1)).as("d"))
        .agg(coalesce(sum(col("d") * (col("d") - 1) / 2), lit(0.0)).cast("long"))
        .head().getLong(0)
    val (anchor, other) =
      if (wedgeVolume("p") <= wedgeVolume("c")) ("p", "c") else ("c", "p")
    val a = e.select(col(anchor).as("k"), col(other).as("x1"))
    val b = e.select(col(anchor).as("k"), col(other).as("x2"))
    val pairs = a.join(b, Seq("k")).where(col("x1") < col("x2"))
      .groupBy("x1", "x2").agg(count(lit(1)).as("n"))
    val bf = pairs.agg(coalesce(sum(col("n") * (col("n") - 1) / 2), lit(0.0))
      .cast("long").as("n_butterflies"))
    val degC = e.groupBy("c").agg(count(lit(1)).as("dc"))
    val degP = e.groupBy("p").agg(count(lit(1)).as("dp"))
    val base = e.join(degC, Seq("c")).join(degP, Seq("p"))
      .agg(count(lit(1)).as("n_edges"),
        sum((col("dc") - 1) * (col("dp") - 1)).cast("long").as("n_caterpillars"))
    val sides = e.agg(countDistinct(col("c")).as("n_cust"),
      countDistinct(col("p")).as("n_parts"))
    sides.crossJoin(broadcast(base)).crossJoin(broadcast(bf))
      .select(col("n_cust"), col("n_parts"), col("n_edges"),
        col("n_butterflies"), col("n_caterpillars"),
        when(col("n_caterpillars") === 0, lit(0.0))
          .otherwise(floor(lit(4.0) * col("n_butterflies") / col("n_caterpillars")
            * lit(1000000.0) + lit(0.500001)) / lit(1000000.0)).as("bcc"))
  }

  /** Peel rounds for q_kcore: k = 6 converges in ≤5 rounds on the sliced
    * co-purchase graph at every SF (measured 3/5/5 at sf0.001/0.01/0.1),
    * so a fixed 6-round unroll reaches the true fixpoint and the
    * `converged` flag (|a₆| = |a₅|) PROVES it in-band — the q_kmeans
    * fixed-iteration discipline applied to a fixpoint operator.
    */
  val CoreK = 6
  val CoreRounds = 6

  /** q_ktruss parameters: k = 4 (every surviving edge sits in ≥ 2
    * triangles of the surviving subgraph) and a fixed 3-round unroll —
    * measured to reach the fixpoint on the sliced co-purchase graph at
    * every SF, with the `converged` flag proving it in-band (the
    * CoreRounds discipline).
    */
  val TrussK = 4
  val TrussRounds = 3

  /** k-truss of an undirected (u < v) edge list via fixed-round support
    * peeling (Cohen 2008) — the EDGE-level cohesion refinement of
    * [[kCore]]: a k-core keeps nodes with k neighbours, a k-truss keeps
    * only edges reinforced by ≥ k−2 triangles, the standard community-
    * backbone extractor. Per round: triangles of the SURVIVING subgraph
    * via the [[directedByDegree]] degree-ordered wedge enumeration
    * (wedge volume bounded by arboricity — the q_triangles scale
    * argument, paid once per round), each triangle credits its three
    * edges, edges below support k−2 peel. Lineage truncates per round
    * (localCheckpoint + block release); survivor cardinality rides the
    * checkpoint job as an observe() metric — one action per round.
    * Returns one row: (k, n_truss_edges, n_truss_nodes, converged).
    */
  def kTruss(und: DataFrame, k: Int, rounds: Int): DataFrame = {
    var edges = und.localCheckpoint()
    var counts = List(edges.count())
    var round = 0
    // fixpoint early-exit (r17, the kCore argument): peeling is monotone
    // (edge sets only shrink), so equal consecutive counts mean equal
    // SETS — every further round re-enumerates the identical wedge census
    // to delete nothing. Skipping those rounds changes no output.
    while (round < rounds &&
        (counts.tail.isEmpty || counts.head != counts.tail.head)) {
      round += 1
      val (_, dir) = directedByDegree(edges)
      val w1 = dir.select(col("s"), col("t").as("x"), col("td").as("xd"))
      val w2 = dir.select(col("s"), col("t").as("y"), col("td").as("yd"))
      val wedges = w1.join(w2, Seq("s"))
        .where(struct(col("xd"), col("x")) < struct(col("yd"), col("y")))
      val tri = wedges.join(edges,
        least(col("x"), col("y")) === col("u") &&
          greatest(col("x"), col("y")) === col("v"), "left_semi")
      val support = tri.select(explode(array(
          struct(least(col("s"), col("x")).as("u"),
            greatest(col("s"), col("x")).as("v")),
          struct(least(col("s"), col("y")).as("u"),
            greatest(col("s"), col("y")).as("v")),
          struct(least(col("x"), col("y")).as("u"),
            greatest(col("x"), col("y")).as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("sup"))
      val obs = Observation()
      val next = edges.join(support, Seq("u", "v"))
        .where(col("sup") >= k - 2).select(col("u"), col("v"))
        .observe(obs, count(lit(1)).as("n"))
        .localCheckpoint()
      Blocks.releaseCheckpoint(edges)
      edges = next
      counts ::= Observe.metric(obs, "n").getOrElse(edges.count())
    }
    val converged = if (counts.head == counts.tail.head) 1L else 0L
    val nodes = edges.select(col("u").as("node"))
      .unionAll(edges.select(col("v").as("node")))
      .distinct().agg(count(lit(1)).as("n_truss_nodes"))
    edges.agg(count(lit(1)).as("n_truss_edges"))
      .crossJoin(broadcast(nodes))
      .select(lit(k.toLong).as("k"), col("n_truss_edges"),
        col("n_truss_nodes"), lit(converged).as("converged"))
  }

  /** k-core of an undirected edge list via fixed-round peeling: drop
    * nodes with degree < k within the surviving subgraph, `rounds` times.
    * Per round: two left-semi joins restrict edges to survivors (edges
    * shuffle once per round — at 100 TB you re-partition the edge table
    * on u ONCE and only the shrinking node set moves), a map-side-combined
    * degree aggregate, a filter. Lineage truncates per round
    * (localCheckpoint, previous round's blocks released) — the
    * connectedComponents discipline. Returns one row:
    * (k, n_core_nodes, n_core_edges, converged).
    */
  def kCore(und: DataFrame, k: Int, rounds: Int): DataFrame = {
    // r17: the edge list is referenced by EVERY round's two semi-joins
    // plus the final core-edge count, and each of those is a separate
    // action — without a checkpoint the upstream subtree (at the call
    // sites: a lineitem scan + self-join + distinct) re-executes 7 times
    // (kTruss has always checkpointed; kCore had not). One eager
    // localCheckpoint makes every round read node/edge-sized RAM blocks.
    val edges = und.localCheckpoint()
    // survivor cardinality rides each round's (eager) checkpoint job as an
    // observe() metric — ONE action per round, the connectedComponents
    // convergence-metric discipline
    var active = edges.select(col("u").as("node"))
      .unionAll(edges.select(col("v").as("node")))
      .distinct().localCheckpoint()
    var counts = List(active.count())
    var round = 0
    while (round < rounds && (counts.tail.isEmpty || counts.head != counts.tail.head)) {
      // fixpoint early-exit (r17): peeling is monotone (activeₖ ⊆ activeₖ₋₁),
      // so equal consecutive cardinalities mean equal SETS — every further
      // round recomputes the identical frame. Skipping them changes no
      // output: counts stay equal, so `converged` and `n_core_nodes` are
      // bitwise what the full unroll produced.
      // the observed survivor count picks the semi-join strategy
      // deliberately (guide §3.1): broadcast the node-sized active set
      // while it provably fits so the edge table never moves per round,
      // shuffled-hash beyond the bound
      val aHint = Observe.joinHint(counts.head)
      val filtered = edges
        .join(active.withColumnRenamed("node", "u").hint(aHint), Seq("u"), "left_semi")
        .join(active.withColumnRenamed("node", "v").hint(aHint), Seq("v"), "left_semi")
      val obs = Observation()
      val next = filtered.select(col("u").as("node"))
        .unionAll(filtered.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("d"))
        .where(col("d") >= k).select(col("node"))
        .observe(obs, count(lit(1)).as("n"))
        .localCheckpoint()
      Blocks.releaseCheckpoint(active)
      active = next
      counts ::= Observe.metric(obs, "n").getOrElse(active.count())
      round += 1
    }
    val converged = if (counts.head == counts.tail.head) 1L else 0L
    val finalHint = Observe.joinHint(counts.head)
    val coreEdges = edges
      .join(active.withColumnRenamed("node", "u").hint(finalHint), Seq("u"), "left_semi")
      .join(active.withColumnRenamed("node", "v").hint(finalHint), Seq("v"), "left_semi")
      .agg(count(lit(1)).as("n_core_edges"))
    coreEdges.select(lit(k.toLong).as("k"),
      lit(counts.head).as("n_core_nodes"),
      col("n_core_edges"), lit(converged).as("converged"))
  }

  /** Iteration count for q_communities — fixed-round SYNCHRONOUS label
    * propagation, the GraphFrames/Pregel formulation: deterministic by
    * construction (no convergence claim — sync LPA can oscillate on
    * bipartite structure, which is why the op is defined as "labels after
    * R rounds", exactly like the published fixed-maxIter implementations).
    */
  val LpaRounds = 3

  /** Synchronous label propagation (Raghavan et al. 2007, as shipped in
    * GraphFrames): init label(v) = v; each round every node adopts the
    * most frequent label among its NEIGHBOURS, ties broken by the
    * smallest label — a total, deterministic rule, so the result is a
    * pure function of the graph. Per round: one edge⋈label join (edges
    * symmetrized once up front), a map-side-combined (node, label) count,
    * and a per-node max(struct(c, −label)) argmax aggregate over that
    * count table (partial-aggregated, sort-free — r17) — label-table
    * shuffles only, the edge table is partitioned once; localCheckpoint
    * per round with released blocks (the kCore discipline). Returns
    * (node, label) after `rounds` rounds.
    */
  def labelPropagation(und: DataFrame, rounds: Int): DataFrame =
    labelPropagationWithChanges(und, rounds)._1

  /** [[labelPropagation]] plus the per-round changed-label counts — the
    * convergence signal a fixed-round contract otherwise hides ("did 3
    * rounds settle, or was it still churning?"). Each count rides an
    * `observe()` on that round's existing localCheckpoint action via a
    * node-sized join against the previous labels — zero extra jobs (the
    * kCore discipline). No monotonicity claim: synchronous LPA may
    * oscillate on bipartite structure (see [[LpaRounds]]).
    */
  def labelPropagationWithChanges(und: DataFrame, rounds: Int): (DataFrame, Seq[Long]) = {
    val sym = und.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(und.select(col("v").as("src"), col("u").as("dst")))
      .repartition(col("dst"))
      .localCheckpoint()
    // the node count rides the init checkpoint action (zero extra jobs)
    // and picks every round's join strategy deliberately (guide §3.1, the
    // pagerank/closeness discipline): the label table is node-sized —
    // broadcast while it provably fits so the edge table never moves,
    // shuffled-hash beyond the bound (node-sized exchange, no sort, no
    // broadcast cap); Catalyst's checkpoint-size estimates planned
    // sort-merge joins that re-sorted the edge table every round.
    val nObs = Observation()
    var labels = sym.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
      .observe(nObs, count(lit(1)).as("n"))
      .localCheckpoint()
    val labHint = Observe.joinHint(Observe.metric(nObs, "n").getOrElse(Long.MaxValue))
    val changes = Vector.newBuilder[Long]
    for (_ <- 1 to rounds) {
      val cObs = Observation()
      val prev = labels.select(col("node"), col("label").as("__prev"))
      val counted = sym
        .join(labels.withColumnRenamed("node", "dst").hint(labHint), Seq("dst"))
        .groupBy(col("src").as("node"), col("label"))
        .agg(count(lit(1)).as("c"))
      // argmax by (count desc, label asc) as ONE map-side-combined
      // aggregate (r17): the r16 row_number window re-shuffled the count
      // table by node AND sorted every partition; max(struct(c, −label))
      // picks the identical winner (lexicographic struct order: highest
      // count, then smallest label) with partial aggregation and no sort.
      val next = counted
        .groupBy("node")
        .agg(max(struct(col("c").as("c"),
          (lit(0L) - col("label")).as("nl"))).as("pick"))
        .select(col("node"), (lit(0L) - col("pick.nl")).as("label"))
        // same node set every round: inner = full; shuffled-hash skips the
        // two node-sized sorts SMJ would add (full-row broadcast would
        // re-collect the node table per round for no shuffle saving)
        .join(prev.hint("SHUFFLE_HASH"), "node")
        .observe(cObs, sum((col("label") =!= col("__prev")).cast("long")).as("changed"))
        .select(col("node"), col("label"))
        .localCheckpoint()
      changes += Observe.metric(cObs, "changed").getOrElse(-1L)
      Blocks.releaseCheckpoint(labels)
      labels = next
    }
    (labels, changes.result())
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Scale shape: see object scaladoc — edges partitioned once, per-
    // iteration shuffles are node-sized (rank attach) + map-side-combined
    // contributions; 5 fixed iterations ⇒ 5×2 bounded exchanges total.
    "q_pagerank" -> ((s, dir) => {
      val pr = pagerank(copurchaseEdges(Sources.table(s, dir, "lineitem")), PrIters)
      pr.select(col("node"),
          (floor(col("pr") * col("n_nodes") * lit(1000000.0) + lit(0.500001))
            / lit(1000000.0)).as("pr_scaled"),
          // final-round scaled L1 step — the convergence answer a fixed-
          // iteration contract otherwise hides; constant per run, r6-rounded
          (floor(col("l1_residual") * lit(1000000.0) + lit(0.500001))
            / lit(1000000.0)).as("l1_residual"))
        .orderBy("node")
    }),

    // exact triangle census of the part–part co-purchase graph — the
    // degree-ordered wedge-closure plan (see triangleStats scaladoc). Runs
    // on a 10%-of-orders slice (the q_edit_distance bounded-anchor
    // discipline): the FULL sf0.1 graph carries 41M directed wedges —
    // an exact census there is a batch job, not a per-round gate; the
    // slice keeps every SF's gate at ~1.5k–16k triangles with identical
    // plan shape
    "q_triangles" -> ((s, dir) =>
      triangleStats(partPairEdges(Sources.table(s, dir, "lineitem")
        .where(col("l_orderkey") % 10 === 0)))),

    // exact butterfly census of the customer–part bipartite graph on the
    // same 10%-of-orders slice as q_triangles (bounded-anchor discipline);
    // see butterflyStats scaladoc for the anchor-selection plan
    "q_butterflies" -> ((s, dir) =>
      butterflyStats(custPartEdges(
        Sources.table(s, dir, "orders").where(col("o_orderkey") % 10 === 0),
        Sources.table(s, dir, "lineitem").where(col("l_orderkey") % 10 === 0)))),

    // 6-core of the sliced part–part co-purchase projection via 6 fixed
    // peel rounds (provably at fixpoint — see CoreRounds scaladoc)
    "q_kcore" -> ((s, dir) =>
      kCore(partPairEdges(Sources.table(s, dir, "lineitem")
        .where(col("l_orderkey") % 10 === 0)), CoreK, CoreRounds)),

    // 4-truss of the same slice via fixed-round support peeling — see
    // kTruss scaladoc for the per-round wedge-volume argument
    "q_ktruss" -> ((s, dir) =>
      kTruss(partPairEdges(Sources.table(s, dir, "lineitem")
        .where(col("l_orderkey") % 10 === 0)), TrussK, TrussRounds)),

    // top-20 nodes by local clustering coefficient on the same slice
    "q_local_cc" -> ((s, dir) =>
      localClustering(partPairEdges(Sources.table(s, dir, "lineitem")
        .where(col("l_orderkey") % 10 === 0)), k = 20)),

    // 3-round synchronous LPA communities on the same slice; full
    // per-node label table is the oracle surface
    "q_communities" -> ((s, dir) =>
      labelPropagation(partPairEdges(Sources.table(s, dir, "lineitem")
        .where(col("l_orderkey") % 10 === 0)), LpaRounds).orderBy("node")),

    // top-20 predicted links (common-neighbors / Jaccard / Adamic–Adar)
    // over the same slice — see linkPrediction scaladoc for the
    // exact-integer Adamic–Adar summation
    "q_link_prediction" -> ((s, dir) =>
      linkPrediction(partPairEdges(Sources.table(s, dir, "lineitem")
        .where(col("l_orderkey") % 10 === 0)), k = 20)),

    // BFS distance histogram from the minimum node of the same slice —
    // see bfsLevels scaladoc for the frontier-expansion plan
    "q_sssp" -> ((s, dir) => {
      // r17: checkpoint the sliced projection ONCE — the source-picking
      // scalar job and bfsLevels' symmetrize pass each re-ran the full
      // lineitem self-join + distinct before (two computations of the
      // edge list per query; now one materialization feeds both)
      val und = partPairEdges(Sources.table(s, dir, "lineitem")
        .where(col("l_orderkey") % 10 === 0)).localCheckpoint()
      // one tiny bounded job picks the pinned source (u < v ⇒ min u is the
      // global min node) — the codebook-training precedent: a driver-side
      // scalar, never row data
      val source = und.agg(min(col("u"))).first().getLong(0)
      val (dist, sizes) = bfsLevels(und, source, BfsRounds)
      val converged = if (sizes.last == 0L) 1L else 0L
      dist.groupBy("dist")
        .agg(count(lit(1)).as("n_nodes"), min(col("node")).as("min_node"),
          max(col("node")).as("max_node"))
        .select(col("dist"), col("n_nodes"), col("min_node"), col("max_node"),
          lit(converged).as("converged"))
        .orderBy("dist")
    }),

    // HITS hubs/authorities on the DIRECTED customer→part purchase
    // bipartite graph (same 10%-of-orders slice as q_butterflies) — see
    // hits() scaladoc for the deferred-normalization exactness argument
    "q_hits" -> ((s, dir) =>
      hits(custPartEdges(
        Sources.table(s, dir, "orders").where(col("o_orderkey") % 10 === 0),
        Sources.table(s, dir, "lineitem").where(col("l_orderkey") % 10 === 0)),
        HitsRounds)),

    // degree assortativity of the sliced part–part co-purchase projection
    // — see assortativity() scaladoc for the all-integer Newman compose
    "q_assortativity" -> ((s, dir) =>
      assortativity(partPairEdges(Sources.table(s, dir, "lineitem")
        .where(col("l_orderkey") % 10 === 0)))),

    // edge reciprocity of the DIRECTED temporal co-purchase graph (part of
    // order k → part of the same customer's order k+1) — see
    // temporalCopurchaseEdges/reciprocity scaladocs. Feeds the PRE-distinct
    // pair stream: reciprocity's unordered-pair census collapses repeats
    // itself, so the edge list crosses the network once, not twice (r17)
    "q_reciprocity" -> ((s, dir) =>
      reciprocity(temporalCopurchasePairs(
        Sources.table(s, dir, "orders"),
        Sources.table(s, dir, "lineitem")))),

    // deterministic hash-greedy random walks over the sliced co-purchase
    // graph — the node2vec-style corpus generator; see randomWalks scaladoc
    "q_random_walk" -> ((s, dir) =>
      randomWalks(partPairEdges(Sources.table(s, dir, "lineitem")
        .where(col("l_orderkey") % 10 === 0)), WalkSteps)),

    // modularity of the q_communities LPA partition — see modularity()
    // scaladoc for the all-integer Newman compose
    "q_modularity" -> ((s, dir) => {
      val und = partPairEdges(Sources.table(s, dir, "lineitem")
        .where(col("l_orderkey") % 10 === 0)).localCheckpoint()
      modularity(und, labelPropagation(und, LpaRounds))
    }),

    // sampled closeness + harmonic centrality over the sliced co-purchase
    // graph — see closeness() scaladoc
    "q_closeness" -> ((s, dir) =>
      closeness(partPairEdges(Sources.table(s, dir, "lineitem")
        .where(col("l_orderkey") % 10 === 0)), BfsRounds)),

    // degree power-law fit (beyond reference, round 9): the Clauset–
    // Shalizi–Newman continuous-approximation MLE α̂ = 1 + n/Σln(d/(dmin−½))
    // over the tail d ≥ dmin = 2 of the co-purchase degree distribution —
    // the "is this graph scale-free" scalar that decides whether skew
    // machinery (salting, hub-splitting) is mandatory at 100 TB. One
    // degree aggregate (node-keyed, map-side combined), then ONE bounded
    // row: each node's ln term quantizes to integer micro-units (the
    // q_link_prediction AA discipline), so the tail sum is an exact
    // BIGINT and α̂ is a single closed-form float both engines replay.
    "q_degree_powerlaw" -> ((s, dir) => {
      val und = partPairEdges(Sources.table(s, dir, "lineitem")
        .where(col("l_orderkey") % 10 === 0))
      val deg = und.select(col("u").as("node"))
        .unionAll(und.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("d"))
      val tail = col("d") >= 2L
      val g = deg.agg(
        count(lit(1)).as("n_nodes"),
        sum(col("d")).as("sum_degree"),
        max(col("d")).as("max_degree"),
        sum(when(tail, 1L).otherwise(0L)).as("n_tail"),
        sum(when(tail, floor(log(col("d").cast("double") / lit(1.5))
          * lit(1000000.0)).cast("long")).otherwise(0L)).as("lsum_micro"))
      g.select(col("n_nodes"), col("sum_degree"), col("max_degree"),
        col("n_tail"), col("lsum_micro"),
        when(col("lsum_micro") > 0L,
          r6(lit(1.0) + col("n_tail").cast("double") /
            (col("lsum_micro").cast("double") / lit(1000000.0))))
          .as("alpha"))
    }),

    // rich-club coefficient (beyond reference, r11): the hub-cohesion
    // readout behind q_degree_powerlaw's α — do the high-degree parts
    // preferentially co-purchase with EACH OTHER (Zhou & Mondragón 2004)?
    // φ(k) = 2·E_{>k} / (N_{>k}(N_{>k}−1)) — edge density among nodes of
    // degree > k, swept over k ∈ {2,4,8,16}. Decides whether hub keys
    // skew-collide under one reducer (a rich club means the hot keys JOIN
    // each other — salting the hubs individually doesn't help). Plan
    // shape: one degree aggregate, two node-keyed equi-joins attach du/dv
    // to edges (the directedByDegree front half), then ONE conditional
    // aggregate per frame covers all four thresholds — no per-k rescan;
    // the 4-row unpivot rides explode on the 1×1 joined aggregate row.
    // All counts exact BIGINT; φ is one division, N≤1 abstains NULL.
    "q_rich_club" -> ((s, dir) => {
      val und = partPairEdges(Sources.table(s, dir, "lineitem")
        .where(col("l_orderkey") % 10 === 0)).localCheckpoint()
      val deg = und.select(col("u").as("node"))
        .unionAll(und.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("d"))
      val e = und
        .join(deg.select(col("node").as("u"), col("d").as("du")), Seq("u"))
        .join(deg.select(col("node").as("v"), col("d").as("dv")), Seq("v"))
      val ks = Seq(2L, 4L, 8L, 16L)
      val nodeAggs = count(lit(1)).as("n_all") +: ks.map(k =>
        sum(when(col("d") > k, 1L).otherwise(0L)).as(s"n$k"))
      val edgeAggs = ks.map(k =>
        sum(when(col("du") > k && col("dv") > k, 1L).otherwise(0L))
          .as(s"e$k"))
      val rows = deg.agg(nodeAggs.head, nodeAggs.tail: _*)
        .crossJoin(broadcast(e.agg(edgeAggs.head, edgeAggs.tail: _*)))
        .select(col("n_all"), explode(array(ks.map(k =>
          struct(lit(k).as("k"), col(s"n$k").as("nn"),
            col(s"e$k").as("ne"))): _*)).as("r"))
      rows.select(col("r.k").as("k"), col("n_all"),
          col("r.nn").as("n_rich"), col("r.ne").as("e_rich"),
          when(col("r.nn") > 1L,
            r6(lit(2.0) * col("r.ne").cast("double") /
              (col("r.nn").cast("double") *
                (col("r.nn") - 1L).cast("double")))).as("phi"))
        .orderBy("k")
    })
  )

  /** Modularity (Newman–Girvan 2004) of a node partition over an
    * undirected graph: Q = Σ_c [e_c/m − (d_c/2m)²] — the standard "is
    * this community structure real" scalar, here scoring the SAME
    * 3-round LPA partition q_communities emits (one operator produces
    * the labels, this one grades them).
    *
    * All-integer compose: Q·4m² = 4m·E_intra − Σ_c d_c², so the three
    * corpus aggregates (edge count, intra-community edge count, and the
    * per-community degree-sum squares) stay BIGINT/DECIMAL(38,0) exact —
    * a per-community float sum would accumulate in engine-dependent
    * order. ONE float division at the end. Scale shape: two label
    * equi-joins onto the edge list, one bounded per-community aggregate;
    * shuffles carry edge/node cardinality with map-side combine.
    */
  def modularity(und: DataFrame, labels: DataFrame): DataFrame = {
    // node count rides the checkpoint action; the label attach is
    // broadcast while the node table provably fits (guide §3.1, the
    // labelPropagation labHint discipline), shuffled-hash beyond — the
    // edge list is attached THREE times below and never needs to move
    val lObs = Observation()
    val lab = labels.select(col("node"), col("label"))
      .observe(lObs, count(lit(1)).as("n"))
      .localCheckpoint()
    val labHint = Observe.joinHint(Observe.metric(lObs, "n").getOrElse(Long.MaxValue))
    val e = und
      .join(lab.select(col("node").as("u"), col("label").as("lu")).hint(labHint), Seq("u"))
      .join(lab.select(col("node").as("v"), col("label").as("lv")).hint(labHint), Seq("v"))
    val base = e.agg(count(lit(1)).as("m"),
      sum((col("lu") === col("lv")).cast("long")).as("e_intra"))
    // d_c = Σ_{node∈c} deg(node) via the both-direction edge list
    val degSum = und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .join(lab.hint(labHint), Seq("node"))
      .groupBy("label").agg(count(lit(1)).as("dc"))
    val dec = "decimal(38,0)"
    val d2 = degSum.agg(
      count(lit(1)).as("n_communities"),
      sum(col("dc").cast(dec) * col("dc").cast(dec)).as("sum_d2"),
      sum(col("dc")).as("sum_d"))
    val mD = col("m").cast(dec)
    val q = (lit(4L).cast(dec) * mD * col("e_intra").cast(dec) -
      col("sum_d2")).cast("double") /
      (lit(4L).cast(dec) * mD * mD).cast("double")
    base.crossJoin(broadcast(d2))
      .select(col("m").as("n_edges"), col("e_intra").as("n_intra_edges"),
        col("n_communities"), col("sum_d").as("degree_total"),
        r6(q).as("modularity"))
  }

  /** Degree assortativity coefficient (Newman, PRL 2002 eq. 4) of an
    * undirected graph: the Pearson correlation of the degrees at either
    * end of an edge — do hubs link to hubs (r > 0, social-network-like)
    * or to leaves (r < 0, web/biology-like)? A one-number structural
    * fingerprint corpus-graph curation uses to pick sampling strategies.
    *
    * All-integer compose: with each undirected edge counted once with
    * endpoint degrees (j, k), r = (4M·Σjk − (Σ(j+k))²) /
    * (2M·Σ(j²+k²) − (Σ(j+k))²) — the textbook formula multiplied through
    * by 4M², so the THREE corpus aggregates are exact BIGINT sums and the
    * final numerator/denominator are exact DECIMAL(38,0) products (DuckDB
    * mirrors in HUGEINT; the decimal headroom holds through ~1e12 edges at
    * degree ~1e4). ONE float division at the end; a regular graph (every
    * degree equal) has zero degree variance and abstains with NULL — the
    * q_spearman zero-guard discipline.
    *
    * Scale shape: the degree table attaches to edges via two key
    * equi-joins (the directedByDegree shape), then everything
    * partial-aggregates to one row — no shuffle carries more than edge
    * cardinality, and the pair census never materializes beyond the
    * existing edge list.
    */
  def assortativity(und: DataFrame): DataFrame = {
    val deg = und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val e = und
      .join(deg.withColumnRenamed("node", "u").withColumnRenamed("d", "du"), Seq("u"))
      .join(deg.withColumnRenamed("node", "v").withColumnRenamed("d", "dv"), Seq("v"))
    val g = e.agg(
      count(lit(1)).as("m"),
      sum(col("du") * col("dv")).as("s1"),
      sum(col("du") + col("dv")).as("s2"),
      sum(col("du") * col("du") + col("dv") * col("dv")).as("s3"))
    val dec = "decimal(38,0)"
    val num = lit(4L).cast(dec) * col("m").cast(dec) * col("s1").cast(dec) -
      col("s2").cast(dec) * col("s2").cast(dec)
    val den = lit(2L).cast(dec) * col("m").cast(dec) * col("s3").cast(dec) -
      col("s2").cast(dec) * col("s2").cast(dec)
    g.select(col("m").as("n_edges"), col("s1").as("sum_jk"),
      col("s2").as("sum_j_plus_k"), col("s3").as("sum_j2_plus_k2"),
      when(den > lit(0L).cast(dec),
        floor(num.cast("double") / den.cast("double") * lit(1000000.0)
          + lit(0.500001)) / lit(1000000.0)).as("assortativity"))
  }

  /** The DIRECTED temporal co-purchase graph: an edge p → q iff some
    * customer bought p in one order and q in their NEXT order (orders
    * sequenced per customer by date, orderkey tie-break). Direction is
    * time's arrow, so reciprocity below measures genuine behavioral
    * symmetry ("p then q" AND "q then p" both observed), not a modeling
    * artifact. Self-loops (p repurchased) are excluded.
    *
    * Scale shape: one per-customer window (lead) over orders — partitioned
    * by the natural key, never global — then two orderkey equi-joins whose
    * fan-out is bounded by order size² (≤ 13² per consecutive pair in
    * TPC-H-shaped data), and a distinct. Shuffles carry order/edge
    * cardinality with map-side combine; nothing is quadratic in the
    * catalog.
    */
  def temporalCopurchaseEdges(orders: DataFrame, lineitem: DataFrame): DataFrame =
    temporalCopurchasePairs(orders, lineitem).distinct()

  /** [[temporalCopurchaseEdges]] before its distinct — the multiplicity-
    * bearing pair stream. Consumers whose first operator is itself a
    * pair-keyed aggregate (reciprocity's unordered-pair census) read this
    * directly: the distinct would be a redundant full shuffle of the pair
    * stream ahead of an aggregation that already collapses repeats
    * (guide §2.4 — two operations keyed the same way share one exchange).
    */
  def temporalCopurchasePairs(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val consec = orders
      .select(col("o_custkey"), col("o_orderkey").as("ok_a"),
        lead(col("o_orderkey"), 1).over(w).as("ok_b"))
      .where(col("ok_b").isNotNull)
      .select(col("ok_a"), col("ok_b"))
    val li = lineitem.select(col("l_orderkey"), col("l_partkey"))
    consec
      .join(li.select(col("l_orderkey").as("ok_a"), col("l_partkey").as("src")),
        Seq("ok_a"))
      .join(li.select(col("l_orderkey").as("ok_b"), col("l_partkey").as("dst")),
        Seq("ok_b"))
      .where(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
  }

  /** Edge reciprocity of a directed graph: |E ∩ Eᵀ| / |E| — the classic
    * directed-graph symmetry scalar (1.0 = every edge answered, 0.0 =
    * none). One unordered-pair aggregate with direction flags (both
    * counts fall out of the same map-side-combined exchange); the
    * division is the only float op, over two exact BIGINTs. Edge
    * multiplicity collapses (set semantics — the same answer the r16
    * distinct + reversed-semi-join shape produced, minus two shuffles and
    * two extra actions). Empty edge set abstains with NULL.
    */
  def reciprocity(edges: DataFrame): DataFrame = {
    // ONE map-side-combined aggregate (r17, guide §2.4): group by the
    // UNORDERED pair and record which directions appear — an edge is
    // reciprocated iff its pair carries both. The r16 shape (eager
    // localCheckpoint → reversed left-semi self-join → two counting jobs
    // cross-joined) shuffled the edge list three times and ran three
    // actions; this is one exchange, one action, and the input stream may
    // even carry duplicate rows (max() absorbs multiplicity), so callers
    // need no distinct of their own. Self-loops count as reciprocal,
    // matching the semi-join semantics ((a,a) reversed is itself).
    val pairs = edges
      .groupBy(least(col("src"), col("dst")).as("lo"),
        greatest(col("src"), col("dst")).as("hi"))
      .agg(max((col("src") < col("dst")).cast("long")).as("fwd"),
        max((col("src") > col("dst")).cast("long")).as("rev"),
        max((col("src") === col("dst")).cast("long")).as("slf"))
    pairs
      .agg(coalesce(sum(col("fwd") + col("rev") + col("slf")), lit(0L))
          .as("n_edges"),
        coalesce(sum(lit(2L) * col("fwd") * col("rev") + col("slf")), lit(0L))
          .as("n_reciprocal"))
      .select(col("n_edges"), col("n_reciprocal"),
        when(col("n_edges") > 0,
          floor(col("n_reciprocal").cast("double") / col("n_edges")
            * lit(1000000.0) + lit(0.500001)) / lit(1000000.0))
          .as("reciprocity"))
  }

  /** Walk length for q_random_walk: long enough to leave the seed's
    * 1-hop neighborhood, short enough that the unrolled oracle CTE chain
    * stays readable (the PrIters rationale). */
  val WalkSteps = 4

  /** Deterministic hash-greedy random walks — the node2vec-corpus shape
    * (Grover–Leskovec 2016 generate walks exactly like this, then feed
    * them to word2vec): from every seed node (node ≡ 0 mod 97 — a
    * content-addressed bounded seed set, the q_hash_split idiom), take
    * `steps` steps, at each step moving to the neighbor minimizing a
    * deterministic mix hash of (neighbor, current, step). The hash is
    * PURE BIGINT ARITHMETIC ((dst·2654435761 + cur·97 + step·40503) mod
    * 1000003, Knuth's multiplicative constant) — not an engine hash
    * function — so any engine replays the identical walk; ties break to
    * the smaller neighbor. Products stay under 2⁶³ through ~1e9 node ids.
    *
    * Scale shape: walk state is one row per seed; each step is one
    * frontier⋈edges key equi-join (frontier-sized output bounded by
    * Σdeg(frontier)) + a map-side-combined min-struct argmin groupBy.
    * `steps` fixed rounds of node-sized shuffles — the bfsLevels shape
    * with a 1/97th frontier. Emits (seed, step, node) for steps 0..n,
    * ordered; walks never dead-end because the symmetrized adjacency
    * gives every reachable node an out-edge.
    */
  def randomWalks(und: DataFrame, steps: Int): DataFrame = {
    val sym = und.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(und.select(col("v").as("src"), col("u").as("dst")))
      .repartition(col("src"))
      .localCheckpoint()
    val seeds = sym.select(col("src")).distinct()
      .where(col("src") % 97 === 0)
      .select(col("src").as("seed"), col("src").as("node"))
    var cur = seeds
    val frames = scala.collection.mutable.ArrayBuffer(
      seeds.select(col("seed"), lit(0L).as("step"), col("node")))
    for (k <- 1 to steps) {
      val h = pmod(col("dst") * lit(2654435761L) + col("node") * lit(97L)
        + lit(k.toLong * 40503L), lit(1000003L))
      cur = cur.join(sym, col("node") === col("src"))
        .select(col("seed"), col("dst"), h.as("h"))
        .groupBy("seed")
        .agg(min(struct(col("h"), col("dst"))).as("pick"))
        .select(col("seed"), col("pick.dst").as("node"))
      frames += cur.select(col("seed"), lit(k.toLong).as("step"), col("node"))
    }
    frames.reduce(_ unionAll _).orderBy("seed", "step")
  }

  /** BFS round budget for q_sssp: measured frontier exhaustion happens
    * after round 4/5/7 on the sf0.001/0.01/0.1 sliced graphs (a 6-round
    * budget left sf0.1 unconverged — dist-6 still held 286 nodes), so 8
    * rounds reaches the true eccentricity at every measured SF and the
    * in-band `converged` flag (final frontier size = 0) proves it per
    * run — the q_kcore fixed-round discipline. */
  val BfsRounds = 8

  /** Sampled closeness + harmonic centrality (Bavelas 1950 / Boldi–Vigna
    * 2014): a bitmask multi-source BFS (the MS-BFS shape — Then et al.,
    * VLDB 2014) from the content-addressed seed set (node ≡ 0 mod 97 —
    * the q_random_walk seed idiom; exact all-pairs closeness is O(n·m)
    * and no centrality pipeline runs it at corpus scale — published
    * practice samples sources), then per seed closeness = n_reached /
    * Σdist over the reached set (the Wasserman–Faust reached-set
    * variant, disconnection-safe) and harmonic = Σ 1/dist, the
    * Boldi–Vigna measure that needs no connectivity caveat at all.
    *
    * Scale shape — the r9 rewrite took the sf0.1 wall-time from 18 s to
    * the graph family's norm; r17 packs it tighter: seeds get bit
    * positions from ONE bounded driver collect (≤4096, loud cap — the
    * codebook precedent), and BFS state is ONE row per reached node
    * carrying a fixed C-chunk ARRAY of 64-seed bitmasks (C = ⌈seeds/64⌉,
    * a driver constant) — node-sized, never |seeds|·|nodes|, and never
    * the r9–r16 (node, chunk) row-per-chunk shape whose frontier⋈edges
    * join emitted one row per ACTIVE CHUNK per edge (≤ C× the edge
    * count). Each round is now: one frontier⋈edges equi-join emitting
    * exactly Σdeg(frontier) rows merged by C map-side-combining
    * element-wise bit_or aggregates, one full-outer (node) equi-join
    * against the packed seen state computing BOTH newᵢ = arrᵢ & ~seenᵢ
    * and the merged seen in a single projection, ONE localCheckpoint
    * action per round (the r16 shape ran two: new-frontier + merged-seen,
    * plus an isEmpty job — the frontier size now rides the checkpoint as
    * an observe() metric, the kCore discipline), and a projection-only
    * bit-explode of the NEW masks into the per-(seed, dist) count frame —
    * total explode work over the whole run is exactly the number of
    * reached (seed, node) pairs, paid once. The loop exits early the
    * round the frontier empties.
    *
    * Cross-engine exactness: everything after the scan is BIT ALGEBRA
    * and integer counts — dist is a small exact integer, 1/dist
    * quantizes by INTEGER division (1000000 div d — no float exists
    * anywhere in harmonic_micro), and closeness is the single float
    * division of exact BIGINTs. The converged flag derives in-plan from
    * the count frame (zero dist-= -rounds arrivals), so the unrolled
    * oracle reproduces it relationally.
    */
  def closeness(und: DataFrame, rounds: Int): DataFrame = {
    val spark = und.sparkSession
    import spark.implicits._
    val sym = und.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(und.select(col("v").as("src"), col("u").as("dst")))
      .repartition(col("src"))
      .localCheckpoint()
    val seedIds = sym.select(col("src")).distinct()
      .where(col("src") % 97 === 0)
      .orderBy("src").collect().map(_.getLong(0))
    require(seedIds.length <= 4096,
      s"closeness: ${seedIds.length} seeds exceed the bounded-fit cap 4096")
    val nChunks = math.max(1, (seedIds.length + 63) / 64)
    val chunkIdx = 0 until nChunks
    val bitLits = array((0 until 64).map(i =>
      struct(lit(i.toLong).as("i"), lit(1L << i).as("mask"))): _*)
    val seedArr = array(seedIds.map(lit).toSeq: _*)
    // packed state: ONE row per reached node — `seen` and `new` are
    // C-chunk bitmask arrays (C is a driver constant), so every join and
    // aggregate below is keyed on the bare node
    val initRows = seedIds.zipWithIndex.map { case (s, i) =>
      val arr = Array.fill(nChunks)(0L)
      arr(i / 64) |= 1L << (i % 64)
      (s, arr.toSeq)
    }.toSeq
    var state = initRows.toDF("node", "seen")
      .select(col("node"), col("seen"), col("seen").as("new"))
      .repartition(col("node")).localCheckpoint()
    def anyNew = chunkIdx.map(i => col("new")(i) =!= 0L).reduce(_ || _)
    val counts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var k = 1
    var done = false
    // the previous round's OBSERVED frontier size picks the frontier⋈edges
    // strategy deliberately (guide §3.1, the pagerank rankHint discipline):
    // Catalyst's estimate read the checkpointed state as large and planned
    // a sort-merge join that re-sorted the EDGE table every round. A
    // bounded frontier broadcasts (zero edge movement); a huge one falls
    // back to shuffled-hash (node-sized exchange, no sort, no broadcast cap).
    var prevNf: Long = seedIds.length.toLong
    while (k <= rounds && !done) {
      val frontHint = Observe.joinHint(prevNf)
      val frontier = state.where(anyNew)
        .select(col("node"), col("new").as("bits"))
      val orAggs = chunkIdx.map(i => bit_or(col("bits")(i)).as(s"b$i"))
      val arrived = frontier.hint(frontHint)
        .join(sym, col("node") === col("src"))
        .groupBy(col("dst"))
        .agg(orAggs.head, orAggs.tail: _*)
        .select(col("dst").as("anode"),
          array(chunkIdx.map(i => col(s"b$i")): _*).as("arr"))
      // one full-outer pass computes the merged seen AND the new masks;
      // the frontier cardinality rides the checkpoint as an observation —
      // one action per round, no separate merge job, no isEmpty job
      // full-outer merge: shuffled-hash, not sort-merge — both sides are
      // node-sized and already partitioned on the join key (state by its
      // checkpoint, arrived by its groupBy), so the only thing SMJ added
      // was two node-sized sorts per round (full outer cannot broadcast)
      val obs = Observation()
      val next = state.select(col("node"), col("seen"))
        .join(arrived.hint("SHUFFLE_HASH"), col("node") === col("anode"), "full")
        .select(coalesce(col("node"), col("anode")).as("node"),
          array(chunkIdx.map(i =>
            coalesce(col("seen")(i), lit(0L))
              .bitwiseOR(coalesce(col("arr")(i), lit(0L)))): _*).as("seen"),
          array(chunkIdx.map(i =>
            coalesce(col("arr")(i), lit(0L)).bitwiseAND(
              bitwise_not(coalesce(col("seen")(i), lit(0L))))): _*).as("new"))
        .observe(obs, sum(anyNew.cast("long")).as("nf"))
        .localCheckpoint()
      // r18 (ADVICE): the count frame reads a NEW-MASKS-ONLY checkpoint
      // (frontier-sized rows, built from the full state's RAM blocks in
      // one small job), so the PREVIOUS round's full packed state — no
      // longer referenced by anything once `next` is materialized — is
      // released here instead of accumulating until the terminal action.
      // Peak block-manager footprint drops from O(rounds × reached-nodes)
      // to O(one full state + Σ new-frontier rows); the last state and
      // the new-only checkpoints are swept by callers via
      // Blocks.releaseAll (the SparkEntry block-manager contract).
      val newOnly = next.where(anyNew)
        .select(col("node"), col("new"))
        .localCheckpoint()
      Blocks.releaseCheckpoint(state)
      state = next
      // projection-only bit explode of the NEW masks → (seed, dist) counts
      counts += newOnly
        .select(posexplode(col("new")).as(Seq("ci", "b")))
        .where(col("b") =!= 0L)
        .select(col("ci"), col("b"), explode(bitLits).as("bl"))
        .where(col("b").bitwiseAND(col("bl.mask")) =!= 0L)
        .groupBy((col("ci") * 64L + col("bl.i")).as("idx"))
        .agg(count(lit(1)).as("n"))
        .select(element_at(seedArr, (col("idx") + 1L).cast("int"))
          .as("seed"), lit(k.toLong).as("dist"), col("n"))
      val nf = Observe.metric(obs, "nf").getOrElse(-1L)
      done = nf == 0L
      prevNf = if (nf >= 0L) nf else Long.MaxValue
      k += 1
    }
    val all = counts.reduce(_ unionAll _)
    val wAll = BoundedWindow.whole(col("seed"))
    all.groupBy(col("seed"))
      .agg(sum(col("n")).as("n_reached"),
        sum(col("n") * col("dist")).as("sum_dist"),
        sum(col("n") * (lit(1000000L) / col("dist")).cast("long"))
          .as("harmonic_micro"),
        sum(when(col("dist") === rounds.toLong, col("n")).otherwise(0L))
          .as("n_last"))
      .select(col("seed"), col("n_reached"), col("sum_dist"),
        (floor(col("n_reached").cast("double") / col("sum_dist")
          * lit(1000000.0) + lit(0.500001)) / lit(1000000.0)).as("closeness"),
        col("harmonic_micro"),
        (sum(col("n_last")).over(wAll) === 0L).cast("long").as("converged"))
      .orderBy("seed")
  }

  /** Fixed-round breadth-first search from `source`: the frontier-
    * expansion primitive (unweighted single-source shortest paths) that
    * complements pagerank's full-graph relaxation — each round touches
    * only the NEW frontier's adjacency, not every edge.
    *
    * Scale shape: edges symmetrized + repartitioned + checkpointed ONCE;
    * each round is one frontier⋈edges equi-join (frontier-sized, not
    * graph-sized), a distinct, and an anti-join against the seen set —
    * all node-table-sized shuffles. The per-round frontier size rides an
    * observe() on the round's existing localCheckpoint action (zero extra
    * jobs — the kCore discipline), giving the convergence trace a
    * fixed-round contract otherwise hides. Returns the (node, dist) frame
    * and the per-round frontier sizes.
    */
  def bfsLevels(und: DataFrame, source: Long, rounds: Int): (DataFrame, Seq[Long]) = {
    val sym = und.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(und.select(col("v").as("src"), col("u").as("dst")))
      .repartition(col("src"))
      .localCheckpoint()
    var dist = sym.sparkSession.range(1)
      .select(lit(source).as("node"), lit(0L).as("dist"))
      .localCheckpoint()
    var frontier = dist.select(col("node"))
    val sizes = Vector.newBuilder[Long]
    var k = 1
    var exhausted = false
    // observed frontier/reached counts pick each round's join strategies
    // deliberately (guide §3.1, the closeness frontHint discipline):
    // broadcast the provably-bounded side instead of letting Catalyst's
    // checkpoint-size estimates plan edge-table re-sorts; shuffled-hash
    // past the bound (no sort, no broadcast cap)
    var frontN = 1L
    var reachedN = 1L
    while (k <= rounds && !exhausted) {
      val obs = Observation()
      val next = frontier.hint(Observe.joinHint(frontN))
        .join(sym, col("node") === col("src"))
        .select(col("dst").as("node")).distinct()
        .join(dist.select(col("node").as("seen")).hint(Observe.joinHint(reachedN)),
          col("node") === col("seen"), "left_anti")
        .select(col("node"), lit(k.toLong).as("dist"))
      val merged = dist.unionAll(next)
        .observe(obs, sum((col("dist") === k).cast("long")).as("f"))
        .localCheckpoint()
      Blocks.releaseCheckpoint(dist)
      dist = merged
      frontier = dist.where(col("dist") === k).select("node")
      // a late observation falls back to counting the checkpoint just built
      val f = Observe.metric(obs, "f").getOrElse(merged.where(col("dist") === k).count())
      sizes += f
      frontN = f
      reachedN += f
      // frontier-exhaustion early-exit (r17): an empty frontier makes every
      // remaining round a no-op (empty join → empty next → dist unchanged,
      // size 0). Skip those rounds and pad the trace with the zeros they
      // would have observed — dist and sizes are bitwise what the full
      // unroll produced, including the callers' `converged` flag.
      exhausted = f == 0L
      k += 1
    }
    while (k <= rounds) { sizes += 0L; k += 1 }
    (dist, sizes.result())
  }

  /** Link prediction over the co-purchase graph: for every OPEN wedge
    * endpoint pair (non-adjacent x<y sharing ≥1 neighbor) the three
    * classic neighborhood scores — common-neighbor count, Jaccard
    * cn/(dx+dy−cn), and Adamic–Adar Σ_w 1/ln(deg w) (Liben-Nowell &
    * Kleinberg 2003) — then the top-k by (cn, AA) with a unique (x,y)
    * tie-break, via TakeOrdered (no global sort materializes).
    *
    * Scale shape: wedges enumerate from the full both-direction adjacency
    * grouped by center — Σd(d−1)/2 wedge rows (the number q_triangles
    * reports as n_wedges), bounded here by the 10%-order slice exactly
    * like the triangle census; every join is a key equi-join, and the
    * wedge shuffle partial-aggregates (count + integer AA sum) before
    * the pair shuffle. A wedge center needs ≥2 distinct neighbors, so
    * deg(w) ≥ 2 and ln is never 0.
    *
    * Cross-engine exactness: the AA float sum would be order-dependent,
    * so each center's term is quantized to integer micro-units FIRST
    * (floor(1e6/ln d) — one deterministic float op per center) and the
    * micro-units sum in BIGINT; Jaccard is one float division of exact
    * integers. Both engines therefore run identical per-row float ops
    * and NO float accumulation.
    */
  def linkPrediction(und: DataFrame, k: Int): DataFrame = {
    // r17: the edge list feeds SEVEN subtrees of this one plan (deg via a
    // two-direction union, both wedge arms, the open-pair anti-join, two
    // degree attaches) — materialize it once so each reference reads RAM
    // blocks instead of re-running the caller's scan + self-join +
    // distinct (exchange reuse only dedups identical exchange subtrees,
    // not the reduce-side aggregates above them). The kCore discipline.
    val edges = und.localCheckpoint()
    val deg = edges.select(col("u").as("node"))
      .unionAll(edges.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val adj = edges.select(col("u").as("w"), col("v").as("x"))
      .unionAll(edges.select(col("v").as("w"), col("u").as("x")))
    val adjd = adj.join(
      deg.withColumnRenamed("node", "w").withColumnRenamed("d", "dw"), Seq("w"))
    val a2 = adj.select(col("w"), col("x").as("y"))
    val aaTerm = floor(lit(1000000.0) / log(col("dw").cast("double")))
      .cast("long")
    val pairs = adjd.join(a2, Seq("w")).where(col("x") < col("y"))
      .groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("cn"), sum(aaTerm).as("aa_micro"))
    val open = pairs.join(edges.select(col("u").as("x"), col("v").as("y")),
      Seq("x", "y"), "left_anti")
    open
      .join(deg.withColumnRenamed("node", "x").withColumnRenamed("d", "dx"), Seq("x"))
      .join(deg.withColumnRenamed("node", "y").withColumnRenamed("d", "dy"), Seq("y"))
      .select(col("x"), col("y"), col("cn"),
        col("dx").as("deg_x"), col("dy").as("deg_y"),
        (floor(col("cn").cast("double") / (col("dx") + col("dy") - col("cn"))
          * lit(1000000.0) + lit(0.500001)) / lit(1000000.0)).as("jaccard"),
        (col("aa_micro").cast("double") / lit(1000000.0)).as("adamic_adar"))
      .orderBy(col("cn").desc, col("adamic_adar").desc, col("x"), col("y"))
      .limit(k)
  }

  /** HITS round count for q_hits: two full hub↔authority reflections —
    * past the degree-only first step (a₁ is just in-degree), small enough
    * that the integer iterates stay far from the decimal(38,0) bound and
    * the unrolled oracle CTE chain stays readable (the PrIters rationale).
    */
  val HitsRounds = 2

  /** Kleinberg's HITS (JACM 1999) over a DIRECTED bipartite purchase
    * graph: customers are hubs, parts are authorities — aᵣ = Aᵀ·hᵣ₋₁,
    * hᵣ = A·aᵣ, h₀ = 1.
    *
    * Cross-engine exactness by DEFERRED NORMALIZATION: the textbook
    * algorithm L1-normalizes each half-round, which would make every
    * iterate a float vector and the result hostage to accumulation order.
    * Normalizing is a scalar multiple — it never changes the DIRECTION of
    * the iterate — so the fixpoint prefix here keeps raw INTEGER sums
    * (decimal(38,0): values are bounded by E^(2·rounds) ≈ 1.7e19 worst-
    * case at the 60k-edge slice, past BIGINT but far inside decimal38;
    * overflow fails loudly as null-propagation, never silently) and the
    * single L1 division happens once on the final table — both engines
    * divide the same exact integers, so scores agree to the r6 round
    * bit-for-bit.
    *
    * Scale shape: one distinct'd edge list; each half-round is one
    * edge-keyed equi-join + a map-side-combined sum (shuffles carry node
    * cardinality, never edge²); per-round tables persist LAZILY
    * (MEMORY_AND_DISK) so the one terminal action materializes the whole
    * chain — the q_pagerank single-action discipline — and Bench/Verify's
    * releaseAll sweep reclaims the blocks.
    */
  def hits(edges: DataFrame, rounds: Int): DataFrame = {
    val dec = "decimal(38,0)"
    // node counts ride the checkpoint action (zero extra jobs) so the
    // per-round join strategy is picked DELIBERATELY from measured size
    // (guide §3.1, the pagerank rankHint discipline): Catalyst's estimate
    // read the persisted node-sized vectors as large and planned
    // sort-merge joins that re-shuffled + re-sorted the EDGE table every
    // half-round. Broadcast the vector below ~4M nodes, shuffled-hash
    // above — no sort, no broadcast cap. The gate reads
    // approx_count_distinct (~5% relative error), so near the 4M boundary
    // it can pick either side.
    val eObs = Observation()
    val e = edges.select(col("c"), col("p"))
      .observe(eObs, approx_count_distinct(col("c")).as("nc"),
        approx_count_distinct(col("p")).as("np"))
      .localCheckpoint()
    val maxSide = math.max(
      Observe.metric(eObs, "nc").getOrElse(Long.MaxValue),
      Observe.metric(eObs, "np").getOrElse(Long.MaxValue))
    val vecHint = Observe.joinHint(maxSide)
    var hub = e.select(col("c")).distinct()
      .select(col("c"), lit(1L).cast(dec).as("h"))
    var auth = e.groupBy("p").agg(count(lit(1)).cast(dec).as("a"))
    for (r <- 1 to rounds) {
      if (r > 1) // round 1's authority vector IS the in-degree table above
        auth = e.join(hub.hint(vecHint), "c").groupBy("p").agg(sum(col("h")).as("a"))
          .persist(StorageLevel.MEMORY_AND_DISK)
      hub = e.join(auth.hint(vecHint), "p").groupBy("c").agg(sum(col("a")).as("h"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    }
    val aTot = auth.agg(sum(col("a")).as("t"))
    val hTot = hub.agg(sum(col("h")).as("t"))
    auth.crossJoin(broadcast(aTot))
      .select(lit("auth").as("side"), col("p").as("node"),
        r6(col("a").cast("double") / col("t").cast("double")).as("score"))
      .unionAll(hub.crossJoin(broadcast(hTot))
        .select(lit("hub").as("side"), col("c").as("node"),
          r6(col("h").cast("double") / col("t").cast("double")).as("score")))
      .orderBy("side", "node")
  }

  val oracleSql: Map[String, String] = Map(
    "q_pagerank" -> prOracle(PrIters),
    "q_ktruss" -> trussOracle(TrussK, TrussRounds),
    "q_sssp" -> bfsOracle(BfsRounds),
    "q_closeness" -> closenessOracle(BfsRounds),

    // identical degree census, micro-unit ln tail sum, one closed-form α̂
    "q_degree_powerlaw" ->
      s"""WITH ${partPairsCte(false)}, deg AS (
        |  SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        |    SELECT u AS node FROM und UNION ALL SELECT v FROM und)
        |  GROUP BY node
        |), g AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |    CAST(SUM(d) AS BIGINT) AS sum_degree,
        |    CAST(MAX(d) AS BIGINT) AS max_degree,
        |    CAST(SUM(CASE WHEN d >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_tail,
        |    CAST(SUM(CASE WHEN d >= 2 THEN
        |      CAST(FLOOR(LN(CAST(d AS DOUBLE) / 1.5) * 1000000.0) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS lsum_micro
        |  FROM deg
        |)
        |SELECT n_nodes, sum_degree, max_degree, n_tail, lsum_micro,
        |  CASE WHEN lsum_micro > 0 THEN
        |    FLOOR((1.0 + CAST(n_tail AS DOUBLE)
        |      / (CAST(lsum_micro AS DOUBLE) / 1000000.0))
        |      * 1000000.0 + 0.500001) / 1000000.0 END AS alpha
        |FROM g""".stripMargin,

    // identical sliced projection + degree census; the threshold sweep is
    // the same single conditional pass (CROSS JOIN against the 4-value
    // list ≡ the engine's multi-threshold aggregate — exact integers
    // either way); φ is the identical one-division float
    "q_rich_club" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 10 = 0
        |), und AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |  WHERE a.l_partkey < b.l_partkey
        |), deg AS MATERIALIZED (
        |  SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        |    SELECT u AS node FROM und UNION ALL SELECT v FROM und)
        |  GROUP BY node
        |), e AS (
        |  SELECT du.d AS du, dv.d AS dv
        |  FROM und JOIN deg du ON und.u = du.node
        |    JOIN deg dv ON und.v = dv.node
        |), ks AS (SELECT * FROM (VALUES (2), (4), (8), (16)) t(k)),
        |na AS (
        |  SELECT ks.k, CAST(COUNT(*) AS BIGINT) AS n_all,
        |    CAST(SUM(CASE WHEN deg.d > ks.k THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_rich
        |  FROM ks CROSS JOIN deg GROUP BY ks.k
        |), ea AS (
        |  SELECT ks.k,
        |    CAST(SUM(CASE WHEN e.du > ks.k AND e.dv > ks.k
        |      THEN 1 ELSE 0 END) AS BIGINT) AS e_rich
        |  FROM ks CROSS JOIN e GROUP BY ks.k
        |)
        |SELECT CAST(na.k AS BIGINT) AS k, na.n_all, na.n_rich, ea.e_rich,
        |  CASE WHEN na.n_rich > 1 THEN
        |    FLOOR(2.0 * CAST(ea.e_rich AS DOUBLE)
        |      / (CAST(na.n_rich AS DOUBLE) * CAST(na.n_rich - 1 AS DOUBLE))
        |      * 1000000.0 + 0.500001) / 1000000.0 END AS phi
        |FROM na JOIN ea ON na.k = ea.k ORDER BY k""".stripMargin,

    // the deferred-normalization HITS unrolled: every CTE is an exact
    // HUGEINT sum (a1 = in-degree since h0 = 1), the one float op is the
    // final L1 division of exact integers — identical on both engines
    "q_hits" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 10 = 0
        |), e AS MATERIALIZED (
        |  SELECT DISTINCT o.o_custkey AS c, li.l_partkey AS p
        |  FROM orders o JOIN li ON o.o_orderkey = li.l_orderkey
        |  WHERE o.o_orderkey % 10 = 0
        |), a1 AS (
        |  SELECT p, CAST(COUNT(*) AS HUGEINT) AS a FROM e GROUP BY p
        |), h1 AS (
        |  SELECT c, CAST(SUM(a) AS HUGEINT) AS h
        |  FROM e JOIN a1 USING (p) GROUP BY c
        |), a2 AS MATERIALIZED (
        |  SELECT p, CAST(SUM(h) AS HUGEINT) AS a
        |  FROM e JOIN h1 USING (c) GROUP BY p
        |), h2 AS MATERIALIZED (
        |  SELECT c, CAST(SUM(a) AS HUGEINT) AS h
        |  FROM e JOIN a2 USING (p) GROUP BY c
        |)
        |SELECT side, node, score FROM (
        |  SELECT 'auth' AS side, p AS node,
        |    FLOOR(CAST(a AS DOUBLE) / (SELECT CAST(SUM(a) AS DOUBLE) FROM a2)
        |      * 1000000.0 + 0.500001) / 1000000.0 AS score
        |  FROM a2
        |  UNION ALL
        |  SELECT 'hub' AS side, c AS node,
        |    FLOOR(CAST(h AS DOUBLE) / (SELECT CAST(SUM(h) AS DOUBLE) FROM h2)
        |      * 1000000.0 + 0.500001) / 1000000.0 AS score
        |  FROM h2
        |) ORDER BY side, node""".stripMargin,

    // the same forward algorithm relationally: ROW() comparisons mirror
    // Spark's struct ordering; counts are exact integers, transitivity is
    // the one r4-rounded double
    "q_triangles" ->
      s"""WITH ${partPairsCte(false)}, deg AS (
        |  SELECT node, COUNT(*) AS d FROM (
        |    SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und)
        |  GROUP BY node
        |), dir AS (
        |  SELECT
        |    CASE WHEN ROW(du.d, e.u) < ROW(dv.d, e.v) THEN e.u ELSE e.v END AS s,
        |    CASE WHEN ROW(du.d, e.u) < ROW(dv.d, e.v) THEN e.v ELSE e.u END AS t,
        |    CASE WHEN ROW(du.d, e.u) < ROW(dv.d, e.v) THEN dv.d ELSE du.d END AS td
        |  FROM und e
        |  JOIN deg du ON du.node = e.u
        |  JOIN deg dv ON dv.node = e.v
        |), w AS (
        |  SELECT e1.t AS x, e2.t AS y
        |  FROM dir e1 JOIN dir e2 ON e1.s = e2.s
        |  WHERE ROW(e1.td, e1.t) < ROW(e2.td, e2.t)
        |), tri AS (
        |  SELECT COUNT(*) AS n_triangles FROM w
        |  WHERE EXISTS (SELECT 1 FROM dir d WHERE d.s = w.x AND d.t = w.y)
        |), stats AS (
        |  SELECT COUNT(*) AS n_nodes,
        |    CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS n_wedges
        |  FROM deg
        |)
        |SELECT stats.n_nodes, (SELECT COUNT(*) FROM und) AS n_edges,
        |  tri.n_triangles,
        |  FLOOR(3.0 * tri.n_triangles / stats.n_wedges * 10000.0 + 0.500001)
        |    / 10000.0 AS transitivity
        |FROM stats, tri""".stripMargin,

    // side-symmetric census, so the oracle pins the part-anchored form
    // regardless of which side the Spark planner wedges over
    "q_butterflies" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 10 = 0
        |), e AS (
        |  SELECT DISTINCT o.o_custkey AS c, li.l_partkey AS p
        |  FROM orders o JOIN li ON o.o_orderkey = li.l_orderkey
        |  WHERE o.o_orderkey % 10 = 0
        |), pairs AS (
        |  SELECT a.c AS c1, b.c AS c2, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM e a JOIN e b ON a.p = b.p WHERE a.c < b.c GROUP BY 1, 2
        |), bf AS (
        |  SELECT COALESCE(CAST(SUM(n * (n - 1) / 2) AS BIGINT), 0)
        |    AS n_butterflies FROM pairs
        |), degc AS (
        |  SELECT c, CAST(COUNT(*) AS BIGINT) AS dc FROM e GROUP BY c
        |), degp AS (
        |  SELECT p, CAST(COUNT(*) AS BIGINT) AS dp FROM e GROUP BY p
        |), base AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
        |    CAST(SUM((dc - 1) * (dp - 1)) AS BIGINT) AS n_caterpillars
        |  FROM e JOIN degc USING (c) JOIN degp USING (p)
        |), sides AS (
        |  SELECT CAST(COUNT(DISTINCT c) AS BIGINT) AS n_cust,
        |    CAST(COUNT(DISTINCT p) AS BIGINT) AS n_parts FROM e
        |)
        |SELECT sides.n_cust, sides.n_parts, base.n_edges, bf.n_butterflies,
        |  base.n_caterpillars,
        |  CASE WHEN base.n_caterpillars = 0 THEN 0.0
        |    ELSE FLOOR(4.0 * bf.n_butterflies / base.n_caterpillars
        |      * 1000000.0 + 0.500001) / 1000000.0 END AS bcc
        |FROM sides, base, bf""".stripMargin,

    "q_kcore" -> kcoreOracle(CoreK, CoreRounds),

    // the triple-keeping forward algorithm: dir is referenced three times
    // (both wedge legs + the closure probe), hence MATERIALIZED
    "q_local_cc" ->
      s"""WITH ${partPairsCte(true)}, deg AS MATERIALIZED (
        |  SELECT node, COUNT(*) AS d FROM (
        |    SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und)
        |  GROUP BY node
        |), dir AS MATERIALIZED (
        |  SELECT
        |    CASE WHEN ROW(du.d, e.u) < ROW(dv.d, e.v) THEN e.u ELSE e.v END AS s,
        |    CASE WHEN ROW(du.d, e.u) < ROW(dv.d, e.v) THEN e.v ELSE e.u END AS t,
        |    CASE WHEN ROW(du.d, e.u) < ROW(dv.d, e.v) THEN dv.d ELSE du.d END AS td
        |  FROM und e
        |  JOIN deg du ON du.node = e.u
        |  JOIN deg dv ON dv.node = e.v
        |), tri AS MATERIALIZED (
        |  SELECT e1.s AS s, e1.t AS x, e2.t AS y
        |  FROM dir e1 JOIN dir e2 ON e1.s = e2.s
        |  WHERE ROW(e1.td, e1.t) < ROW(e2.td, e2.t)
        |    AND EXISTS (SELECT 1 FROM dir d WHERE d.s = e1.t AND d.t = e2.t)
        |), corners AS (
        |  SELECT s AS node FROM tri
        |  UNION ALL SELECT x FROM tri
        |  UNION ALL SELECT y FROM tri
        |), pn AS (
        |  SELECT node, CAST(COUNT(*) AS BIGINT) AS t FROM corners GROUP BY node
        |)
        |SELECT d.node, COALESCE(pn.t, 0) AS n_triangles,
        |  CAST(d.d AS BIGINT) AS degree,
        |  CASE WHEN d.d < 2 THEN 0.0
        |    ELSE FLOOR(2.0 * COALESCE(pn.t, 0) / (d.d * (d.d - 1))
        |      * 1000000.0 + 0.500001) / 1000000.0 END AS local_cc
        |FROM deg d LEFT JOIN pn USING (node)
        |ORDER BY local_cc DESC, n_triangles DESC, node
        |LIMIT 20""".stripMargin,

    "q_communities" -> lpaOracle(LpaRounds),

    "q_link_prediction" ->
      s"""WITH ${partPairsCte(true)}, deg AS MATERIALIZED (
        |  SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        |    SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und)
        |  GROUP BY node
        |), adj AS MATERIALIZED (
        |  SELECT u AS w, v AS x FROM und
        |  UNION ALL SELECT v AS w, u AS x FROM und
        |), pairs AS (
        |  SELECT a1.x AS x, a2.x AS y, CAST(COUNT(*) AS BIGINT) AS cn,
        |    CAST(SUM(CAST(FLOOR(1000000.0 / ln(CAST(dg.d AS DOUBLE)))
        |      AS BIGINT)) AS BIGINT) AS aa_micro
        |  FROM adj a1
        |  JOIN adj a2 ON a1.w = a2.w AND a1.x < a2.x
        |  JOIN deg dg ON dg.node = a1.w
        |  GROUP BY a1.x, a2.x
        |), open_p AS (
        |  SELECT p.* FROM pairs p
        |  WHERE NOT EXISTS (SELECT 1 FROM und e WHERE e.u = p.x AND e.v = p.y)
        |)
        |SELECT o.x, o.y, o.cn, dx.d AS deg_x, dy.d AS deg_y,
        |  FLOOR(CAST(o.cn AS DOUBLE) / (dx.d + dy.d - o.cn) * 1000000.0
        |    + 0.500001) / 1000000.0 AS jaccard,
        |  CAST(o.aa_micro AS DOUBLE) / 1000000.0 AS adamic_adar
        |FROM open_p o
        |JOIN deg dx ON dx.node = o.x
        |JOIN deg dy ON dy.node = o.y
        |ORDER BY o.cn DESC, adamic_adar DESC, o.x, o.y
        |LIMIT 20""".stripMargin,

    // identical all-integer Newman compose: BIGINT sums, HUGEINT products
    // (Spark mirrors in DECIMAL(38,0)), one final float division
    "q_assortativity" ->
      s"""WITH ${partPairsCte(false)}, deg AS (
        |  SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        |    SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und)
        |  GROUP BY node
        |), m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS m,
        |    CAST(SUM(du.d * dv.d) AS BIGINT) AS s1,
        |    CAST(SUM(du.d + dv.d) AS BIGINT) AS s2,
        |    CAST(SUM(du.d * du.d + dv.d * dv.d) AS BIGINT) AS s3
        |  FROM und e
        |  JOIN deg du ON du.node = e.u
        |  JOIN deg dv ON dv.node = e.v
        |)
        |SELECT m AS n_edges, s1 AS sum_jk, s2 AS sum_j_plus_k,
        |  s3 AS sum_j2_plus_k2,
        |  CASE WHEN 2 * CAST(m AS HUGEINT) * s3 - CAST(s2 AS HUGEINT) * s2 > 0
        |    THEN FLOOR(
        |      CAST(4 * CAST(m AS HUGEINT) * s1 - CAST(s2 AS HUGEINT) * s2
        |        AS DOUBLE)
        |      / CAST(2 * CAST(m AS HUGEINT) * s3 - CAST(s2 AS HUGEINT) * s2
        |        AS DOUBLE)
        |      * 1000000.0 + 0.500001) / 1000000.0
        |  END AS assortativity
        |FROM m""".stripMargin,

    // identical per-customer LEAD sequencing, bounded-fan-out part joins,
    // and reverse-edge EXISTS probe; the division is the only float op
    "q_reciprocity" ->
      """WITH consec AS (
        |  SELECT ok_a, ok_b FROM (
        |    SELECT o_orderkey AS ok_a,
        |      LEAD(o_orderkey) OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate, o_orderkey) AS ok_b
        |    FROM orders)
        |  WHERE ok_b IS NOT NULL
        |), e AS MATERIALIZED (
        |  SELECT DISTINCT la.l_partkey AS src, lb.l_partkey AS dst
        |  FROM consec
        |  JOIN lineitem la ON la.l_orderkey = consec.ok_a
        |  JOIN lineitem lb ON lb.l_orderkey = consec.ok_b
        |  WHERE la.l_partkey <> lb.l_partkey
        |)
        |SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e
        |   WHERE EXISTS (SELECT 1 FROM e r
        |     WHERE r.src = e.dst AND r.dst = e.src)) AS n_reciprocal,
        |  CASE WHEN (SELECT COUNT(*) FROM e) > 0 THEN
        |    FLOOR((SELECT CAST(COUNT(*) AS DOUBLE) FROM e
        |        WHERE EXISTS (SELECT 1 FROM e r
        |          WHERE r.src = e.dst AND r.dst = e.src))
        |      / (SELECT COUNT(*) FROM e) * 1000000.0 + 0.500001) / 1000000.0
        |  END AS reciprocity""".stripMargin,

    "q_random_walk" -> randomWalkOracle(WalkSteps),

    "q_modularity" -> modularityOracle(LpaRounds)
  )

  /** The random-walk oracle: the same hash-greedy steps unrolled (the
    * lpaOracle discipline — each step CTE picks, per seed, the neighbor
    * minimizing the identical pure-arithmetic mix hash).
    */
  private def randomWalkOracle(steps: Int): String = {
    val head =
      s"""WITH ${partPairsCte(false)}, sym AS MATERIALIZED (
        |  SELECT u AS src, v AS dst FROM und
        |  UNION ALL SELECT v AS src, u AS dst FROM und
        |), s0 AS (
        |  SELECT DISTINCT src AS seed, src AS node FROM sym WHERE src % 97 = 0
        |)""".stripMargin
    val stepCtes = (1 to steps).map { k =>
      s""", s$k AS MATERIALIZED (
         |  SELECT seed, node FROM (
         |    SELECT p.seed, sym.dst AS node,
         |      ROW_NUMBER() OVER (PARTITION BY p.seed
         |        ORDER BY (sym.dst * 2654435761 + p.node * 97
         |          + $k * 40503) % 1000003, sym.dst) AS rn
         |    FROM s${k - 1} p JOIN sym ON p.node = sym.src)
         |  WHERE rn = 1
         |)""".stripMargin
    }.mkString
    val selects = (0 to steps).map { k =>
      s"SELECT seed, CAST($k AS BIGINT) AS step, node FROM s$k"
    }.mkString("\n", "\nUNION ALL ", "\nORDER BY seed, step")
    head + stepCtes + selects
  }

  /** The LPA oracle: the same fixed synchronous rounds unrolled (the
    * kcoreOracle discipline — MATERIALIZED, since each round references
    * the previous label table).
    */
  private def lpaChain(rounds: Int): String = {
    val head =
      s"""WITH $PartPairsSymCte, l0 AS MATERIALIZED (
        |  SELECT DISTINCT src AS node, src AS label FROM sym
        |)""".stripMargin
    val steps = (1 to rounds).map { i =>
      s""", l$i AS MATERIALIZED (
         |  SELECT node, label FROM (
         |    SELECT s.src AS node, l.label, COUNT(*) AS c,
         |      row_number() OVER (PARTITION BY s.src
         |        ORDER BY COUNT(*) DESC, l.label) AS rn
         |    FROM sym s JOIN l${i - 1} l ON l.node = s.dst
         |    GROUP BY s.src, l.label) t
         |  WHERE rn = 1
         |)""".stripMargin
    }.mkString
    head + steps
  }

  private def lpaOracle(rounds: Int): String =
    lpaChain(rounds) + s"\nSELECT node, label FROM l$rounds ORDER BY node"

  /** The modularity oracle: the identical LPA chain, then the same
    * all-integer Q·4m² = 4m·E_intra − Σd_c² compose in HUGEINT. */
  private def modularityOracle(rounds: Int): String =
    lpaChain(rounds) +
      s""", lab AS MATERIALIZED (
         |  SELECT node, label FROM l$rounds
         |), base AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         |    CAST(SUM(CASE WHEN a.label = b.label THEN 1 ELSE 0 END)
         |      AS BIGINT) AS e_intra
         |  FROM und e
         |  JOIN lab a ON a.node = e.u
         |  JOIN lab b ON b.node = e.v
         |), degsum AS (
         |  SELECT lab.label, CAST(COUNT(*) AS BIGINT) AS dc
         |  FROM (SELECT u AS node FROM und
         |        UNION ALL SELECT v AS node FROM und) d
         |  JOIN lab ON lab.node = d.node
         |  GROUP BY lab.label
         |), d2 AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
         |    SUM(CAST(dc AS HUGEINT) * dc) AS sum_d2,
         |    CAST(SUM(dc) AS BIGINT) AS sum_d
         |  FROM degsum
         |)
         |SELECT m AS n_edges, e_intra AS n_intra_edges, n_communities,
         |  sum_d AS degree_total,
         |  FLOOR(CAST(4 * CAST(m AS HUGEINT) * e_intra - sum_d2 AS DOUBLE)
         |      / CAST(4 * CAST(m AS HUGEINT) * m AS DOUBLE)
         |    * 1000000.0 + 0.500001) / 1000000.0 AS modularity
         |FROM base, d2""".stripMargin

  /** The k-core oracle: the same fixed peel rounds UNROLLED as chained
    * standard-SQL CTEs (the prOracle discipline — no vendor recursive
    * extension, each round's survivor set re-derived from the previous
    * round's by the identical degree-threshold rule).
    */
  /** The DuckDB oracle for q_sssp: the same BFS rounds unrolled as chained
    * MATERIALIZED CTEs — fᵢ is round i's frontier (new nodes only, via
    * NOT EXISTS against the seen set), aᵢ the accumulated distance table.
    */
  private def bfsOracle(rounds: Int): String = {
    val head =
      s"""WITH $PartPairsSymCte, f0 AS MATERIALIZED (SELECT MIN(src) AS node FROM sym),
        |a0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS dist FROM f0)""".stripMargin
    val roundCtes = (1 to rounds).map { k =>
      s""", f$k AS MATERIALIZED (
         |  SELECT DISTINCT e.dst AS node FROM sym e
         |  JOIN f${k - 1} f ON e.src = f.node
         |  WHERE NOT EXISTS (SELECT 1 FROM a${k - 1} s WHERE s.node = e.dst)
         |), a$k AS MATERIALIZED (
         |  SELECT node, dist FROM a${k - 1}
         |  UNION ALL SELECT node, CAST($k AS BIGINT) AS dist FROM f$k
         |)""".stripMargin
    }.mkString
    s"""$head$roundCtes,
       |conv AS (SELECT CASE WHEN COUNT(*) = 0 THEN 1 ELSE 0 END AS c
       |  FROM f$rounds)
       |SELECT dist, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |  MIN(node) AS min_node, MAX(node) AS max_node,
       |  CAST(c AS BIGINT) AS converged
       |FROM a$rounds, conv
       |GROUP BY dist, c ORDER BY dist""".stripMargin
  }

  /** The DuckDB oracle for q_closeness: the bfsOracle CTE chain with a
    * seed column riding every frontier (composite-key NOT EXISTS), then
    * the same integer-division harmonic micro-units and one closeness
    * float division per seed.
    */
  private def closenessOracle(rounds: Int): String = {
    val head =
      s"""WITH $PartPairsSymCte, a0 AS MATERIALIZED (
        |  SELECT src AS seed, src AS node, CAST(0 AS BIGINT) AS dist
        |  FROM (SELECT DISTINCT src FROM sym WHERE src % 97 = 0)
        |)""".stripMargin
    val roundCtes = (1 to rounds).map { k =>
      s""", f$k AS MATERIALIZED (
         |  SELECT DISTINCT f.seed, e.dst AS node
         |  FROM sym e JOIN ${if (k == 1) "a0" else s"f${k - 1}"} f
         |    ON e.src = f.node
         |  WHERE NOT EXISTS (SELECT 1 FROM a${k - 1} s
         |    WHERE s.seed = f.seed AND s.node = e.dst)
         |), a$k AS MATERIALIZED (
         |  SELECT seed, node, dist FROM a${k - 1}
         |  UNION ALL SELECT seed, node, CAST($k AS BIGINT) AS dist FROM f$k
         |)""".stripMargin
    }.mkString
    s"""$head$roundCtes,
       |conv AS (SELECT CASE WHEN COUNT(*) = 0 THEN 1 ELSE 0 END AS c
       |  FROM f$rounds),
       |agg AS (
       |  SELECT seed, CAST(COUNT(*) AS BIGINT) AS n_reached,
       |    CAST(SUM(dist) AS BIGINT) AS sum_dist,
       |    CAST(SUM(1000000 // dist) AS BIGINT) AS harmonic_micro
       |  FROM a$rounds WHERE dist > 0 GROUP BY seed
       |)
       |SELECT seed, n_reached, sum_dist,
       |  FLOOR(CAST(n_reached AS DOUBLE) / sum_dist * 1000000.0 + 0.500001)
       |    / 1000000.0 AS closeness,
       |  harmonic_micro, CAST(c AS BIGINT) AS converged
       |FROM agg, conv ORDER BY seed""".stripMargin
  }

  private def kcoreOracle(k: Int, rounds: Int): String = {
    val head =
      // MATERIALIZED: each aᵢ references aᵢ₋₁ twice, so DuckDB's default
      // CTE inlining would expand the chain exponentially (measured: fd
      // exhaustion from 2^rounds lineitem scans)
      s"""WITH ${partPairsCte(true)}, a0 AS MATERIALIZED (
        |  SELECT DISTINCT node FROM (
        |    SELECT u AS node FROM und UNION ALL SELECT v FROM und)
        |)""".stripMargin
    val peels = (1 to rounds).map { i =>
      s""", a$i AS MATERIALIZED (
         |  SELECT node FROM (
         |    SELECT node, COUNT(*) AS d FROM (
         |      SELECT e.u AS node FROM und e
         |        JOIN a${i - 1} x ON e.u = x.node JOIN a${i - 1} y ON e.v = y.node
         |      UNION ALL
         |      SELECT e.v FROM und e
         |        JOIN a${i - 1} x ON e.u = x.node JOIN a${i - 1} y ON e.v = y.node) t
         |    GROUP BY node) dd
         |  WHERE d >= $k
         |)""".stripMargin
    }.mkString
    val tail =
      s"""
         |SELECT CAST($k AS BIGINT) AS k,
         |  (SELECT COUNT(*) FROM a$rounds) AS n_core_nodes,
         |  (SELECT COUNT(*) FROM und e
         |     JOIN a$rounds x ON e.u = x.node
         |     JOIN a$rounds y ON e.v = y.node) AS n_core_edges,
         |  CAST(CASE WHEN (SELECT COUNT(*) FROM a$rounds)
         |    = (SELECT COUNT(*) FROM a${rounds - 1}) THEN 1 ELSE 0 END
         |    AS BIGINT) AS converged""".stripMargin
    head + peels + tail
  }

  /** The DuckDB oracle: the same 5 iterations UNROLLED as chained CTEs —
    * standard SQL (no vendor recursive-aggregate extension), every term
    * spelled with the same literals the Spark side uses. */
  /** Mirrors kTruss with the rounds unrolled: per round a plain x<y<z
    * triangle enumeration (the INDEPENDENT naive form — if the engine's
    * degree-ordered wedges mishandle any tie, the derivations disagree),
    * a 3-edge support census, and the ≥ k−2 filter; AS MATERIALIZED per
    * the kcore/LPA unrolled-oracle lesson.
    */
  private def trussOracle(k: Int, rounds: Int): String = {
    val head =
      s"""WITH li AS (
         |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 10 = 0
         |), e0 AS MATERIALIZED (
         |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
         |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
         |  WHERE a.l_partkey < b.l_partkey
         |)""".stripMargin
    val steps = (1 to rounds).map { r =>
      val p = r - 1
      s"""t$r AS MATERIALIZED (
         |  SELECT a.u AS x, a.v AS y, b.v AS z
         |  FROM e$p a JOIN e$p b ON b.u = a.v
         |  JOIN e$p c ON c.u = a.u AND c.v = b.v
         |), s$r AS MATERIALIZED (
         |  SELECT u, v, COUNT(*) AS sup FROM (
         |    SELECT x AS u, y AS v FROM t$r
         |    UNION ALL SELECT x, z FROM t$r
         |    UNION ALL SELECT y, z FROM t$r)
         |  GROUP BY 1, 2
         |), e$r AS MATERIALIZED (
         |  SELECT e.u, e.v FROM e$p e
         |  JOIN s$r s ON s.u = e.u AND s.v = e.v
         |  WHERE s.sup >= ${k - 2}
         |)""".stripMargin
    }
    val tail =
      s"""SELECT CAST($k AS BIGINT) AS k,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e$rounds) AS n_truss_edges,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM (
         |     SELECT u AS node FROM e$rounds UNION SELECT v FROM e$rounds))
         |    AS n_truss_nodes,
         |  CAST((SELECT COUNT(*) FROM e$rounds)
         |    = (SELECT COUNT(*) FROM e${rounds - 1}) AS BIGINT) AS converged""".stripMargin
    (head +: steps).mkString(",\n") + "\n" + tail
  }

  private def prOracle(iters: Int): String = {
    val head =
      s"""WITH e0 AS (
         |  SELECT DISTINCT l_orderkey AS src, l_partkey + $PartOffset AS dst
         |  FROM lineitem
         |), e AS (
         |  SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
         |), deg AS (
         |  SELECT src, CAST(COUNT(*) AS DOUBLE) AS odeg FROM e GROUP BY src
         |), n AS (
         |  SELECT CAST(COUNT(*) AS DOUBLE) AS cnt FROM deg
         |), pr0 AS (
         |  SELECT src AS node, 1.0 / (SELECT cnt FROM n) AS pr FROM deg
         |)""".stripMargin
    // AS MATERIALIZED: pr$(iters-1) is referenced twice (next round + the
    // residual) — DuckDB's default inlining would re-expand the whole
    // chain per reference (the kcore/LPA unrolled-oracle lesson)
    val steps = (1 to iters).map { k =>
      s"""pr$k AS MATERIALIZED (
         |  SELECT e.dst AS node,
         |    $Teleport / (SELECT cnt FROM n)
         |      + $Damping * SUM(p.pr / d.odeg) AS pr
         |  FROM e
         |  JOIN pr${k - 1} p ON e.src = p.node
         |  JOIN deg d ON e.src = d.src
         |  GROUP BY e.dst
         |)""".stripMargin
    }
    val tail =
      s"""SELECT node,
         |  FLOOR(pr * (SELECT cnt FROM n) * 1000000.0 + 0.500001) / 1000000.0
         |    AS pr_scaled,
         |  (SELECT FLOOR(SUM(ABS(a.pr - b.pr)) * (SELECT cnt FROM n) * 1000000.0
         |     + 0.500001) / 1000000.0
         |   FROM pr$iters a JOIN pr${iters - 1} b ON a.node = b.node) AS l1_residual
         |FROM pr$iters ORDER BY node""".stripMargin
    (head +: steps).mkString(",\n") + "\n" + tail
  }
}
