package graft.tools

import graft.{Blocks, Sessions}
import graft.io.Sources
import graft.dedup.Dedup
import graft.operators.LlmQueries
import graft.similarity.Ann
import org.apache.spark.sql.functions._
import graft.functions.ColumnOps

/** Scaling evidence for the dedup pipeline: runs minhash signatures +
  * banded candidates + exact verify at 1×/4×/16× corpus multiplicity and
  * prints wall times, so "would this hold at 100×" is answered with a
  * measured curve instead of a claim.
  *
  * Copies get per-copy token suffixes (every token rewritten) so the
  * copies share no shingles — the measurement isolates how the SCAN +
  * signature + banding + join machinery scales with corpus size, without
  * manufacturing a quadratic cross-copy near-dup pair set that no real
  * corpus growth would produce. Planted near-dup pairs (the standard
  * perturbed twins) scale 1:1 with the corpus inside each copy.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"

    // Two-level bucketed ranking (round 11 — the q_window_ntile/q_lorenz
    // machinery): orders multiplied as fresh keys on the SAME 3-value
    // o_orderstatus lanes, ranked by (cents, key) through
    // Ranks.withPartitionedRank. The claim under test: |lanes|·buckets
    // uniform ranking tasks + Aggregate-bounded offset windows ⇒ wall
    // time tracks the SCAN, with the fixed boundary/offset jobs flat in
    // data size — the shape that replaced the widest-segment single-task
    // Window. Run standalone: `runMain graft.tools.ScaleProbe <dir> ranks`.
    if (args.length > 1 && args(1) == "ranks") {
      val ord = Sources.table(spark, dir, "orders")
      val cents0 = ColumnOps.cents(col("o_totalprice"))
      graft.operators.Ranks.withPartitionedRank(
        ord.limit(2000).select(col("o_orderkey").as("ck"),
          col("o_orderstatus").as("seg"), cents0.as("v")),
        col("seg"), col("v"), col("ck"), "rk", nOut = "n",
        checkpoint = false).count()
      Blocks.releaseAll(spark)
      for (mult <- Seq(1, 4, 16)) {
        val big = (0 until mult).map { i =>
          ord.select(
            (col("o_orderkey") + lit(i.toLong * 100000000L)).as("ck"),
            col("o_orderstatus").as("seg"),
            (cents0 + lit(i.toLong)).as("v"))
        }.reduce(_ unionByName _)
          .repartition(spark.sparkContext.defaultParallelism)
          .localCheckpoint()
        val nRows = big.count()
        val t0 = System.nanoTime()
        val ranked = graft.operators.Ranks.withPartitionedRank(big,
          col("seg"), col("v"), col("ck"), "rk", nOut = "n",
          checkpoint = false)
        // one action over the FULL ranking; the invariant rides along:
        // per-lane max rank must equal the lane's row count
        val bad = ranked.groupBy("seg")
          .agg(max(col("rk")).as("mx"), count(lit(1)).as("c"),
            max(col("n")).as("nl"))
          .where(col("mx") =!= col("c") || col("nl") =!= col("c"))
          .count()
        val secs = (System.nanoTime() - t0) / 1e9
        require(bad == 0L, "per-lane rank invariant broken")
        println(f"[scale-ranks] mult=$mult%2d rows=$nRows%9d secs=$secs%.2f")
        Blocks.releaseAll(spark)
      }
      spark.stop()
      return
    }

    // q_kl_divergence (round 12): documents multiplied with per-copy
    // SOURCE suffixes (sources grow with the corpus — the realistic
    // growth mode for a domain-mix pipeline). Claim under test: one
    // (source, term) shuffle + vocab-bounded broadcast attaches + a
    // source-PARTITIONED window ⇒ wall time tracks the scan; nothing in
    // the plan is quadratic in corpus or source count. Run standalone:
    // `runMain graft.tools.ScaleProbe <dir> kl`.
    if (args.length > 1 && args(1) == "kl") {
      val docs0 = Sources.table(spark, dir, "documents")
        .select(col("source"), col("text"))
      LlmQueries.klDivergence(
        docs0.limit(500).withColumn("source", concat(col("source"),
          lit("_w")))).count()
      Blocks.releaseAll(spark)
      for (mult <- Seq(1, 4, 16)) {
        val big = (0 until mult).map { i =>
          docs0.select(concat(col("source"), lit(s"_$i")).as("source"),
            col("text"))
        }.reduce(_ unionByName _)
          .repartition(spark.sparkContext.defaultParallelism)
          .localCheckpoint()
        val nRows = big.count()
        val t0 = System.nanoTime()
        val out = LlmQueries.klDivergence(big)
        // one action over the full result; the partition-of-unity
        // invariant rides along: every per-source coverage ∈ (0, 1]
        val bad = out.where(col("corpus_coverage") <= 0.0 ||
          col("corpus_coverage") > 1.0).count()
        val nSrc = out.count()
        val secs = (System.nanoTime() - t0) / 1e9
        require(bad == 0L, "coverage invariant broken")
        println(f"[scale-kl] mult=$mult%2d rows=$nRows%9d sources=$nSrc%4d secs=$secs%.2f")
        Blocks.releaseAll(spark)
      }
      spark.stop()
      return
    }

    // q_sssp (round 13): DISJOINT graph copies with the pinned seed kept
    // in copy 0 — the q_sssp plan is bfsLevels + a node-sized level
    // histogram, so the claim under test is the frontier property end to
    // end: per-round cost pays for the FRONTIER's adjacency probes and
    // the final groupBy pays for REACHED nodes; the unreachable 15/16 of
    // a 16× graph must cost (at most) the one-time symmetrize/partition
    // scan, never per-round work. Run standalone:
    // `runMain graft.tools.ScaleProbe <dir> sssp`.
    if (args.length > 1 && args(1) == "sssp") {
      val liSl = Sources.table(spark, dir, "lineitem")
        .where(col("l_orderkey") % 10 === 0)
        .select(col("l_orderkey"), col("l_partkey"))
      graft.operators.Graph.bfsLevels(
        graft.operators.Graph.partPairEdges(liSl.limit(2000)), 1L, 2)._1.count()
      Blocks.releaseAll(spark)
      for (mult <- Seq(1, 4, 16)) {
        val liBig = (0 until mult).map { i =>
          liSl.select(
            (col("l_orderkey") + lit(i.toLong * 100000000L)).as("l_orderkey"),
            (col("l_partkey") + lit(i.toLong * 100000000L)).as("l_partkey"))
        }.reduce(_ unionByName _)
          .repartition(spark.sparkContext.defaultParallelism)
        val und = graft.operators.Graph.partPairEdges(liBig).localCheckpoint()
        val nE = und.count()
        // copy-0 min node — the same "min(u)" pin q_sssp uses, which the
        // id offsets keep inside the original component
        val src = und.agg(min(col("u"))).head.getLong(0)
        val t0 = System.nanoTime()
        val (dist, sizes) = graft.operators.Graph.bfsLevels(
          und, src, graft.operators.Graph.BfsRounds)
        val hist = dist.groupBy("dist")
          .agg(count(lit(1)).as("n_nodes"), min(col("node")), max(col("node")))
        val levels = hist.count()
        val reached = dist.count()
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"[scale-sssp] mult=$mult%2d edges=$nE%9d reached=$reached%8d " +
          f"levels=$levels%2d rounds_used=${sizes.takeWhile(_ > 0).length}%2d " +
          f"secs=$secs%.2f")
        Blocks.releaseAll(spark)
      }
      spark.stop()
      return
    }

    // q_hits (round 13): the directed customer→part bipartite graph
    // multiplied as DISJOINT copies (offset cust AND part keys on both
    // inputs — more customers and more parts, constant degrees). Rounds
    // are fixed at HitsRounds, so the claim under test is per-round
    // linearity: each hub/authority refresh is one edges⋈scores equi-join
    // + a map-side-combined sum whose output is node-sized; nothing may
    // scale with edges², and the exact decimal scores must not overflow
    // into extra passes. Run standalone:
    // `runMain graft.tools.ScaleProbe <dir> hits`.
    if (args.length > 1 && args(1) == "hits") {
      val ordSl = Sources.table(spark, dir, "orders")
        .where(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), col("o_custkey"))
      val liSl = Sources.table(spark, dir, "lineitem")
        .where(col("l_orderkey") % 10 === 0)
        .select(col("l_orderkey"), col("l_partkey"))
      graft.operators.Graph.hits(graft.operators.Graph.custPartEdges(
        ordSl.limit(500), liSl), rounds = 1).count()
      Blocks.releaseAll(spark)
      for (mult <- Seq(1, 4, 16)) {
        val oBig = (0 until mult).map { i =>
          ordSl.select(
            (col("o_orderkey") + lit(i.toLong * 100000000L)).as("o_orderkey"),
            (col("o_custkey") + lit(i.toLong * 100000000L)).as("o_custkey"))
        }.reduce(_ unionByName _).localCheckpoint()
        val liBig = (0 until mult).map { i =>
          liSl.select(
            (col("l_orderkey") + lit(i.toLong * 100000000L)).as("l_orderkey"),
            (col("l_partkey") + lit(i.toLong * 100000000L)).as("l_partkey"))
        }.reduce(_ unionByName _)
          .repartition(spark.sparkContext.defaultParallelism)
          .localCheckpoint()
        val edges = graft.operators.Graph.custPartEdges(oBig, liBig)
          .localCheckpoint()
        val nE = edges.count()
        val t0 = System.nanoTime()
        val n = graft.operators.Graph.hits(
          edges, graft.operators.Graph.HitsRounds).count()
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"[scale-hits] mult=$mult%2d edges=$nE%9d scored=$n%8d " +
          f"secs=$secs%.2f")
        Blocks.releaseAll(spark)
      }
      spark.stop()
      return
    }

    // q_ktruss (round 13): DISJOINT co-purchase copies — constant degrees,
    // so per-round wedge volume (the arboricity-bounded degree-ordered
    // enumeration, the q_triangles scale argument) grows LINEARLY with
    // edges, and TrussRounds is fixed. The claim under test: support
    // peeling costs rounds × (wedge census + one edge-keyed aggregate +
    // one semi-join), every piece linear here — a super-linear curve
    // would mean the wedge join or the per-round checkpoint broke. Run
    // standalone: `runMain graft.tools.ScaleProbe <dir> ktruss`.
    if (args.length > 1 && args(1) == "ktruss") {
      val liSl = Sources.table(spark, dir, "lineitem")
        .where(col("l_orderkey") % 10 === 0)
        .select(col("l_orderkey"), col("l_partkey"))
      graft.operators.Graph.kTruss(
        graft.operators.Graph.partPairEdges(liSl.limit(2000)),
        graft.operators.Graph.TrussK, rounds = 1).count()
      Blocks.releaseAll(spark)
      for (mult <- Seq(1, 4, 16)) {
        val liBig = (0 until mult).map { i =>
          liSl.select(
            (col("l_orderkey") + lit(i.toLong * 100000000L)).as("l_orderkey"),
            (col("l_partkey") + lit(i.toLong * 100000000L)).as("l_partkey"))
        }.reduce(_ unionByName _)
          .repartition(spark.sparkContext.defaultParallelism)
        val und = graft.operators.Graph.partPairEdges(liBig).localCheckpoint()
        val nE = und.count()
        val t0 = System.nanoTime()
        val r = graft.operators.Graph.kTruss(und,
          graft.operators.Graph.TrussK,
          graft.operators.Graph.TrussRounds).head()
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"[scale-ktruss] mult=$mult%2d edges=$nE%9d " +
          f"truss_edges=${r.getLong(1)}%9d converged=${r.getLong(3)}%d " +
          f"secs=$secs%.2f")
        Blocks.releaseAll(spark)
      }
      spark.stop()
      return
    }

    // Association rules standalone (round 15 — re-confirm the round-8
    // catalog-bounded pair-frame claim on each regenerated corpus without
    // paying for the whole default probe sequence). Same growth mode as
    // the in-sequence block: order copies with OFFSET orderkeys over the
    // SAME part catalog — more baskets, fixed assortment. Run:
    // `runMain graft.tools.ScaleProbe <dir> assoc`.
    if (args.length > 1 && args(1) == "assoc") {
      val liPairs0 = Sources.table(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
      liPairs0.limit(2000).distinct().count() // JIT/scan warmup
      Blocks.releaseAll(spark)
      for (mult <- Seq(1, 4, 16)) {
        val liBig = (0 until mult).map { i =>
          liPairs0.select(
            (col("l_orderkey") + lit(i.toLong * 100000000L)).as("ok"),
            col("l_partkey").as("pk"))
        }.reduce(_ unionByName _)
          .repartition(spark.sparkContext.defaultParallelism)
          .localCheckpoint()
        val items = liBig.distinct()
        val t0 = System.nanoTime()
        val aa = items.select(col("ok"), col("pk").as("part_a"))
        val bb = items.select(col("ok"), col("pk").as("part_b"))
        val pairSupp = aa.join(bb, Seq("ok"))
          .where(col("part_a") < col("part_b"))
          .groupBy("part_a", "part_b").agg(count(lit(1)).as("supp_ab"))
        val itemSupp = items.groupBy("pk").agg(count(lit(1)).as("supp"))
        val top = pairSupp
          .join(broadcast(itemSupp.select(col("pk").as("part_a"),
            col("supp").as("supp_a"))), Seq("part_a"))
          .join(broadcast(itemSupp.select(col("pk").as("part_b"),
            col("supp").as("supp_b"))), Seq("part_b"))
          .orderBy(col("supp_ab").desc, col("part_a"), col("part_b"))
          .limit(20).count()
        val secs = (System.nanoTime() - t0) / 1e9
        val nPairs = pairSupp.count()
        println(f"[scale-assoc] mult=$mult%2d items=${items.count()}%9d " +
          f"pairs=$nPairs%9d top=$top%3d secs=$secs%.2f")
        Blocks.releaseAll(spark)
      }
      spark.stop()
      return
    }

    // IVF cell assignment vs nlist (round 15 — the broadcast-kernel scale
    // story for semdedup's nlist = √N): assign a FIXED 16× jittered corpus
    // to nlist ∈ {16, 256, 4096} centroids through graft_ivf_cells. The
    // claim under test: the broadcast form's cost is ONE model ship + a
    // tight O(nlist·dim) per-row loop — so wall grows far slower than the
    // 256× naive flop ratio (no codegen re-JIT per cell, no plan-literal
    // blowup, no shuffle at all: assignment is a shuffle-free projection),
    // and a √(10⁹)-cell deployment pays compute, not plan machinery.
    // Run standalone: `runMain graft.tools.ScaleProbe <dir> ivfassign`.
    if (args.length > 1 && args(1) == "ivfassign") {
      val emb0 = Sources.table(spark, dir, "embeddings")
      val corpus16 = (0 until 16).map { i =>
        emb0.select((col("vec_id") + lit(i.toLong * 10000000L)).as("vec_id"),
          transform(col("embedding"),
            x => x + lit(i.toFloat * 0.01f)).as("embedding"))
      }.reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint()
      val nVecs = corpus16.count()
      val rng = new scala.util.Random(42L)
      val dim = 64
      // untimed warmup assignment (r15 verdict #3): JIT the kernel + the
      // projection codegen before the first timed row — the committed r15
      // curve's nlist=16 reading carried JVM warmup (0.99 s vs 0.25 s at
      // 256 cells) and made "near-flat in nlist" read noisier than it is
      locally {
        val warmId = graft.similarity.IvfModels.put(new graft.similarity
          .IvfModel(Array.fill(16)(Array.fill(dim)(rng.nextGaussian()))))
        corpus16.select(element_at(call_function("graft_ivf_cells",
            col("embedding"), lit(warmId), lit(1)), 1).as("cell"))
          .agg(countDistinct(col("cell"))).head
        graft.similarity.IvfModels.remove(warmId)
      }
      // 31623 = √10⁹ — the semdedup nlist the 100 TB sizing in SURVEY §2.x
      // actually cites; measuring it directly retires the ≤4096
      // extrapolation
      for (nlist <- Seq(16, 256, 4096, 31623)) {
        // synthetic centroids: assignment cost does not depend on centroid
        // quality, and fitting 4096 real cells on a 500-vector base corpus
        // would only duplicate centers
        val centers = Array.fill(nlist)(Array.fill(dim)(rng.nextGaussian()))
        val modelId = graft.similarity.IvfModels.put(
          new graft.similarity.IvfModel(centers))
        val t0 = System.nanoTime()
        val cells = corpus16.select(element_at(call_function("graft_ivf_cells",
            col("embedding"), lit(modelId), lit(1)), 1).as("cell"))
          .agg(countDistinct(col("cell"))).head.getLong(0)
        val secs = (System.nanoTime() - t0) / 1e9
        graft.similarity.IvfModels.remove(modelId)
        println(f"[scale-ivfassign] nlist=$nlist%5d vecs=$nVecs%8d " +
          f"cells_hit=$cells%5d secs=$secs%.2f")
        // NO per-iteration block sweep: corpus16 is one localCheckpoint
        // shared by all three nlist readings — releasing it mid-loop kills
        // the checkpoint blocks the next reading scans
      }
      Blocks.releaseAll(spark)
      spark.stop()
      return
    }

    val base = Sources.table(spark, dir, "documents")
    // JIT/codegen warmup so the 1× row measures the engine, not JVM spin-up
    Dedup.minhashNearDuplicates(
      LlmQueries.withPlantedNearDups(base.limit(500)), threshold = 0.3).count()
    Blocks.releaseAll(spark)
    for (mult <- Seq(1, 4, 16)) {
      val corpus = (0 until mult).map { i =>
        base.select((col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
          regexp_replace(col("text"), "(\\S+)", "$1_c" + i).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
      val d = LlmQueries.withPlantedNearDups(corpus)
      val t0 = System.nanoTime()
      val cands = Dedup.minhashNearDuplicates(d, threshold = 0.3)
      val verified = Dedup.verifyJaccard(d, cands).where(col("jaccard") >= 0.5).count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[scale] mult=$mult%2d docs=${mult * 2 * base.count()}%8d " +
        f"verified_pairs=$verified%8d secs=$secs%.2f")
      Blocks.releaseAll(spark)
    }

    // ANN LSH: corpus multiplied by jittered copies (distinct vectors, so
    // bucket occupancy grows linearly — the realistic growth mode), fixed
    // 50-probe batch. Measures the bucketed equi-join's corpus scaling.
    val emb = Sources.table(spark, dir, "embeddings")
    Ann.lshTopK(emb, emb.limit(5), k = 5, tables = 8, bits = 4).count()
    Blocks.releaseAll(spark)
    for (mult <- Seq(1, 4, 16)) {
      val corpus = (0 until mult).map { i =>
        emb.select((col("vec_id") + lit(i.toLong * 10000000L)).as("vec_id"),
          transform(col("embedding"),
            x => x + lit(i.toFloat * 0.01f)).as("embedding"), col("label"))
      }.reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint()
      val probes = corpus.where(col("vec_id") < 50)
      val t0 = System.nanoTime()
      val n = Ann.lshTopK(corpus, probes, k = 10, tables = 8, bits = 6).count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[scale-ann] mult=$mult%2d vecs=${corpus.count()}%8d " +
        f"results=$n%6d secs=$secs%.2f")
      Blocks.releaseAll(spark)
    }

    // Connected components: planted 2-chains (the dedup-cluster shape)
    // multiplied; rounds stay O(diameter), per-round cost linear in edges.
    for (mult <- Seq(1, 4, 16)) {
      val n = mult.toLong * 2000L
      val ids = spark.range(0, n).select(col("id"))
      // chains of 3 nodes with a gap every third id; the range guard keeps
      // the last chain's dst inside the generated node set
      val edges = ids.select(col("id").as("src"), (col("id") + 1).as("dst"))
        .where(col("id") % 3 =!= 2 && col("id") + 1 < n)
      val nEdges = edges.count()
      val t0 = System.nanoTime()
      val nClusters = Dedup.connectedComponents(edges)
        .agg(countDistinct(col("component"))).head().getLong(0)
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[scale-cc] mult=$mult%2d edges=$nEdges%8d " +
        f"clusters=$nClusters%8d secs=$secs%.2f")
      Blocks.releaseAll(spark)
    }

    // Funnel: events multiplied with fresh user ids (realistic growth —
    // more users, same per-user history). Measures the shared-Exchange
    // staged-window chain: cost must track the single user_id shuffle.
    val ev = Sources.table(spark, dir, "events")
    graft.operators.Analytics.queries("q_funnel")(spark, dir).count()
    Blocks.releaseAll(spark)
    for (mult <- Seq(1, 4, 16)) {
      val events = (0 until mult).map { i =>
        ev.select(col("event_id"), col("ts"),
          (col("user_id") + lit(i.toLong * 10000000L)).as("user_id"),
          col("event_type"), col("value"), col("props"))
      }.reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint()
      val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      val t0 = System.nanoTime()
      val staged = events
        .withColumn("v_ts", min(when(col("event_type") === "view", col("ts"))).over(w))
        .withColumn("c_ts", min(when(col("event_type") === "click" &&
          col("ts") > col("v_ts"), col("ts"))).over(w))
        .withColumn("p_ts", min(when(col("event_type") === "purchase" &&
          col("ts") > col("c_ts"), col("ts"))).over(w))
        .groupBy("user_id")
        .agg(max("v_ts").as("v"), max("c_ts").as("c"), max("p_ts").as("p"))
        .agg(count(lit(1)), count(col("v")), count(col("c")), count(col("p")))
        .head()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[scale-funnel] mult=$mult%2d events=${events.count()}%9d " +
        f"users=${staged.getLong(0)}%8d secs=$secs%.2f")
      Blocks.releaseAll(spark)
    }

    // RRF fusion: corpus multiplied by jittered copies, fixed query
    // vector. Measures the distributed TakeOrdered top-k: per-partition
    // heaps mean cost tracks the scan, not a global sort.
    for (mult <- Seq(1, 4, 16)) {
      val corpus = (0 until mult).map { i =>
        emb.select((col("vec_id") + lit(i.toLong * 10000000L)).as("vec_id"),
          transform(col("embedding"),
            x => x + lit(i.toFloat * 0.01f)).as("embedding"), col("label"))
      }.reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint()
      val q = corpus.where(col("vec_id") === 1).select(col("embedding").as("qv"))
      def scored = corpus.where(col("vec_id") > 1).crossJoin(broadcast(q))
        .select(col("vec_id"),
          graft.similarity.Ann.dot(col("embedding"), col("qv")).as("s"))
      val t0 = System.nanoTime()
      val top = scored.orderBy(col("s").desc, col("vec_id")).limit(50)
        .unionByName(scored.orderBy(col("s").asc, col("vec_id")).limit(50))
        .count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[scale-rrf] mult=$mult%2d vecs=${corpus.count()}%8d " +
        f"fused=$top%4d secs=$secs%.2f")
      Blocks.releaseAll(spark)
    }

    // PageRank: disjoint graph copies (per-copy id offsets — realistic
    // growth: more communities, constant diameter). Rounds are fixed at 5,
    // so wall time must track the edge count: the per-round rank shuffle
    // is node-sized and the contribution aggregate map-side combines.
    val li = Sources.table(spark, dir, "lineitem")
    graft.operators.Graph.pagerank(
      graft.operators.Graph.copurchaseEdges(li.limit(2000)), iters = 2).count()
    Blocks.releaseAll(spark)
    for (mult <- Seq(1, 4, 16)) {
      val base = graft.operators.Graph.copurchaseEdges(li)
      val edges = (0 until mult).map { i =>
        base.select((col("src") + lit(i.toLong * 10000000000L)).as("src"),
          (col("dst") + lit(i.toLong * 10000000000L)).as("dst"))
      }.reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint()
      val nEdges = edges.count()
      val t0 = System.nanoTime()
      val n = graft.operators.Graph.pagerank(edges, iters = 5).count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[scale-pagerank] mult=$mult%2d edges=$nEdges%9d " +
        f"nodes=$n%8d secs=$secs%.2f")
      Blocks.releaseAll(spark)
    }

    // k-means (full-corpus Lloyd's): jittered vector copies — fresh ids,
    // distinct points, same cluster structure. Fixed k and iters ⇒ cost
    // must track the per-iteration scan; the recompute shuffle is k·dim
    // rows per task regardless of corpus size.
    Ann.kmeansLloyd(emb.limit(200), k = 4, iters = 1)
    Blocks.releaseAll(spark)
    for (mult <- Seq(1, 4, 16)) {
      val corpus = (0 until mult).map { i =>
        emb.select((col("vec_id") + lit(i.toLong * 10000000L)).as("vec_id"),
          transform(col("embedding"),
            x => x + lit(i.toFloat * 0.01f)).as("embedding"), col("label"))
      }.reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint()
      val t0 = System.nanoTime()
      val (_, assigned) = Ann.kmeansLloyd(corpus, k = 8, iters = 3)
      val n = assigned.count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[scale-kmeans] mult=$mult%2d vecs=$n%8d secs=$secs%.2f")
      Blocks.releaseAll(spark)
    }

    // Triangle counting: disjoint graph copies (offset part+order keys) —
    // realistic growth keeps per-node degree constant, so wedges and
    // triangles grow linearly and the degree-ordered closure must track
    // the edge count, not m^1.5. Same 10%-order slice as q_triangles
    // (full sf0.1 is 41M wedges ×16 — a batch census, not a probe).
    val liSlice = li.where(col("l_orderkey") % 10 === 0)
    graft.operators.Graph.triangleStats(
      graft.operators.Graph.partPairEdges(liSlice.limit(2000))).head()
    Blocks.releaseAll(spark)
    for (mult <- Seq(1, 4, 16)) {
      val liBig = (0 until mult).map { i =>
        liSlice.select((col("l_orderkey") + lit(i.toLong * 100000000L)).as("l_orderkey"),
          (col("l_partkey") + lit(i.toLong * 100000000L)).as("l_partkey"))
      }.reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint()
      val t0 = System.nanoTime()
      val r = graft.operators.Graph.triangleStats(
        graft.operators.Graph.partPairEdges(liBig)).head()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[scale-triangles] mult=$mult%2d edges=${r.getLong(1)}%9d " +
        f"triangles=${r.getLong(2)}%9d secs=$secs%.2f")
      Blocks.releaseAll(spark)
    }

    // Line-level dedup: per-copy token suffixes (copies share no blocks) —
    // the md5-keyed first-occurrence window and the reassembly must both
    // track line cardinality.
    for (mult <- Seq(1, 4, 16)) {
      val corpus = (0 until mult).map { i =>
        base.select((col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
          regexp_replace(col("text"), "(\\S+)", "$1_c" + i).as("text"))
      }.reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint()
      val toks = graft.text.TextOps.tokens(col("text"))
      val t0 = System.nanoTime()
      val blocks = corpus
        .select(col("doc_id"), toks.as("toks"), size(toks).as("n"))
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(1), col("n"), lit(16))).as("start"))
        .select(col("doc_id"), col("start"),
          concat_ws(" ", slice(col("toks"), col("start"), lit(16))).as("bt"))
      val kept = blocks.withColumn("rn",
          org.apache.spark.sql.functions.row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(md5(col("bt"))).orderBy(col("doc_id"), col("start"))))
        .groupBy("doc_id")
        .agg(sum(when(col("rn") === 1, 1L).otherwise(0L)).as("k"))
        .agg(sum("k")).head().getLong(0)
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[scale-linededup] mult=$mult%2d kept_blocks=$kept%9d secs=$secs%.2f")
      Blocks.releaseAll(spark)
    }

    // Top-k per group: the two-phase heap operator vs the window-rank
    // form, same data, same k — measures the claim that the heap shuffles
    // survivors while the window shuffles AND SORTS everything.
    val orders = Sources.table(spark, dir, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
    graft.operators.TopK.topKPerGroup(orders.limit(1000),
      Seq("o_orderpriority"), "o_totalprice", "o_orderkey", 5).count()
    Blocks.releaseAll(spark)
    for (mult <- Seq(1, 4, 16)) {
      val big = (0 until mult).map { i =>
        orders.select(col("o_orderpriority"),
          (col("o_orderkey") + lit(i.toLong * 100000000L)).as("o_orderkey"),
          (col("o_totalprice") + lit(i * 0.001)).as("o_totalprice"))
      }.reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint()
      val t0 = System.nanoTime()
      graft.operators.TopK.topKPerGroup(big,
        Seq("o_orderpriority"), "o_totalprice", "o_orderkey", 5)
        .write.format("noop").mode("overwrite").save()
      val heapSecs = (System.nanoTime() - t0) / 1e9
      val t2 = System.nanoTime()
      big.withColumn("rank",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy("o_orderpriority")
            .orderBy(col("o_totalprice").desc, col("o_orderkey"))))
        .where(col("rank") <= 5)
        .write.format("noop").mode("overwrite").save()
      val winSecs = (System.nanoTime() - t2) / 1e9
      println(f"[scale-topk] mult=$mult%2d rows=${big.count()}%9d " +
        f"heap=$heapSecs%.2f window=$winSecs%.2f")
      Blocks.releaseAll(spark)
    }
    // Exact set-similarity join: per-copy token suffixes (copies share no
    // shingles, so the df table and candidate set grow LINEARLY — real
    // corpus growth, no manufactured quadratic pair set). Measures the
    // rarest-first prefix equi-join + verify machinery against corpus size.
    Dedup.setSimJoinPrefix(
      LlmQueries.withPlantedNearDups(base.limit(300)), threshold = 0.5).count()
    Blocks.releaseAll(spark)
    for (mult <- Seq(1, 4, 16)) {
      val corpus = (0 until mult).map { i =>
        base.select((col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
          regexp_replace(col("text"), "(\\S+)", "$1_c" + i).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
      val d = LlmQueries.withPlantedNearDups(corpus).localCheckpoint()
      val t0 = System.nanoTime()
      val pairs = Dedup.setSimJoinPrefix(d, threshold = 0.5).count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[scale-setsim] mult=$mult%2d docs=${mult * 2 * base.count()}%8d " +
        f"pairs=$pairs%8d secs=$secs%.2f")
      Blocks.releaseAll(spark)
    }

    // Butterfly census: disjoint bipartite copies (offset cust+part keys) —
    // constant degrees, so wedges/butterflies grow linearly and the
    // anchor-side pair join must track edge count.
    val ordSlice = Sources.table(spark, dir, "orders")
      .where(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), col("o_custkey"))
    graft.operators.Graph.butterflyStats(graft.operators.Graph.custPartEdges(
      Sources.table(spark, dir, "orders").where(col("o_orderkey") % 10 === 0)
        .limit(500),
      liSlice)).head()
    Blocks.releaseAll(spark)
    for (mult <- Seq(1, 4, 16)) {
      val oBig = (0 until mult).map { i =>
        ordSlice.select((col("o_orderkey") + lit(i.toLong * 100000000L)).as("o_orderkey"),
          (col("o_custkey") + lit(i.toLong * 100000000L)).as("o_custkey"))
      }.reduce(_ unionByName _).localCheckpoint()
      val liBig = (0 until mult).map { i =>
        liSlice.select((col("l_orderkey") + lit(i.toLong * 100000000L)).as("l_orderkey"),
          (col("l_partkey") + lit(i.toLong * 100000000L)).as("l_partkey"))
      }.reduce(_ unionByName _).localCheckpoint()
      val t0 = System.nanoTime()
      val r = graft.operators.Graph.butterflyStats(
        graft.operators.Graph.custPartEdges(oBig, liBig)).head()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[scale-butterflies] mult=$mult%2d edges=${r.getLong(2)}%9d " +
        f"butterflies=${r.getLong(3)}%9d secs=$secs%.2f")
      Blocks.releaseAll(spark)
    }

    // Association rules: order copies with OFFSET orderkeys over the SAME
    // part catalog (realistic growth — more baskets, fixed assortment).
    // The per-order pair join grows linearly in lineitem; the (a,b) pair
    // aggregate map-side combines, and its output is bounded by the
    // distinct co-purchased pair count (catalog², not corpus).
    val liPairs = li.select(col("l_orderkey"), col("l_partkey"))
    for (mult <- Seq(1, 4, 16)) {
      val liBig = (0 until mult).map { i =>
        liPairs.select(
          (col("l_orderkey") + lit(i.toLong * 100000000L)).as("ok"),
          col("l_partkey").as("pk"))
      }.reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint()
      val items = liBig.distinct()
      val t0 = System.nanoTime()
      val aa = items.select(col("ok"), col("pk").as("part_a"))
      val bb = items.select(col("ok"), col("pk").as("part_b"))
      val pairSupp = aa.join(bb, Seq("ok"))
        .where(col("part_a") < col("part_b"))
        .groupBy("part_a", "part_b").agg(count(lit(1)).as("supp_ab"))
      val itemSupp = items.groupBy("pk").agg(count(lit(1)).as("supp"))
      val top = pairSupp
        .join(broadcast(itemSupp.select(col("pk").as("part_a"),
          col("supp").as("supp_a"))), Seq("part_a"))
        .join(broadcast(itemSupp.select(col("pk").as("part_b"),
          col("supp").as("supp_b"))), Seq("part_b"))
        .orderBy(col("supp_ab").desc, col("part_a"), col("part_b"))
        .limit(20).count()
      val secs = (System.nanoTime() - t0) / 1e9
      val nPairs = pairSupp.count()
      println(f"[scale-assoc] mult=$mult%2d items=${items.count()}%9d " +
        f"pairs=$nPairs%9d top=$top%3d secs=$secs%.2f")
      Blocks.releaseAll(spark)
    }

    // BFS levels: DISJOINT graph copies (offset order+part keys) — the
    // seed's component stays constant while the total graph grows 16×.
    // This measures the property a frontier search must have at 100 TB:
    // per-round cost tracks the FRONTIER's adjacency probes, not the
    // total edge count — a seed exploration of a huge graph must not pay
    // for the unreachable remainder. (Growing the reachable component
    // itself is not a realistic knob here: distinct co-purchase pairs
    // saturate under order multiplication over a fixed catalog.)
    val liBfsBase = liPairs.where(col("l_orderkey") % 10 === 0)
    for (mult <- Seq(1, 4, 16)) {
      val liBig = (0 until mult).map { i =>
        liBfsBase.select(
          (col("l_orderkey") + lit(i.toLong * 100000000L)).as("l_orderkey"),
          (col("l_partkey") + lit(i.toLong * 100000000L)).as("l_partkey"))
      }.reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
      val und = graft.operators.Graph.partPairEdges(liBig).localCheckpoint()
      val nE = und.count()
      val src = und.agg(min(col("u"))).head.getLong(0)
      val t0 = System.nanoTime()
      val (distF, sizes) = graft.operators.Graph.bfsLevels(und, src, rounds = 8)
      val reached = distF.count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[scale-bfs] mult=$mult%2d edges=$nE%9d reached=$reached%8d " +
        f"rounds_used=${sizes.takeWhile(_ > 0).length}%2d secs=$secs%.2f")
      Blocks.releaseAll(spark)
    }

    // MS-BFS closeness (round 9): the SAME disjoint copies, but now the
    // mod-97 seed set grows ~mult× WITH the graph (every copy contributes
    // its shifted seeds) — so this measures the bitmask vectorization
    // claim directly: total work ≈ Σ per-copy closeness, i.e. LINEAR in
    // (graph × seeds), never |seeds|·|nodes| state. A super-linear curve
    // here would mean the bit-explode or the seen-mask join broke.
    for (mult <- Seq(1, 4, 16)) {
      val liBig = (0 until mult).map { i =>
        liBfsBase.select(
          (col("l_orderkey") + lit(i.toLong * 100000000L)).as("l_orderkey"),
          (col("l_partkey") + lit(i.toLong * 100000000L)).as("l_partkey"))
      }.reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
      val und = graft.operators.Graph.partPairEdges(liBig).localCheckpoint()
      val nE = und.count()
      val t0 = System.nanoTime()
      val rows = graft.operators.Graph.closeness(und, rounds = 8)
      val nSeeds = rows.count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[scale-closeness] mult=$mult%2d edges=$nE%9d " +
        f"seeds=$nSeeds%5d secs=$secs%.2f")
      Blocks.releaseAll(spark)
    }

    // Theil–Sen: orders multiplied 16× WITHIN the same calendar (extra
    // copies land on existing days) — the claim under test is that the
    // O(days²) pair census is CORPUS-INVARIANT: only the daily-aggregate
    // scan grows with volume, the slope-median cost is pinned by the
    // calendar. A flat-ish curve here is the whole 100 TB argument for
    // every calendar-bounded operator in the suite.
    val ordersBase = Sources.table(spark, dir, "orders")
    for (mult <- Seq(1, 4, 16)) {
      val big = (0 until mult).map { i =>
        ordersBase.select(
          (col("o_orderkey") + lit(i.toLong * 100000000L)).as("o_orderkey"),
          col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
          col("o_orderdate"), col("o_orderpriority"))
      }.reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint()
      val nOrders = big.count()
      val cents = ColumnOps.cents(col("o_totalprice"))
      val t0 = System.nanoTime()
      val daily = big.groupBy(datediff(to_date(col("o_orderdate")),
          lit("1995-01-01").cast("date")).as("x"))
        .agg(sum(cents).as("y"))
      val a = daily.select(col("x").as("x1"), col("y").as("y1"))
      val b = daily.select(col("x").as("x2"), col("y").as("y2"))
      val nPairs = a.join(broadcast(b), col("x1") < col("x2"))
        .select(((col("y2") - col("y1")).cast("double") /
          (col("x2") - col("x1")).cast("double")).as("sl"))
        .agg(count(lit(1)), expr("percentile(sl, 0.5)")).head.getLong(0)
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[scale-theilsen] mult=$mult%2d orders=$nOrders%9d " +
        f"pairs=$nPairs%9d secs=$secs%.2f")
      Blocks.releaseAll(spark)
    }

    // Hodges–Lehmann shift (round 11): the q_theil_sen claim for the
    // OTHER pair-census query — order copies land on the SAME calendar,
    // so the 1998×1997 daily-difference pair frame is ≤366² REGARDLESS
    // of volume; only the daily aggregate scan may grow.
    for (mult <- Seq(1, 4, 16)) {
      val big = (0 until mult).map { i =>
        ordersBase.select(
          (col("o_orderkey") + lit(i.toLong * 100000000L)).as("o_orderkey"),
          col("o_totalprice"), col("o_orderdate"))
      }.reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint()
      val nOrders = big.count()
      val cents = ColumnOps.cents(col("o_totalprice"))
      val t0 = System.nanoTime()
      val daily = big.groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(cents).as("rev"))
      def yr(y: Int) = daily.where(year(col("day")) === y)
      val hl = yr(1998).select(col("rev").as("ra"))
        .crossJoin(broadcast(yr(1997).select(col("rev").as("rb"))))
        .select((col("ra") - col("rb")).as("d"))
        .agg(count(lit(1)), expr("percentile(d, 0.5)")).head.getLong(0)
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[scale-hl] mult=$mult%2d orders=$nOrders%9d " +
        f"pairs=$hl%8d secs=$secs%.2f")
      Blocks.releaseAll(spark)
    }

    // Temporal-reciprocity: orders+lineitem multiplied as disjoint
    // customer histories (offset cust/order keys) — the per-customer LEAD
    // window and the order-size²-bounded part joins must scale LINEARLY
    // in order volume; the reverse-edge semi-join carries edge
    // cardinality only.
    val liFull = Sources.table(spark, dir, "lineitem")
    for (mult <- Seq(1, 4, 16)) {
      val bigO = (0 until mult).map { i =>
        ordersBase.select(
          (col("o_orderkey") + lit(i.toLong * 100000000L)).as("o_orderkey"),
          (col("o_custkey") + lit(i.toLong * 100000000L)).as("o_custkey"),
          col("o_orderdate"))
      }.reduce(_ unionByName _)
      val bigL = (0 until mult).map { i =>
        liFull.select(
          (col("l_orderkey") + lit(i.toLong * 100000000L)).as("l_orderkey"),
          col("l_partkey"))
      }.reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
      val t0 = System.nanoTime()
      val r = graft.operators.Graph.reciprocity(
        graft.operators.Graph.temporalCopurchaseEdges(bigO, bigL)).head
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[scale-reciprocity] mult=$mult%2d edges=${r.getLong(0)}%9d " +
        f"reciprocal=${r.getLong(1)}%9d secs=$secs%.2f")
      Blocks.releaseAll(spark)
    }
    spark.stop()
  }
}
