package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import scala.util.Random
import graft.functions.ColumnOps.r6

/** Similarity search over an embedding column (`embeddings` table:
  * vec_id, embedding Array[Float], label).
  *
  * Two paths, as a scale ladder:
  *  - brute-force cosine top-k: the exact baseline. A SMALL probe batch is
  *    broadcast against the corpus — one corpus scan per batch, cost
  *    O(|probes|·N). This is a broadcast nested-loop by construction (the
  *    probe side is bounded, the corpus side streams); it is NOT an
  *    all-pairs corpus×corpus join.
  *  - random-hyperplane LSH (Charikar 2002 SimHash-for-cosine): L tables of
  *    H sign-bits; candidates come from equi-joins on (table, bucket);
  *    exact cosine is computed only within buckets. Sub-linear candidate
  *    sets at 100 TB; recall tuned by (L, H).
  *
  * All vector math routes through the native codegen dot product
  * (`vec_dot`, [[VecOps.dot]]) — no UDF, no interpreted lambdas, no
  * driver loop.
  */
object Ann {

  /** Elementwise dot product of two array columns via the native codegen
    * kernel ([[VecOps.dot]] — registered as `vec_dot`); the HOF
    * form it replaces paid an interpreted lambda per element. Resolves in
    * any session built with `spark.sql.extensions=graft.GraftExtensions`
    * (as [[graft.Sessions.local]] builds them).
    */
  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k neighbours for each probe vector. `probes` must be small
    * (it is broadcast); the native vec_dot scores one corpus pass, then a
    * TWO-PHASE top-k: bounded per-partition heaps keep k candidates per
    * probe locally, so the shuffle carries partitions × |probes| × k rows
    * instead of N × |probes| — the difference between a merge of scraps
    * and a cluster-wide sort at 100 TB.
    */
  def bruteForceTopK(corpus: DataFrame, probes: DataFrame, k: Int = 10): DataFrame = {
    val session = corpus.sparkSession
    import session.implicits._
    val c = corpus.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("c_norm"))
    val p = probes.select(col("vec_id").as("probe_id"),
      col("embedding").as("probe_vec"), norm(col("embedding")).as("p_norm"))
    val scored = c.join(broadcast(p),
        col("vec_id") =!= col("probe_id"), "inner")
      .select(col("probe_id"), col("vec_id"),
        (dot(col("embedding"), col("probe_vec")) / (col("c_norm") * col("p_norm"))).as("cos"))
      .as[(Long, Long, Double)]

    // phase 1: one bounded min-heap per probe per partition
    val partial = scored.mapPartitions { iter =>
      val heaps = scala.collection.mutable.HashMap
        .empty[Long, scala.collection.mutable.PriorityQueue[(Double, Long)]]
      // min-heap via reversed ordering on (cos, then vec_id desc so the
      // kept set matches an ascending-vec_id tie-break)
      val ord = Ordering.by[(Double, Long), (Double, Long)] { case (c0, id) => (-c0, id) }
      iter.foreach { case (pid, vid, cos) =>
        val h = heaps.getOrElseUpdate(pid,
          scala.collection.mutable.PriorityQueue.empty[(Double, Long)](ord))
        if (h.size < k) h.enqueue((cos, vid))
        else if (ord.lt((cos, vid), h.head)) { h.dequeue(); h.enqueue((cos, vid)) }
      }
      heaps.iterator.flatMap { case (pid, h) => h.iterator.map { case (c0, v) => (pid, v, c0) } }
    }
    // phase 2: merge the scraps (partitions × k per probe) and rank
    partial.groupByKey(_._1)
      .flatMapGroups { (pid, rows) =>
        rows.toSeq.sortBy { case (_, v, c0) => (-c0, v) }.take(k).zipWithIndex
          .map { case ((_, v, c0), i) => (pid, v, c0, i + 1) }
      }
      .toDF("probe_id", "vec_id", "cos", "rank")
  }

  /** Exact cosine pairs (cos ≥ threshold) over a BOUNDED corpus slice —
    * the brute-force anchor for [[cosineNearDuplicates]]'s LSH path, the
    * way [[bruteForceTopK]] anchors [[lshTopK]]. The slice must be small
    * enough to broadcast (it appears on both join sides); this is the
    * correctness oracle, not the 100 TB path.
    */
  def bruteForcePairs(slice: DataFrame, threshold: Double): DataFrame = {
    val a = slice.select(col("vec_id").as("id_a"), col("embedding").as("vec_a"))
    val b = slice.select(col("vec_id").as("id_b"), col("embedding").as("vec_b"))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), cosine(col("vec_a"), col("vec_b")).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Exact cosine pairs between a BOUNDED probe slice and the full corpus
    * (pairs ordered probe < corpus id, i.e. every pair whose smaller id is
    * in the slice). The probe side broadcasts; the corpus streams — cost is
    * O(|probes| · n), linear in the corpus like [[bruteForceTopK]], never
    * the all-pairs O(n²). The exact-recall anchor usable at any SF.
    */
  def bruteForcePairsAgainst(probes: DataFrame, corpus: DataFrame,
      threshold: Double): DataFrame = {
    val a = probes.select(col("vec_id").as("id_a"), col("embedding").as("vec_a"))
    val b = corpus.select(col("vec_id").as("id_b"), col("embedding").as("vec_b"))
    b.join(broadcast(a), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), cosine(col("vec_a"), col("vec_b")).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Deterministic random hyperplanes: `tables` × `bits` planes in `dim`
    * dimensions, from a fixed seed.
    */
  private def hyperplanes(tables: Int, bits: Int, dim: Int, seed: Long): Array[Array[Array[Double]]] = {
    val rng = new Random(seed)
    Array.fill(tables, bits, dim)(rng.nextGaussian())
  }

  /** LSH bucket ids, one per table, as an array column. Bucket = H sign
    * bits of hyperplane projections packed into an int.
    */
  def lshBuckets(vec: Column, tables: Int = 4, bits: Int = 12, dim: Int = 64,
      seed: Long = 42L): Column = {
    val planes = hyperplanes(tables, bits, dim, seed)
    array(planes.toIndexedSeq.map { tablePlanes =>
      tablePlanes.zipWithIndex.map { case (plane, i) =>
        val planeLit = array(plane.toIndexedSeq.map(lit): _*)
        when(dot(vec, planeLit) > 0, lit(1 << i)).otherwise(lit(0))
      }.reduce(_ + _)
    }: _*)
  }

  /** Approximate top-k: candidates share an LSH bucket in ≥1 table; exact
    * cosine only within candidates. Equi-join on (table, bucket) — no
    * crossJoin anywhere in the plan.
    */
  def lshTopK(corpus: DataFrame, probes: DataFrame, k: Int = 10,
      tables: Int = 4, bits: Int = 12, dim: Int = 64, seed: Long = 42L): DataFrame = {
    def withBuckets(df: DataFrame, idAs: String, vecAs: String): DataFrame =
      df.select(col("vec_id").as(idAs), col("embedding").as(vecAs),
          posexplode(lshBuckets(col("embedding"), tables, bits, dim, seed)))
        .withColumnsRenamed(Map("pos" -> "table_id", "col" -> "bucket"))
    val c = withBuckets(corpus, "vec_id", "c_vec")
    val p = withBuckets(probes, "probe_id", "p_vec")
    // cosine computed per bucket match, BEFORE the pair dedup: a pair
    // colliding in several tables scores redundantly (cheap, codegen'd),
    // but the dedup groupBy then shuffles 3 scalars per row instead of two
    // full embedding vectors — the vector bytes never leave the join stage
    val scored = c.join(p, Seq("table_id", "bucket"))
      .where(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        cosine(col("p_vec"), col("c_vec")).as("cos"))
      .groupBy("probe_id", "vec_id")
      .agg(max(col("cos")).as("cos"))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** IVF (inverted-file) approximate top-k — the second scale path next to
    * LSH, per the standard ANN ladder (Jégou–Douze–Schmid 2011 IVFADC,
    * minus the PQ compression): partition the corpus into `nlist` Voronoi
    * cells around KMeans centroids, then search only the `nprobe` cells
    * nearest each probe.
    *
    * Plan shape: centroids are FIT once (driver-local Lloyd on a bounded
    * content-addressed sample — at 100 TB you fit on a ≤16k-row sample,
    * never the full corpus), then ship once inside the plan as an
    * [[IvfModel]]. Cell assignment is the [[IvfModel.cells]] codegen
    * kernel — nearest-in-L2 via dot(v,c) − ‖c‖²/2, no per-row norm, equal
    * scores to the larger cell id — at any `nlist` (a 100 TB deployment
    * runs tens of thousands of cells). The search is a plain equi-join on
    * the cell id: corpus rows land in exactly one cell and each probe
    * explodes to `nprobe` cells, so there are no duplicate candidate pairs
    * and no dedup aggregate (cheaper than the LSH path, which must
    * max-merge multi-table collisions). `nprobe` above `nlist` searches
    * every cell; `nprobe` below 1 fails when the frame is built.
    */
  def ivfTopK(corpus: DataFrame, probes: DataFrame, k: Int = 10, nlist: Int = 16,
      nprobe: Int = 4, seed: Long = 42L, sampleFraction: Double = 1.0,
      maxIter: Int = 10): DataFrame = {
    val model = new IvfModel(fitCentroids(corpus, nlist, seed, sampleFraction, maxIter))
    val c = corpus.select(col("vec_id"), col("embedding"),
      nearestCell(model, col("embedding")).as("cell"))
    val p = probes.select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"),
      explode(model.column(col("embedding"), nprobe)).as("cell"))
    ivfSearch(c, p, k)
  }

  /** The nearest cell of the embedding column `vec` under `model`. */
  private def nearestCell(model: IvfModel, vec: Column): Column =
    element_at(model.column(vec, 1), 1)

  /** Product-quantization ANN (Jégou–Douze–Schmid 2011, "Product
    * quantization for nearest neighbor search" — the FAISS IVF-PQ family's
    * compression half): split the d-dim embedding into `m` subspaces,
    * k-means each subspace into `ksub` codewords (fit on a seeded sample,
    * never the corpus), and represent every vector by its m nearest-
    * codeword codes — m bytes per vector at ksub ≤ 256, vs 4·d bytes raw;
    * the representation a 100 TB vector corpus actually keeps in memory.
    * Search scores probes against the RECONSTRUCTION (codeword concat),
    * which is exactly the asymmetric-distance (ADC) ranking: the distance
    * to the reconstruction equals the per-subspace table-lookup sum.
    *
    * Plan shape: m driver-local Lloyd fits on ONE collected bounded sample;
    * encoding + reconstruction is a shuffle-free projection (per-subspace
    * [[IvfModel.cells]] kernels + codeword lookup from nested
    * literals); scoring is the brute shape — bounded probe batch broadcast
    * against one corpus scan, per-probe bounded window. Returns
    * (probe_id, vec_id, cos, rank) like the other top-k paths.
    */
  def pqTopK(corpus: DataFrame, probes: DataFrame, k: Int = 10, m: Int = 8,
      ksub: Int = 16, seed: Long = 42L, sampleFraction: Double = 1.0,
      maxIter: Int = 10): DataFrame = {
    val codebooks = pqCodebooks(corpus, m, ksub, seed, sampleFraction, maxIter)
    val c = corpus.select(col("vec_id"), pqRecon(codebooks).as("recon"))
    val p = probes.select(col("vec_id").as("probe_id"),
      col("embedding").as("probe_vec"), norm(col("embedding")).as("p_norm"))
    val scored = c.join(broadcast(p), col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        (dot(col("recon"), col("probe_vec"))
          / (norm(col("recon")) * col("p_norm"))).as("cos"))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** IVF-PQ (the full FAISS shape, modulo residual encoding — codebooks
    * quantize RAW vectors here; residuals are the documented refinement):
    * coarse KMeans cells bound the candidate set (only `nprobe` cells per
    * probe are searched — the IVF pruning), and within candidates the
    * ranking runs on the PQ reconstruction (the 16-bytes-per-vector
    * representation — the PQ compression). At 100 TB the corpus keeps
    * ONLY (vec_id, cell, codes); neither raw vectors nor any unbounded
    * pair set ever shuffles: candidates come from the (cell) equi-join,
    * exactly q_ann_ivf's join geometry, and scoring is projection math.
    */
  def ivfPqTopK(corpus: DataFrame, probes: DataFrame, k: Int = 10,
      nlist: Int = 16, nprobe: Int = 4, m: Int = 8, ksub: Int = 16,
      seed: Long = 42L, sampleFraction: Double = 1.0,
      maxIter: Int = 10): DataFrame = {
    val coarse = new IvfModel(fitCentroids(corpus, nlist, seed, sampleFraction, maxIter))
    val codebooks = pqCodebooks(corpus, m, ksub, seed, sampleFraction, maxIter)
    val c = corpus.select(col("vec_id"),
      nearestCell(coarse, col("embedding")).as("cell"),
      pqRecon(codebooks).as("recon"))
    val p = probes.select(col("vec_id").as("probe_id"),
      col("embedding").as("probe_vec"), norm(col("embedding")).as("p_norm"),
      explode(coarse.column(col("embedding"), nprobe)).as("cell"))
    val scored = c.join(p, Seq("cell"))
      .where(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        (dot(col("recon"), col("probe_vec"))
          / (norm(col("recon")) * col("p_norm"))).as("cos"))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Per-subspace codebooks (m × ksub × d/m), trained DRIVER-LOCAL on one
    * bounded sample (see [[trainSample]]) — codebook training is always
    * sample-bounded work (FAISS trains on ~10⁴–10⁶ vectors regardless of
    * corpus size), so running m tiny k-means fits as distributed jobs buys
    * nothing and pays m × iters job-scheduling round-trips. ONE collect
    * feeds all m subspace fits.
    */
  private def pqCodebooks(corpus: DataFrame, m: Int, ksub: Int, seed: Long,
      sampleFraction: Double, maxIter: Int): Array[Array[Array[Double]]] = {
    val rows = trainSample(corpus, sampleFraction, seed)
    val dim = rows(0).length
    require(dim % m == 0, s"pq: dim $dim does not split into $m subspaces")
    val dsub = dim / m
    (0 until m).map { j =>
      val sub = rows.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
      localLloyd(sub, ksub, maxIter)
    }.toArray
  }

  /** The bounded training sample every codebook/centroid fit runs on:
    * optional seeded pre-sample, then the `cap` rows with the smallest
    * (md5(vec_id), vec_id) — the repo's content-addressed seedless pick
    * (same idiom as [[kmeansLloyd]] init), so the sample is reproducible
    * across partitionings and corpus order and the TakeOrdered never
    * materializes a global sort. At 100 TB `sampleFraction` does the heavy
    * reduction and the md5 pick keeps the collect bounded at `cap` rows.
    */
  private def trainSample(corpus: DataFrame, sampleFraction: Double,
      seed: Long, cap: Int = 16384): Array[Array[Double]] = {
    val sampled = if (sampleFraction < 1.0)
      corpus.sample(withReplacement = false, sampleFraction, seed)
    else corpus
    val rows = sampled
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(cap)
      .select(col("v")).collect()
      .map(_.getSeq[Double](0).toArray)
    require(rows.nonEmpty, "codebook training sample is empty")
    rows
  }

  /** Driver-local Lloyd's k-means with deterministic Gonzalez
    * (farthest-first) init — no RNG anywhere: center 0 is the sample's
    * first point, each next center the point maximizing the min distance
    * to the chosen set (ties → lowest index). On a codeword-grid sample
    * (AnnSpec's lossless case) farthest-first provably picks distinct
    * codewords, so Lloyd converges to the grid exactly. Empty clusters
    * keep their previous center; iteration stops early at a fixpoint.
    */
  private[similarity] def localLloyd(points: Array[Array[Double]], k: Int,
      maxIter: Int): Array[Array[Double]] = {
    val n = points.length
    val d = points(0).length
    val kk = math.min(k, n)
    def sqDist(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    val centers = Array.ofDim[Array[Double]](kk)
    centers(0) = points(0).clone()
    val minD = Array.fill(n)(Double.MaxValue)
    for (c <- 1 until kk) {
      var best = 0; var bestD = -1.0; var i = 0
      while (i < n) {
        val dd = sqDist(points(i), centers(c - 1))
        if (dd < minD(i)) minD(i) = dd
        if (minD(i) > bestD) { bestD = minD(i); best = i }
        i += 1
      }
      centers(c) = points(best).clone()
    }
    var iter = 0
    var changed = true
    while (iter < maxIter && changed) {
      val sums = Array.fill(kk)(new Array[Double](d))
      val counts = new Array[Long](kk)
      var i = 0
      while (i < n) {
        val p = points(i)
        var bc = 0; var bd = sqDist(p, centers(0)); var c = 1
        while (c < kk) {
          val dd = sqDist(p, centers(c))
          if (dd < bd) { bd = dd; bc = c }
          c += 1
        }
        val s = sums(bc)
        var t = 0; while (t < d) { s(t) += p(t); t += 1 }
        counts(bc) += 1
        i += 1
      }
      changed = false
      for (c <- 0 until kk) if (counts(c) > 0) {
        val next = new Array[Double](d)
        var t = 0; while (t < d) { next(t) = sums(c)(t) / counts(c); t += 1 }
        if (!java.util.Arrays.equals(next, centers(c))) { centers(c) = next; changed = true }
      }
      iter += 1
    }
    if (kk < k) Array.tabulate(k)(i => centers(math.min(i, kk - 1)).clone())
    else centers
  }

  /** The PQ encode→decode column: per-subspace nearest codeword via the
    * [[IvfModel.cells]] kernel, codeword lookup from nested literals,
    * concat — a pure whole-stage-codegen projection.
    */
  private def pqRecon(codebooks: Array[Array[Array[Double]]]): Column = {
    val dsub = codebooks(0)(0).length
    concat(codebooks.indices.map { j =>
      val code = nearestCell(new IvfModel(codebooks(j)),
        slice(col("embedding"), j * dsub + 1, dsub))
      element_at(typedLit(codebooks(j).map(_.toSeq).toSeq), code + lit(1))
    }: _*)
  }

  /** Voronoi centroids for IVF — driver-local Lloyd on the bounded
    * [[trainSample]] (at 100 TB you fit on a ≤16k-row sample, never the
    * corpus). Cell quality saturates quickly: IVF needs a reasonable
    * partition, not a converged clustering, and the sample-sized fit costs
    * zero cluster jobs beyond the one TakeOrdered collect.
    */
  private def fitCentroids(corpus: DataFrame, nlist: Int, seed: Long,
      sampleFraction: Double, maxIter: Int): Array[Array[Double]] =
    localLloyd(trainSample(corpus, sampleFraction, seed), nlist, maxIter)

  /** Distributed Lloyd's k-means over the FULL corpus (vs [[fitCentroids]]'s
    * sample-based driver-local fit for IVF cell quality): the clustering stage of
    * cluster-based curation (SemDeDup / DSIR-style domain discovery) run
    * Spark-first.
    *
    * Per iteration: (1) assignment — the [[IvfModel.cells]] codegen
    * kernel (nearest-in-L2 argmax, deterministic larger-cid tie-break), a
    * shuffle-free projection; (2) recompute — posexplode to (cell, dim)
    * partial sums with map-side combine, so each task emits ≤ k·dim rows
    * REGARDLESS of input size and the driver collects exactly k·dim
    * aggregates (the capped-collect contract of the CLV fit). An emptied
    * cell keeps its previous centroid. Total cost: `iters` scans, one
    * k·dim-row shuffle each — no per-point driver traffic, no all-pairs
    * anything; 100 TB changes the scan time, not the shape.
    *
    * Init is content-addressed, not RNG: the k corpus points with the
    * smallest (md5(vec_id), vec_id) — reproducible across engines,
    * partitionings, and corpus order, like every other seedless pick in
    * this repo.
    *
    * Returns the final centers and the corpus with its final `cell`
    * assignment (column `v`: the embedding as array<double>).
    */
  def kmeansLloyd(corpus: DataFrame, k: Int, iters: Int): (Array[Array[Double]], DataFrame) = {
    val pts = corpus.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    var centers: Array[Array[Double]] =
      pts.orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(k)
        .select(col("v")).collect()
        .map(_.getSeq[Double](0).toArray)
    require(centers.length == k, s"kmeans: corpus has fewer than $k points")
    for (_ <- 1 to iters) {
      val sums = pts
        .select(nearestCell(new IvfModel(centers), col("v")).as("cell"),
          posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cell", "pos")
        .agg(sum("x").as("sx"), count(lit(1)).as("n"))
        .collect()
      val next = centers.map(_.clone())
      sums.groupBy(_.getInt(0)).foreach { case (cell, rows) =>
        val c = new Array[Double](centers(0).length)
        rows.foreach(r => c(r.getInt(1)) = r.getDouble(2) / r.getLong(3))
        next(cell) = c
      }
      centers = next
    }
    (centers, pts.select(col("vec_id"), col("v"),
      nearestCell(new IvfModel(centers), col("v")).as("cell")))
  }

  /** Shared IVF candidate join + exact-cosine re-rank. */
  private def ivfSearch(c: DataFrame, p: DataFrame, k: Int): DataFrame = {
    val scored = c.join(p, Seq("cell"))
      .where(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        cosine(col("probe_vec"), col("embedding")).as("cos"))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic dedup at
    * corpus scale: cluster the embedding space (KMeans centroids fit on a
    * seeded SAMPLE, never the corpus), assign every vector to its nearest
    * cell with the plan-shipped [[IvfModel.cells]] kernel, and search
    * duplicates ONLY within a cell. A vector is dropped iff some
    * lower-id vector in its cell has cosine ≥ threshold — the greedy
    * min-id-representative rule, deterministic and seedless given the
    * clustering.
    *
    * Scale shape: the within-cell self-join costs Σ|cell|² — with nlist
    * grown proportionally to the corpus (the paper uses ~10k cells for
    * LAION-scale), cell sizes stay bounded and the total is linear in
    * rows; the cluster assignment itself is one shuffle-free projection.
    * A pathologically hot cell is the same failure mode as an LSH bucket
    * flood — cap it with the [[graft.dedup.Dedup]] bucket-cap pattern if
    * the embedding space collapses.
    *
    * Returns (assigned, dropped): the cell-annotated corpus and the
    * dropped ids; the survivors are `corpus` left-anti-joined with
    * `dropped` on `vec_id`.
    * `assigned` is localCheckpointed (three readers); harness sweeps
    * release the blocks (the SparkEntry block-manager contract).
    */
  private[graft] def semDedupParts(corpus: DataFrame, nlist: Int = 16,
      threshold: Double = 0.99, seed: Long = 42L, sampleFraction: Double = 1.0,
      maxIter: Int = 10): (DataFrame, DataFrame) = {
    val model = new IvfModel(fitCentroids(corpus, nlist, seed, sampleFraction, maxIter))
    val assigned = corpus.select(col("vec_id"), col("embedding"),
        nearestCell(model, col("embedding")).as("cell"))
      .localCheckpoint()
    val a = assigned.select(col("cell"), col("vec_id").as("id_a"),
      col("embedding").as("vec_a"))
    val b = assigned.select(col("cell"), col("vec_id").as("id_b"),
      col("embedding").as("vec_b"))
    val dropped = a.join(b, Seq("cell"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_b").as("vec_id"),
        cosine(col("vec_a"), col("vec_b")).as("cos"))
      .where(col("cos") >= threshold)
      .select("vec_id").distinct()
    (assigned, dropped)
  }

  /** Embedding-cosine near-duplicate pairs (cos ≥ threshold) via the same
    * LSH buckets, corpus against itself — still equi-join, still no
    * crossJoin: only same-bucket pairs are scored.
    */
  def cosineNearDuplicates(corpus: DataFrame, threshold: Double = 0.95,
      tables: Int = 4, bits: Int = 12, dim: Int = 64, seed: Long = 42L): DataFrame = {
    // materialized: both self-join sides read the bucketed rows from
    // blocks — otherwise each branch re-runs tables×bits hyperplane dot
    // products per vector (no exchange reuse once AQE broadcasts a side)
    val bucketed = corpus.select(col("vec_id"), col("embedding"),
        posexplode(lshBuckets(col("embedding"), tables, bits, dim, seed)))
      .withColumnsRenamed(Map("pos" -> "table_id", "col" -> "bucket"))
      .localCheckpoint()
    val a = bucketed.select(col("table_id"), col("bucket"),
      col("vec_id").as("id_a"), col("embedding").as("vec_a"))
    val b = bucketed.select(col("table_id"), col("bucket"),
      col("vec_id").as("id_b"), col("embedding").as("vec_b"))
    // score before dedup (see lshTopK): shuffle carries (id, id, cos), not
    // embedding vectors; the threshold filter also prunes pre-shuffle
    a.join(b, Seq("table_id", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), cosine(col("vec_a"), col("vec_b")).as("cos"))
      .where(col("cos") >= threshold)
      .groupBy("id_a", "id_b")
      .agg(max(col("cos")).as("cos"))
  }

  /** Late-interaction MaxSim retrieval (the ColBERT scoring shape,
    * Khattab–Zaharia SIGIR 2020): each item is a BAG of sub-vectors and
    * the score is Σ_{query subvec} max_{doc subvec} ⟨q_i, d_j⟩ — the
    * "every query token finds its best document token" operator behind
    * modern multi-vector retrieval. The corpus here carries one flat
    * vector per row, so the bag is derived by CHUNKING the d-dim
    * embedding into m contiguous sub-vectors (a stand-in with the exact
    * plumbing — schema, per-pair m×m score grid, max-then-sum reduction —
    * a true token-matrix column would use).
    *
    * Determinism: each ⟨q_i, d_j⟩ is an index-ordered float dot (the
    * q_ann_brute FP-bit-identical precedent); max over the m candidates
    * and the FIXED i-order sum are both order-pinned, so scores and the
    * (score desc, vec_id) ranking agree bit-for-bit cross-engine.
    *
    * Scale shape: probes broadcast (bounded eval batch); per pair the
    * m² grid is constant work inside one projection — no explode, no
    * shuffle beyond the bounded top-k heap merge.
    */
  def maxSimTopK(emb: DataFrame, probeMaxId: Long, m: Int, k: Int): DataFrame = {
    val c = emb.select(col("vec_id"), col("embedding"))
    val p = emb.where(col("vec_id") < probeMaxId)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pvec"))
    // ONE native codegen kernel per pair: the m×m sub-dot grid runs
    // as a tight triple loop over the two original array buffers — the
    // previous HOF tower (nested transform(sequence) lambdas, 8 probe +
    // 64 candidate `slice` array copies per pair, array_max, aggregate
    // fold) allocated ~72 arrays per scored pair. Same double sequence
    // bit-for-bit: see the VecOps.maxsim scaladoc.
    val scored = c.join(broadcast(p), col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        call_function("vec_maxsim", col("pvec"), col("embedding"),
          lit(m)).as("maxsim"))
    graft.operators.TopK.topKPerGroup(scored, Seq("probe_id"), "maxsim", "vec_id", k)
      .select(col("probe_id"), col("vec_id"),
        (floor(col("maxsim") * lit(10000.0) + lit(0.500001)) / lit(10000.0))
          .as("maxsim"),
        col("rank").cast("long").as("rank"))
      .orderBy("probe_id", "rank")
  }

  /** SQ8 scalar quantization + quantized-dot top-k (the FAISS
    * ScalarQuantizer QT_8bit shape — the standard 4× embedding-store
    * compression a vector index trains per dimension): per-dim [mn, mx]
    * fit on the corpus, each float mapped to code =
    * clamp(⌊(x−mn)/(mx−mn)·255 + fudge⌋, 0, 255).
    *
    * Codes are EXACT integers both engines reproduce bit-for-bit (ONE
    * deterministic float op per element on identical doubles), so
    * everything downstream is hash-exact: the int products of a quantized
    * dot (≤ 255²·d ≈ 4.2e6 at d=64 — order-independent BIGINT sums, a
    * property no float-space ANN ranking has), the (qdot desc, vec_id)
    * ranking, and the corpus error tally err_micro = Σ ⌊|t·255 − code|·1e6⌋
    * (the linkPrediction integer-quantize-then-sum discipline; BIGINT
    * holds it through ~1e11 vectors at d=64 — swap to a decimal(38,0)
    * partial past that). Constant dimensions (mx = mn) code to 0.
    *
    * Scale shape: the trainer is ONE partial-aggregated posexplode scan to
    * a d-row frame (bounded driver collect, loud failure past 4096 dims —
    * the k-means codebook precedent); quantization is a shuffle-free
    * projection; scoring is the bruteForceTopK broadcast-probe shape; the
    * top-k merges bounded per-partition heaps (TopK.topKPerGroup), never a
    * corpus sort.
    */
  def sq8TopK(emb: DataFrame, probeMaxId: Long, k: Int,
      centered: Boolean = false): DataFrame = {
    val dims = emb
      .select(posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy("i")
      .agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))
      .orderBy("i").collect()
    require(dims.nonEmpty && dims.length <= 4096,
      s"sq8TopK: ${dims.length} dimensions outside the bounded-collect cap")
    val mnLit = array(dims.map(r => lit(r.getDouble(1))): _*)
    val mxLit = array(dims.map(r => lit(r.getDouble(2))): _*)
    def tOf(x: Column, i: Column): Column = {
      val mn = element_at(mnLit, i + 1)
      val mx = element_at(mxLit, i + 1)
      when(mx > mn, (x.cast("double") - mn) / (mx - mn) * lit(255.0))
        .otherwise(lit(0.0))
    }
    def codeOf(t: Column): Column =
      least(greatest(floor(t + lit(0.500001)), lit(0L)), lit(255L))
    def codes(v: Column): Column =
      transform(v, (x, i) => codeOf(tOf(x, i)))
    def errMicro(v: Column): Column =
      aggregate(
        transform(v, (x, i) => {
          val t = tOf(x, i)
          floor(abs(t - codeOf(t)) * lit(1000000.0))
        }),
        lit(0L), (acc, e) => acc + e)
    val errTotal = emb.agg(
      sum(errMicro(col("embedding"))).as("err_micro_total"),
      count(lit(1)).as("n_vecs"))
    val c = emb.select(col("vec_id"), codes(col("embedding")).as("qc"))
    val p = emb.where(col("vec_id") < probeMaxId)
      .select(col("vec_id").as("probe_id"), codes(col("embedding")).as("pc"))
    // centered = the proper SQ8 inner-product estimator: without the 128
    // shift the dot is dominated by the affine offset (≈ 16384·d +
    // 128·(Σa+Σb)) and ranks by vector NORM, not by the probe —
    // q_quantization_recall measures exactly that. The vec_qdot codegen
    // kernel computes the same exact integers as a zip_with/aggregate HOF,
    // without the per-element lambda dispatch.
    val scored = c.join(broadcast(p), col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        call_function("vec_qdot", col("qc"), col("pc"),
          lit(if (centered) 128L else 0L)).as("qdot"))
    graft.operators.TopK.topKPerGroup(scored, Seq("probe_id"), "qdot", "vec_id", k)
      .select(col("probe_id"), col("vec_id"), col("qdot"),
        col("rank").cast("long").as("rank"))
      .crossJoin(broadcast(errTotal))
      .orderBy("probe_id", "rank")
  }

  /** Local Outlier Factor (Breunig et al. 2000) over a BOUNDED id-prefix
    * sample — the density-based embedding-outlier score a curation
    * pipeline runs on its monitoring sample (LOF is inherently all-pairs
    * within the scored set, so the sample is the unit of work — the
    * q_knn_eval bounded-eval stance; the corpus-scale swap-in is LSH-
    * bucketed candidate pruning via [[cosineNearDuplicates]]'s banding).
    *
    * Pipeline: squared distances from THREE codegen dots (d² = ⟨a,a⟩ +
    * ⟨b,b⟩ − 2⟨a,b⟩ — index-ordered, bit-identical cross-engine, the
    * q_ann_brute anchor), kNN by (d², id), k-distance = the k-th NN
    * distance, reach-dist(a,b) = max(kdist(b), d(a,b)), lrd = k/Σreach,
    * LOF = Σ_{b∈N(a)} lrd(b) / (k·lrd(a)). Every join is a broadcast of
    * the bounded sample; the two k-term float sums are absorbed by r6
    * (the q_js_divergence discipline). LOF ≈ 1 = inlier; the flag uses
    * the conventional 1.5 screen on the ROUNDED score so it cannot flip
    * cross-engine.
    */
  def lof(emb: DataFrame, maxId: Long, k: Int): DataFrame = {
    val s = emb.where(col("vec_id") < maxId)
      .select(col("vec_id"), col("embedding"),
        dot(col("embedding"), col("embedding")).as("sq"))
    val a = s.select(col("vec_id").as("a"), col("embedding").as("va"),
      col("sq").as("aa"))
    val b = s.select(col("vec_id").as("b"), col("embedding").as("vb"),
      col("sq").as("bb"))
    val pairs = a.join(broadcast(b), col("a") =!= col("b"))
      .select(col("a"), col("b"),
        (col("aa") + col("bb") - lit(2.0) * dot(col("va"), col("vb")))
          .as("d2"))
    val w = Window.partitionBy(col("a")).orderBy(col("d2"), col("b"))
    val knn = pairs
      .select(col("a"), col("b"), col("d2"), row_number().over(w).as("rk"))
      .where(col("rk") <= k)
      .localCheckpoint()
    val kdist = knn.where(col("rk") === k)
      .select(col("a").as("p"), col("d2").as("kd2"))
    val reach = knn
      .join(broadcast(kdist.select(col("p").as("b"), col("kd2"))), Seq("b"))
      .select(col("a"), greatest(sqrt(col("kd2")), sqrt(col("d2"))).as("r"))
    val lrd = reach.groupBy("a")
      .agg((lit(k.toDouble) / sum(col("r"))).as("lrd"))
    val neigh = knn
      .join(broadcast(lrd.select(col("a").as("b"), col("lrd").as("lrd_b"))),
        Seq("b"))
      .groupBy("a").agg(sum(col("lrd_b")).as("sl"))
    val score = r6(col("sl") / (lit(k.toDouble) * col("lrd")))
    neigh.join(broadcast(lrd), Seq("a"))
      .join(broadcast(kdist.select(col("p").as("a"), col("kd2"))), Seq("a"))
      .select(col("a").as("vec_id"), r6(sqrt(col("kd2"))).as("k_distance"),
        r6(col("lrd")).as("lrd"), score.as("lof"),
        (score > 1.5).cast("long").as("is_outlier"))
      .orderBy("vec_id")
  }
}
