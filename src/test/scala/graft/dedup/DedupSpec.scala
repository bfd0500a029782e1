package graft.dedup

import graft.SparkSpec
import graft.operators.LlmQueries
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  private lazy val docs = {
    import spark.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank today", "en"),
      (1L, "the quick brown fox jumps over the lazy dog near the river bank", "en"),     // near-dup of 0
      (2L, "spark executes distributed queries with partitioned shuffles and broadcast joins", "en"),
      (3L, "completely different content about gardens flowers bees and honey production", "en"),
      (4L, "the quick brown fox jumps over the lazy dog near the river bank today", "en") // exact dup of 0
    ).toDF("doc_id", "text", "lang")
      .withColumn("source", lit("t")).withColumn("n_chars", length(col("text")))
  }

  test("exact dedup groups identical texts under one hash with min-id keeper") {
    val groups = Dedup.exactDuplicates(docs).collect()
    assert(groups.length == 4)                       // 5 docs, one exact pair
    val dupGroup = groups.filter(_.getAs[Long]("n_copies") == 2)
    assert(dupGroup.length == 1 && dupGroup.head.getAs[Long]("keeper") == 0L)
  }

  test("minhash LSH surfaces the near-duplicate pair, not the unrelated ones") {
    val pairs = Dedup.minhashNearDuplicates(docs, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), s"expected near-dup (0,1) in $pairs")
    assert(pairs.contains((0L, 4L)) && pairs.contains((1L, 4L))) // exact dup pairs everywhere
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc must not pair")
  }

  test("estimated jaccard tracks exact n-gram jaccard on candidates") {
    val cands = Dedup.minhashNearDuplicates(docs, threshold = 0.1)
    val verified = Dedup.verifyJaccard(docs, cands).collect()
    verified.foreach { r =>
      val est = r.getAs[Double]("est_jaccard")
      val exact = r.getAs[Double]("jaccard")
      assert(math.abs(est - exact) < 0.35, s"est $est vs exact $exact")
    }
    // exact duplicate pair has jaccard exactly 1
    val exactPair = verified.find(r => r.getLong(0) == 0L && r.getLong(1) == 4L)
    assert(exactPair.exists(_.getAs[Double]("jaccard") == 1.0))
  }

  test("simhash: identical docs at hamming 0, near-dups close, unrelated far") {
    val sigs = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(0L) == sigs(4L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sigs(0L), sigs(1L)) < hamming(sigs(0L), sigs(3L)))
  }

  test("simhash chunk buckets are exhaustive for the requested radius") {
    // radius 5 → 6 chunks of 10-11 bits (the generalized layout, not the
    // old fixed 4×16): result must equal brute-force hamming over all pairs
    val maxHamming = 5
    val sigs = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      if java.lang.Long.bitCount(sigs(a) ^ sigs(b)) <= maxHamming
    } yield (a, b)).toSet
    val pairs = Dedup.simhashNearDuplicates(docs, maxHamming)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == expected, s"bucketed $pairs vs brute-force $expected")
    assert(pairs.contains((0L, 4L))) // the exact-dup pair is at distance 0
    // radius beyond the bucket guarantee is rejected, not silently lossy
    intercept[IllegalArgumentException](Dedup.simhashNearDuplicates(docs, 8))
  }

  test("LSH plans contain no cartesian/broadcast-nested-loop join") {
    val plan = Dedup.minhashNearDuplicates(docs, threshold = 0.3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.linesIterator.take(5).mkString("\n"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    val simPlan = Dedup.simhashNearDuplicates(docs).queryExecution.executedPlan.toString
    assert(!simPlan.contains("CartesianProduct") && !simPlan.contains("BroadcastNestedLoopJoin"))
  }

  test("bucket cap drops mega-buckets instead of going quadratic") {
    import spark.implicits._
    // 50 identical docs: every band bucket holds all 50 — the quadratic
    // skew case. A cap below 50 excises those buckets entirely; the
    // default cap keeps all 50·49/2 pairs.
    val many = (0L until 50L).map(i => (i, "same text everywhere all fifty times over"))
      .toDF("doc_id", "text")
    assert(Dedup.minhashNearDuplicates(many, threshold = 0.9, bucketCap = 10).count() == 0L)
    assert(Dedup.minhashNearDuplicates(many, threshold = 0.9).count() == 1225L)
    assert(Dedup.simhashNearDuplicates(many, maxHamming = 3, bucketCap = 10).count() == 0L)
  }

  test("connected components: empty edges yield empty output; over-budget chains fail loudly") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Dedup.connectedComponents(empty).count() == 0L)
    // a 12-node path needs ~11 propagation rounds; a 3-round budget must
    // throw rather than return partially-merged components
    val chain = (0L until 11L).map(i => (i, i + 1)).toDF("a", "b")
    intercept[IllegalStateException](Dedup.connectedComponents(chain, maxIter = 3))
    val full = Dedup.connectedComponents(chain).collect()
    assert(full.forall(_.getLong(1) == 0L), "all chain nodes merge to component 0")
  }

  test("shingle_hashes kernel agrees with the HOF string-shingle form") {
    val both = docs.select(col("doc_id"),
        Dedup.shingleHashSet(col("text")).as("hashed"),
        Dedup.shingles(col("text")).as("strs"))
      .collect()
    both.foreach { r =>
      val hashed = r.getSeq[Long](1)
      val strs = r.getSeq[String](2)
      assert(hashed.length == strs.distinct.length,
        s"doc ${r.getLong(0)}: ${hashed.length} hashes vs ${strs.distinct.length} shingles")
      assert(hashed == hashed.sorted, "kernel output must be sorted")
    }
    // pairwise: intersection sizes must agree between representations
    val Seq(a, b) = both.take(2).toSeq
    val hInter = a.getSeq[Long](1).toSet.intersect(b.getSeq[Long](1).toSet).size
    val sInter = a.getSeq[String](2).toSet.intersect(b.getSeq[String](2).toSet).size
    assert(hInter == sInter)
  }

  test("minhash_from_hashes is bitwise-identical to the text-path signature") {
    // the shared-scan contract: deriving the signature from the
    // shingle-hash set must reproduce minhash_sig exactly (same seed-42
    // base hashes, same lane re-mix, min is order-independent) — else the
    // q_ngram_jaccard single-scan pipeline silently changes its candidates
    val both = docs.select(col("doc_id"),
        call_function("minhash_sig", col("text"), lit(3), lit(64)).as("txt"),
        call_function("minhash_from_hashes",
          Dedup.shingleHashSet(col("text")), lit(64)).as("derived"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"doc ${r.getLong(0)}: derived signature diverged from text path")
    }
  }

  test("connected components merge chains, keep singleton pairs, and converge") {
    import spark.implicits._
    // chain 1-2-3-4-5 (diameter 4 → several propagation rounds), an
    // isolated pair, and a triangle
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (4L, 5L),
      (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L)).toDF("a", "b")
    val got = Dedup.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L)
    assert(got == expect, s"got $got")
  }

  test("planted near-dups from the harness helper pair with their source doc") {
    val planted = LlmQueries.withPlantedNearDups(docs)
    val pairs = Dedup.minhashNearDuplicates(planted, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every original doc with >3 tokens should pair with its perturbed twin
    assert(pairs.contains((0L, 1000000L)) && pairs.contains((2L, 1000002L)))
  }

  test("over-cap buckets drop rows VISIBLY: observe metrics count the loss") {
    import spark.implicits._
    // 12 identical boilerplate docs saturate their band buckets (12 > cap
    // 5) and silently escape the candidate path — exactly the r3 ADVICE
    // finding. Two near-dup docs stay under cap so the query still returns
    // pairs (if the cap empties the WHOLE result, AQE's empty-relation
    // propagation erases the metrics node with the rest of the plan — the
    // documented corner; zero output from a non-empty corpus is itself
    // the signal).
    val corpus = ((0L until 12L).map(i =>
        (i, "one single boilerplate page repeated verbatim across the crawl snapshot")) ++
      Seq(
        (100L, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (101L, "the quick brown fox jumps over the lazy dog near the river bank")))
      .toDF("doc_id", "text")
    val cands = Dedup.minhashCandidates(
      Dedup.minhashSignatures(corpus), bucketCap = 5)
    // collect(), not count(): observed metrics attach to THIS dataset's
    // QueryExecution, and count() plans a separate one
    val pairs = cands.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((100L, 101L)), s"near-dup pair lost: $pairs")
    assert(!pairs.exists(p => p._1 < 12L && p._2 < 12L),
      "over-cap boilerplate pairs should have been dropped")
    val metrics = cands.queryExecution.observedMetrics.collect {
      case (name, row) if name.startsWith("graft_bucket_cap") =>
        (row.getAs[Long]("dropped_rows"), row.getAs[Long]("max_bucket_rows"))
    }
    assert(metrics.nonEmpty, "no graft_bucket_cap observation in the plan")
    val (dropped, maxBucket) = metrics.head
    // 16 bands × 12 boilerplate docs, every row over cap
    assert(dropped == 192L, s"dropped_rows = $dropped, expected 192")
    assert(maxBucket == 12L, s"max_bucket_rows = $maxBucket")
    // and an uncapped run finds the boilerplate pairs too (the cap is the
    // only loss): C(12,2) + the planted pair
    assert(Dedup.minhashCandidates(Dedup.minhashSignatures(corpus),
      bucketCap = Int.MaxValue).count() >= 67L)
  }

  test("containment: subset copies score 1.0 where jaccard drops below it") {
    val sf = graft.TestData.Sf0001
    val cont = graft.SparkEntry.queries("q_containment_exact")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val jacc = graft.SparkEntry.queries("q_jaccard_exact")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(cont.nonEmpty && cont.keySet == jacc.keySet)
    cont.values.foreach(c => assert(c >= 0.0 && c <= 1.0))
    // the planted copy truncates the original, so its shingles are a
    // subset: containment is exactly 1.0 whenever the copy has shingles
    // at all, while jaccard < 1 whenever shingles were actually lost
    val withShingles = cont.filter(_._2 > 0.0)
    assert(withShingles.values.forall(_ == 1.0),
      "a subset copy must have containment 1.0")
    // containment dominates jaccard pointwise (Broder: |A∩B|/|B| ≥ |A∩B|/|A∪B|)
    cont.foreach { case (id, c) => assert(c >= jacc(id) - 1e-9) }
    assert(jacc.values.exists(_ < 1.0), "fixture should lose shingles somewhere")
  }
  test("setsim prefix join is sound AND complete vs brute force on a real slice") {
    val d = graft.operators.LlmQueries.withPlantedNearDups(
        graft.io.Sources.table(spark, graft.TestData.Sf0001, "documents"))
      .where(col("doc_id") % 5 === 0).cache()
    try {
      def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1))
      val fast = Dedup.setSimJoinPrefix(d, threshold = 0.5)
        .collect().map(r => key(r) -> r.getDouble(2)).toMap
      // brute force: verify EVERY ordered pair, no prefix filter anywhere
      val ids = d.select("doc_id")
      val allPairs = ids.select(col("doc_id").as("doc_a"))
        .crossJoin(ids.select(col("doc_id").as("doc_b")))
        .where(col("doc_a") < col("doc_b"))
        .withColumn("est_jaccard", lit(1.0))
      val brute = Dedup.verifyJaccard(d, allPairs)
        .where(col("jaccard") >= 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
      assert(fast.keySet === brute.keySet,
        s"prefix filter diverged: missed ${(brute.keySet -- fast.keySet).take(5)}, " +
          s"extra ${(fast.keySet -- brute.keySet).take(5)}")
      fast.foreach { case (k0, j) => assert(math.abs(j - brute(k0)) < 1e-12) }
      assert(brute.nonEmpty, "slice too small to exercise the join")
      // every planted (orig, copy) pair the brute pass confirms ≥ 0.5 must
      // survive the prefix filter
      val plantedPairs = d.select("doc_id").collect().map(_.getLong(0))
        .filter(_ < 1000000L).map(i => (i, i + 1000000L))
        .filter(brute.contains)
      assert(plantedPairs.nonEmpty && plantedPairs.forall(fast.contains),
        "planted near-dup pairs must survive the prefix filter")
    } finally d.unpersist()
  }

  test("setsim join plan: prefix equi-join candidates, no cartesian anywhere") {
    val p = graft.SparkEntry.queries("q_setsim_join")(spark, graft.TestData.Sf0001)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidates must come from the prefix equi-join:\n$p")
  }

  test("lanes_equal and sorted_inter_size kernels match their HOF/builtin forms") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(11)
    val rows = (1 to 200).map { i =>
      val a = Seq.fill(64)(rnd.nextInt(8).toLong)
      val b = Seq.fill(64)(rnd.nextInt(8).toLong)
      val sa = Seq.fill(1 + rnd.nextInt(40))(rnd.nextInt(60).toLong).distinct.sorted
      val sb = Seq.fill(1 + rnd.nextInt(40))(rnd.nextInt(60).toLong).distinct.sorted
      (i.toLong, a, b, sa, sb)
    }
    val df = rows.toDF("id", "siga", "sigb", "seta", "setb")
    val hofLanes = aggregate(zip_with(col("siga"), col("sigb"),
      (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, v) => acc + v)
    val mismatch = df.where(
      hofLanes =!= call_function("lanes_equal", col("siga"), col("sigb")) ||
      size(array_intersect(col("seta"), col("setb"))) =!=
        call_function("sorted_inter_size", col("seta"), col("setb")) ||
      size(array_union(col("seta"), col("setb"))) =!=
        (size(col("seta")) + size(col("setb")) -
          call_function("sorted_inter_size", col("seta"), col("setb"))))
    assert(mismatch.count() === 0L)
  }
}
