package graft.similarity

import graft.SparkSpec
import graft.io.Sources
import org.apache.spark.sql.functions._

class AnnSpec extends SparkSpec {

  private lazy val emb = Sources.table(spark, graft.TestData.Sf0001, "embeddings").cache()

  test("brute-force top-k matches a driver-side exact computation") {
    val all = emb.collect().map { r =>
      val v = r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray
      r.getLong(r.fieldIndex("vec_id")) -> v
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val probeId = all.head._1
    val probeVec = all.head._2
    val expect = all.filter(_._1 != probeId)
      .map { case (id, v) => (id, cos(probeVec, v)) }
      .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1).toSeq

    val got = Ann.bruteForceTopK(emb, emb.where(col("vec_id") === probeId), k = 5)
      .orderBy("rank").collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(got == expect, s"got $got expected $expect")
  }

  test("LSH top-k achieves reasonable recall against brute force") {
    val probes = emb.where(col("vec_id") < 20)
    val brute = Ann.bruteForceTopK(emb, probes, k = 5).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id"))).toSet
    // top-k over near-orthogonal random vectors needs short hashes + many
    // tables (collision prob at cos≈0.35 with 4 bits ≈ 0.14/table); long
    // hashes (the default) are for high-cosine near-dup detection instead
    val lsh = Ann.lshTopK(emb, probes, k = 5, tables = 8, bits = 4).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id"))).toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall > 0.4, s"recall $recall too low (|brute|=${brute.size}, |lsh|=${lsh.size})")
  }

  test("LSH plan contains no cartesian/broadcast-nested-loop join") {
    val plan = Ann.lshTopK(emb, emb.where(col("vec_id") < 5), k = 3,
      tables = 4, bits = 8).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    val ndPlan = Ann.cosineNearDuplicates(emb, 0.5, tables = 4, bits = 8)
      .queryExecution.executedPlan.toString
    assert(!ndPlan.contains("CartesianProduct") && !ndPlan.contains("BroadcastNestedLoopJoin"))
  }

  test("IVF with nprobe = nlist is exhaustive: exactly matches brute force") {
    val probes = emb.where(col("vec_id") < 10)
    val brute = Ann.bruteForceTopK(emb, probes, k = 5)
      .select("probe_id", "vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // every cell searched → the candidate set is the whole corpus, so the
    // ranking (cos desc, vec_id asc) must agree with brute force row-for-row
    val ivf = Ann.ivfTopK(emb, probes, k = 5, nlist = 8, nprobe = 8)
      .select("probe_id", "vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(ivf == brute, s"ivf exhaustive mismatch: ${(ivf diff brute) ++ (brute diff ivf)}")
  }

  test("IVF with partial probe achieves reasonable recall and a join-only plan") {
    val probes = emb.where(col("vec_id") < 20)
    val brute = Ann.bruteForceTopK(emb, probes, k = 5).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id"))).toSet
    val ivfDf = Ann.ivfTopK(emb, probes, k = 5, nlist = 8, nprobe = 4)
    val ivf = ivfDf.collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id"))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall > 0.5, s"recall $recall too low (|brute|=${brute.size}, |ivf|=${ivf.size})")
    val plan = ivfDf.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("IVF clamps nprobe above nlist to exhaustive instead of returning nothing") {
    val probes = emb.where(col("vec_id") < 5)
    val rows = Ann.ivfTopK(emb, probes, k = 3, nlist = 4, nprobe = 16).count()
    assert(rows == 15L, s"5 probes x top-3 expected, got $rows")
  }

  test("brute-force pairs on a slice match driver-side exact pairs") {
    val slice = emb.where(col("vec_id") < 40)
    val all = slice.collect().map { r =>
      val v = r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray
      r.getLong(r.fieldIndex("vec_id")) -> v
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val expect = (for {
      (ia, va) <- all; (ib, vb) <- all if ia < ib
      c = cos(va, vb) if c >= 0.2
    } yield (ia, ib)).toSet
    val got = Ann.bruteForcePairs(slice, 0.2).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(got == expect, s"pair mismatch: ${(got diff expect) ++ (expect diff got)}")
  }

  test("vec_dot fails loudly on mismatched embedding dimensions") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f))).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(Ann.dot(col("a"), col("b"))).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.getMessage != null) &&
      causes(e).exists(c => c.getMessage != null && c.getMessage.contains("dimension mismatch")),
      s"expected a dimension-mismatch failure, got $e")
  }

  test("IVF cell kernel ≡ a driver-side argmax; exact ties go to the larger cid") {
    val vecs = emb.select("vec_id", "embedding").collect().map { r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray
    }.toMap
    // twelve real embeddings as centroids, plus a copy of centroid 3 as
    // cell 12: every vector scores cells 3 and 12 exactly equal
    val centers = ((100L until 112L).map(vecs) :+ vecs(103L)).toArray
    val nprobe = 4
    def score(v: Array[Double], c: Array[Double]): Double =
      v.indices.foldLeft(0.0)((s, j) => s + v(j) * c(j)) - c.map(x => x * x).sum / 2.0
    def reference(v: Array[Double]): Seq[Int] = centers.indices
      .map(c => (score(v, centers(c)), c))
      .sortBy { case (s, c) => (-s, -c) }.take(nprobe).map(_._2)
    val got = emb.select(col("vec_id"),
        new IvfModel(centers).column(col("embedding"), nprobe).as("cells"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(got.size == vecs.size)
    val wrong = vecs.collect { case (id, v) if got(id) != reference(v) =>
      (id, got(id), reference(v)) }
    assert(wrong.isEmpty, s"kernel ≠ reference: ${wrong.take(5)}")
    // the centroid's own row is nearest to the tied pair: cell 12 first
    assert(got(103L).take(2) == Seq(12, 3), s"tie not to the larger cid: ${got(103L)}")
  }

  test("ivfTopK at nlist = 128 returns k results per probe") {
    val probes = emb.where(col("vec_id") < 5)
    // 128 cells × 64 dims = 8192 centroid values in one model object
    val got = Ann.ivfTopK(emb, probes, k = 3, nlist = 128, nprobe = 32)
      .groupBy("probe_id").count().collect()
    assert(got.length == 5 && got.forall(_.getLong(1) == 3L),
      s"expected 3 results for each of 5 probes: ${got.toSeq}")
  }

  test("ivfTopK rejects nprobe < 1 when the frame is built, naming nprobe") {
    val e = intercept[IllegalArgumentException] {
      Ann.ivfTopK(emb, emb.where(col("vec_id") < 3), k = 2, nlist = 8, nprobe = 0)
    }
    assert(e.getMessage.contains("nprobe"), e.getMessage)
  }

  test("cosine column math: self-similarity is 1, near-dup pairs are ordered") {
    val self = emb.limit(3)
      .select(Ann.cosine(col("embedding"), col("embedding")).as("c")).collect()
    self.foreach(r => assert(math.abs(r.getDouble(0) - 1.0) < 1e-9))
    Ann.cosineNearDuplicates(emb, threshold = 0.0, tables = 2, bits = 6)
      .collect().foreach(r => assert(r.getLong(0) < r.getLong(1)))
  }

  // ---- product quantization -----------------------------------------------

  test("PQ on a codeword grid is lossless: exactly matches brute force") {
    import spark.implicits._
    // corpus = the product of two per-subspace codeword sets; k-means with
    // ksub = |set| converges to the sets themselves, so reconstruction is
    // exact and ADC ranking must equal the exact ranking — any divergence
    // is an encode/decode bug, not quantization error
    val s1 = Seq(Seq(0f, 0f), Seq(3f, 4f))
    val s2 = Seq(Seq(1f, 0f), Seq(0f, 2f))
    val corpus = (for {
      (a, i) <- s1.zipWithIndex
      (b, j) <- s2.zipWithIndex
    } yield ((i * 2 + j).toLong, a ++ b)).toDF("vec_id", "embedding")
    val probes = corpus.where(col("vec_id") === 0L)
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("probe_id", "vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = pairs(Ann.bruteForceTopK(corpus, probes, k = 3))
    val pq = pairs(Ann.pqTopK(corpus, probes, k = 3, m = 2, ksub = 2,
      maxIter = 20))
    assert(pq === brute, s"PQ on its own codewords must be exact: $pq vs $brute")
  }

  test("PQ envelope holds at the smallest SF") {
    val out = graft.SparkEntry.queries("q_ann_pq")(spark, graft.TestData.Sf0001)
      .head()
    assert(out.getLong(0) === 100L) // 10 probes × k=10 exact pairs
    assert(out.getLong(1) === 1L, "recall-vs-brute fell below the 0.35 floor")
    assert(out.getLong(2) === 16L)
  }

  test("PQ rejects a dimension that does not split into m subspaces") {
    val e = intercept[IllegalArgumentException] {
      Ann.pqTopK(emb, emb.limit(1), k = 1, m = 7)
    }
    assert(e.getMessage.contains("does not split"))
  }

  test("IVF-PQ with nprobe = nlist is exhaustive: exactly matches plain PQ") {
    // coarse pruning off (every cell probed) must leave the PQ ranking —
    // same seed, same codebooks, so the two paths differ only in the
    // candidate generator, which is exhaustive here
    val probes = emb.where(col("vec_id") < 5)
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("probe_id", "vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val pq = pairs(Ann.pqTopK(emb, probes, k = 5, m = 16, ksub = 8))
    val ivfpq = pairs(Ann.ivfPqTopK(emb, probes, k = 5, nlist = 4, nprobe = 4,
      m = 16, ksub = 8))
    assert(ivfpq === pq)
  }

  test("IVF-PQ envelope holds at the smallest SF, candidates via cell equi-join") {
    val out = graft.SparkEntry.queries("q_ann_ivfpq")(spark, graft.TestData.Sf0001)
      .head()
    assert(out.getLong(0) === 100L && out.getLong(1) === 1L && out.getLong(2) === 16L)
    val p = Ann.ivfPqTopK(emb, emb.where(col("vec_id") < 3), k = 3,
        nlist = 8, nprobe = 2, m = 16, ksub = 8)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"IVF-PQ candidates must come from the cell equi-join:\n$p")
  }

  test("PQ plan: probe batch broadcasts, corpus never SMJ/cartesian-joins") {
    val p = Ann.pqTopK(emb, emb.where(col("vec_id") < 3), k = 3, m = 16, ksub = 8)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"probes must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"corpus must not shuffle into the probe join:\n$p")
  }

  test("SQ8 codes match a driver-side quantizer; dots and error tally agree") {
    val all = emb.collect().map { r =>
      r.getLong(r.fieldIndex("vec_id")) ->
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray
    }
    val d = all.head._2.length
    val mn = (0 until d).map(i => all.map(_._2(i)).min).toArray
    val mx = (0 until d).map(i => all.map(_._2(i)).max).toArray
    def tOf(x: Double, i: Int): Double =
      if (mx(i) > mn(i)) (x - mn(i)) / (mx(i) - mn(i)) * 255.0 else 0.0
    def codeOf(t: Double): Long =
      math.min(math.max(math.floor(t + 0.500001).toLong, 0L), 255L)
    def codes(v: Array[Double]): Array[Long] =
      v.zipWithIndex.map { case (x, i) => codeOf(tOf(x, i)) }
    val errWant = all.map { case (_, v) =>
      v.zipWithIndex.map { case (x, i) =>
        val t = tOf(x, i); math.floor(math.abs(t - codeOf(t)) * 1e6).toLong
      }.sum
    }.sum
    val byId = all.toMap.map { case (id, v) => id -> codes(v) }
    def qdot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    val want = all.filter(_._1 < 3).flatMap { case (pid, _) =>
      all.filter(_._1 != pid)
        .map { case (cid, _) => (cid, qdot(byId(pid), byId(cid))) }
        .sortBy { case (cid, q) => (-q, cid) }.take(5).zipWithIndex
        .map { case ((cid, q), i) => (pid, cid, q, (i + 1).toLong) }
    }.toSet
    val got = Ann.sq8TopK(emb, probeMaxId = 3L, k = 5).collect()
    got.foreach { r =>
      assert(r.getLong(4) === errWant, s"error tally: $r vs $errWant")
      assert(r.getLong(5) === all.length.toLong)
    }
    assert(got.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet === want)
  }

  test("SQ8: codes stay in [0,255] and a constant dimension codes to zero") {
    import spark.implicits._
    // dim 0 constant, dim 1 spanning [0, 10]
    val rows = (0L to 10L).map(i => (i, Seq(7.0f, i.toFloat)))
    val df = rows.toDF("vec_id", "embedding")
    val out = Ann.sq8TopK(df, probeMaxId = 1L, k = 3).collect()
    assert(out.length === 3)
    // the probe (vec 0) codes to [0, 0]; every qdot against it is 0 and
    // ties resolve by vec_id ascending
    assert(out.map(_.getLong(1)).toSeq === Seq(1L, 2L, 3L))
    assert(out.forall(_.getLong(2) === 0L), "constant-dim probe dots are 0")
    // error tally: every t is exactly 0, 25.5k, … — recompute driver-side
    val errWant = rows.map { case (_, v) =>
      val t1 = v(1).toDouble / 10.0 * 255.0
      val c1 = math.min(math.max(math.floor(t1 + 0.500001).toLong, 0L), 255L)
      math.floor(math.abs(t1 - c1) * 1e6).toLong
    }.sum
    assert(out.head.getLong(4) === errWant)
  }

  test("kNN eval matches a driver-side vote replay; probes all score") {
    val all = emb.collect().map { r =>
      (r.getLong(r.fieldIndex("vec_id")),
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray,
        r.getInt(r.fieldIndex("label")).toLong)
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val probes = all.filter(_._1 < 100)
    val want = probes.map { case (pid, pv, gold) =>
      val top5 = all.filter(_._1 != pid)
        .map { case (id, v, l) => (id, cos(pv, v), l) }
        .sortBy { case (id, c, _) => (-c, id) }.take(5)
      val pred = top5.groupBy(_._3).toSeq
        .map { case (l, vs) => (l, vs.size) }
        .minBy { case (l, c) => (-c, l) }._1
      (gold, pred == gold)
    }
    val wantByClass = want.groupBy(_._1).map { case (g, vs) =>
      g -> (vs.length.toLong, vs.count(_._2).toLong) }
    val got = graft.SparkEntry.queries("q_knn_eval")(
      spark, graft.TestData.Sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === wantByClass, s"got $got want $wantByClass")
    assert(got.values.map(_._1).sum === probes.length.toLong)
  }

  test("MaxSim matches a driver-side chunked replay; full-vector dot is a lower bound case") {
    val all = emb.collect().map { r =>
      r.getLong(r.fieldIndex("vec_id")) ->
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray
    }
    val m = 8; val sub = all.head._2.length / m
    def maxsim(p: Array[Double], d: Array[Double]): Double =
      (0 until m).map { i =>
        (0 until m).map { j =>
          (0 until sub).map(t => p(i * sub + t) * d(j * sub + t)).sum
        }.max
      }.sum
    val want = all.filter(_._1 < 3).flatMap { case (pid, pv) =>
      all.filter(_._1 != pid)
        .map { case (cid, cv) => (cid, maxsim(pv, cv)) }
        .sortBy { case (cid, s0) => (-s0, cid) }.take(5).zipWithIndex
        .map { case ((cid, s0), i) =>
          (pid, cid, math.floor(s0 * 1e4 + 0.500001) / 1e4, (i + 1).toLong) }
    }.toSet
    val got = Ann.maxSimTopK(emb, probeMaxId = 3L, m = m, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    assert(got === want, s"got $got\nwant $want")
    // MaxSim dominates the aligned-chunk sum (each max ≥ its diagonal
    // term), so every score ≥ the full-vector dot of the same pair
    got.foreach { case (pid, cid, s0, _) =>
      val full = all.toMap.apply(pid).zip(all.toMap.apply(cid))
        .map { case (x, y) => x * y }.sum
      assert(s0 >= math.floor(full * 1e4 + 0.500001) / 1e4 - 1e-9,
        s"maxsim ≥ aligned dot must hold: $pid,$cid")
    }
  }

  test("SQ8 plan: quantization is projection-only, probes broadcast") {
    val p = Ann.sq8TopK(emb, probeMaxId = 3L, k = 5)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"probes must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"corpus must never shuffle into the probe join:\n$p")
  }

  // ---- q_lof ----------------------------------------------------------------

  test("LOF: a planted far point flags as the only outlier of a uniform cluster") {
    import spark.implicits._
    // 12 points on a tight uniform line + one point 100× farther out:
    // uniform-density members score LOF ≈ 1, the isolate far above 1.5
    val rows = (0 until 12).map(i =>
      (i.toLong, Array(i * 0.125f, 0.0f, 0.0f), 0)) :+
      (12L, Array(100.0f, 0.0f, 0.0f), 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_lof").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val out = Ann.lof(Sources.table(spark, dir, "embeddings"),
      maxId = 200L, k = 5).collect()
    assert(out.length === 13)
    val byId = out.map(r => r.getLong(0) -> r).toMap
    assert(byId(12L).getDouble(3) > 1.5 && byId(12L).getLong(4) === 1L,
      s"the isolate must flag: ${byId(12L)}")
    (0L to 11L).foreach { i =>
      assert(byId(i).getDouble(3) < 1.5 && byId(i).getLong(4) === 0L,
        s"uniform-cluster member $i must not flag: ${byId(i)}")
    }
  }

  test("LOF on real data: positive densities, scores near 1 in the bulk") {
    val rows = graft.SparkEntry.queries("q_lof")(
      spark, graft.TestData.Sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(1) > 0.0 && r.getDouble(2) > 0.0)
      assert(r.getDouble(3) > 0.5 && r.getDouble(3) < 5.0,
        s"LOF of random gaussians stays near 1: $r")
    }
    val near1 = rows.count(r => math.abs(r.getDouble(3) - 1.0) < 0.3)
    assert(near1 * 2 > rows.length, "the bulk of a homogeneous sample is inlier")
  }

  // ---- q_quantization_recall ------------------------------------------------

  test("quantization audit: centering dominates the raw affine dot on every probe") {
    val rows = graft.SparkEntry.queries("q_quantization_recall")(
      spark, graft.TestData.Sf0001).collect()
    assert(rows.length === 10)
    rows.foreach { r =>
      assert(r.getLong(1) <= 5L && r.getLong(3) <= 5L)
      assert(r.getLong(3) >= r.getLong(1),
        s"centered recall must not trail the norm-dominated raw dot: $r")
    }
    val rawTotal = rows.map(_.getLong(1)).sum
    val cenTotal = rows.map(_.getLong(3)).sum
    assert(cenTotal > rawTotal,
      s"the audit must EXPOSE the affine bias: raw=$rawTotal centered=$cenTotal")
    assert(cenTotal >= 25L, s"centered SQ8 keeps most of the top-5: $cenTotal")
  }

  // ---- q_dbscan -------------------------------------------------------------

  test("DBSCAN: three planted tight clusters resolve exactly; isolates are noise") {
    import spark.implicits._
    // 3 clusters of 10 points at centers 0/10/20 with 0.01-grid jitter
    // (exactly representable), plus 3 far isolates: the data-driven ε²
    // (median 5-NN d²) separates the clusters, every member is core
    val rows = (0 until 3).flatMap { c =>
      (0 until 10).map { i =>
        (c * 10L + i, Array((c * 10.0 + 0.01 * i).toFloat, 0.0f, 0.0f), c)
      }
    } ++ Seq((100L, Array(500.0f, 0.0f, 0.0f), 9),
      (101L, Array(600.0f, 0.0f, 0.0f), 9),
      (102L, Array(700.0f, 0.0f, 0.0f), 9))
    val dir = java.nio.file.Files.createTempDirectory("graft_dbscan").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val out = graft.SparkEntry.queries("q_dbscan")(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    // the data-driven ε = the in-cluster 5-NN spacing, so LINE ENDPOINTS
    // have < minPts neighbors and attach as border — min-core labels are
    // 2/12/22, one cluster per planted group, never merged
    val clusters = out.keySet.filter(_ >= 0)
    assert(clusters === Set(2L, 12L, 22L),
      s"one cluster per planted group: ${out.keySet}")
    clusters.foreach { c =>
      assert(out(c).getLong(1) + out(c).getLong(2) === 10L,
        s"cluster $c covers its 10 members: ${out(c)}")
      assert(out(c).getLong(1) >= 5L, s"interior points are core: ${out(c)}")
    }
    assert(out(-1L).getLong(3) === 3L, s"three isolates are noise: ${out(-1L)}")
  }

  test("DBSCAN on real data: census covers the sample, eps positive") {
    val rows = graft.SparkEntry.queries("q_dbscan")(
      spark, graft.TestData.Sf0001).collect()
    val n = emb.where(col("vec_id") < 200).count()
    assert(rows.map(r => r.getLong(1) + r.getLong(2) + r.getLong(3)).sum === n)
    rows.foreach(r => assert(r.getDouble(4) > 0.0))
  }

  // ---- q_embed_mmd ----------------------------------------------------------

  test("MMD: planted point masses give exactly |u - v|² in micro-units²") {
    import spark.implicits._
    // every label-0 vector is u, every label-1 vector is v, components
    // exactly representable in float32 AND integral in micro-units — the
    // unbiased linear-kernel estimator collapses to |u − v|² exactly
    val u = Array(0.5f, 0.0f, 0.0f, 0.0f)
    val v = Array(0.0f, 0.25f, 0.0f, 0.0f)
    val rows = (0 until 6).map(i => (i.toLong, u, 0)) ++
      (6 until 12).map(i => (i.toLong, v, 1))
    val dir = java.nio.file.Files.createTempDirectory("graft_mmd").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val r = graft.SparkEntry.queries("q_embed_mmd")(spark, dir).head()
    assert((r.getLong(0), r.getLong(1)) === ((0L, 1L)))
    assert((r.getLong(2), r.getLong(3)) === ((6L, 6L)))
    // |u − v|² = 0.25 + 0.0625 = 0.3125 → 3.125e11 micro²
    assert(r.getDouble(4) === 3.125e11, s"$r")
  }

  test("MMD matches a driver-side moment-identity replay on real data") {
    val all = emb.collect().map { r =>
      (r.getInt(r.fieldIndex("label")).toLong,
        r.getSeq[Float](r.fieldIndex("embedding"))
          .map(x => math.floor(x.toDouble * 1e6).toLong).toArray)
    }
    val byG = all.groupBy(_._1).map { case (g, vs) =>
      val mats = vs.map(_._2)
      val d = mats.head.length
      val s = (0 until d).map(i => mats.map(_(i)).sum).toArray
      val q = mats.map(m => m.map(e => BigInt(e) * BigInt(e)).sum).sum
      val s2 = s.map(x => BigInt(x) * BigInt(x)).sum
      g -> (mats.length.toLong, s, q, s2)
    }
    def r4d(x: Double) = math.floor(x * 1e4 + 0.500001) / 1e4
    val got = graft.SparkEntry.queries("q_embed_mmd")(
      spark, graft.TestData.Sf0001).collect()
    assert(got.length === byG.size * (byG.size - 1) / 2)
    got.foreach { r =>
      val (na, sa, qa, s2a) = byG(r.getLong(0))
      val (nb, sb, qb, s2b) = byG(r.getLong(1))
      assert(r.getLong(2) === na && r.getLong(3) === nb)
      val sab = sa.zip(sb).map { case (x, y) => BigInt(x) * BigInt(y) }.sum
      val want = (s2a - qa).toDouble / (na * (na - 1)).toDouble +
        (s2b - qb).toDouble / (nb * (nb - 1)).toDouble -
        2.0 * (sab.toDouble / (na * nb).toDouble)
      assert(math.abs(r.getDouble(4) - r4d(want)) <= 1e-4 + 1e-9,
        s"pair (${r.getLong(0)},${r.getLong(1)}): got ${r.getDouble(4)} want $want")
    }
  }

  test("MMD plan: one partial-aggregated explode shuffle, broadcast-only assembly") {
    val p = graft.SparkEntry.queries("q_embed_mmd")(
      spark, graft.TestData.Sf0001).queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"bounded frames must broadcast:\n$p")
    assert(p.lastIndexOf("HashAggregate") > p.lastIndexOf("Exchange hashpartitioning"),
      s"the ×d explode must partial-aggregate before its shuffle:\n$p")
  }

  // ---- q_silhouette ---------------------------------------------------------

  test("silhouette: planted tight clusters at the probes score exactly 1") {
    import spark.implicits._
    // probes 0..4 are far-apart axis points; vecs 5..14 sit EXACTLY on
    // probe (id % 5) ⇒ a = 0, b > 0 ⇒ s = 1 for every member, and the
    // probes themselves also have a = 0 ⇒ per-cluster mean_silhouette = 1
    def axis(i: Int): Array[Float] = {
      val v = Array.fill(8)(0.0f); v(i) = 10.0f; v
    }
    val rows = (0 until 5).map(p => (p.toLong, axis(p), 0)) ++
      (5 until 15).map(i => (i.toLong, axis(i % 5), 0))
    val dir = java.nio.file.Files.createTempDirectory("graft_sil").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val out = graft.SparkEntry.queries("q_silhouette")(spark, dir).collect()
    assert(out.length === 5)
    out.foreach { r =>
      assert(r.getLong(1) === 3L, s"1 probe + 2 members per cluster: $r")
      assert(r.getDouble(2) === 1.0, s"tight cluster silhouette must be 1: $r")
      assert(r.getDouble(3) === 0.0, s"members sit ON the centroid: $r")
    }
  }

  test("cosine histogram: orthogonal/parallel fixture lands in exact bins") {
    import spark.implicits._
    def axis(i: Int, s0: Float): Array[Float] = {
      val v = Array.fill(4)(0.0f); v(i) = s0; v
    }
    // 2 parallel (cos 1), 1 orthogonal to both (cos 0): pairs = {1, 0, 0}
    val rows = Seq((0L, axis(0, 2.0f), 0), (1L, axis(0, 5.0f), 0),
      (2L, axis(1, 3.0f), 0))
    val dir = java.nio.file.Files.createTempDirectory("graft_chist").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val out = graft.SparkEntry.queries("q_cosine_hist")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(out === Map(5L -> (2L, 0.0), 9L -> (1L, 1.0)),
      s"cos 0 lands in bin 5, cos 1 clamps into bin 9: $out")
  }

  test("anisotropy: one-hot fixture gives the exact closed-form mean cosine") {
    import spark.implicits._
    // 3 vectors on axis 0, 2 on axis 1, all norm 10: unit components are
    // exactly 0/1 so quantization is exact; S = (3e6, 2e6), Q = 5e12 ⇒
    // mean pairwise cos = (13 − 5)/(5·4) = 0.4 exactly
    def axis(i: Int): Array[Float] = {
      val v = Array.fill(4)(0.0f); v(i) = 10.0f; v
    }
    val rows = (0 until 3).map(k => (k.toLong, axis(0), 0)) ++
      (3 until 5).map(k => (k.toLong, axis(1), 0))
    val dir = java.nio.file.Files.createTempDirectory("graft_aniso").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val r = graft.SparkEntry.queries("q_embed_anisotropy")(spark, dir).head()
    assert(r.getLong(0) === 5L && r.getLong(1) === 4L)
    assert(r.getDouble(2) === 10.0, s"mean norm: $r")
    assert(r.getDouble(3) === 0.4, s"closed-form mean cosine: $r")
    assert(r.getLong(4) === 1L)
  }

  test("silhouette on real data: bounds hold, every cluster covered") {
    val out = graft.SparkEntry.queries("q_silhouette")(
      spark, graft.TestData.Sf0001).collect()
    assert(out.length === 5)
    val total = Sources.table(spark, graft.TestData.Sf0001, "embeddings")
      .count()
    assert(out.map(_.getLong(1)).sum === total, "every vector assigned once")
    out.foreach { r =>
      assert(r.getDouble(2) >= -1.0 - 1e-9 && r.getDouble(2) <= 1.0 + 1e-9)
      assert(r.getDouble(3) >= 0.0)
    }
  }

  test("vec_maxsim kernel is bit-identical to the HOF formulation") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val dim = 64; val m = 8; val subLen = dim / m
    val rows = (1 to 64).map { i =>
      (i.toLong, Seq.fill(dim)(rnd.nextDouble() * 2 - 1),
        Seq.fill(dim)(rnd.nextDouble() * 2 - 1))
    }
    val df = rows.toDF("id", "a", "b")
    import org.apache.spark.sql.functions._
    def sub(v: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =
      slice(v, i * lit(subLen) + 1, lit(subLen))
    val hof = aggregate(
      transform(sequence(lit(0), lit(m - 1)), i =>
        array_max(transform(sequence(lit(0), lit(m - 1)), j =>
          call_function("vec_dot", sub(col("a"), i), sub(col("b"), j))))),
      lit(0.0), (acc, x) => acc + x)
    val kernel = call_function("vec_maxsim", col("a"), col("b"), lit(m))
    // exact bitwise equality, not approximate: the kernel must replay the
    // identical double sequence the HOF tower (and the DuckDB oracle) runs
    assert(df.where(hof =!= kernel).count() === 0L)
  }
}
