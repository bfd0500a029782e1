package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class KmeansSpec extends SparkSpec {

  private val sf = graft.TestData.Sf0001

  private def emb: DataFrame = graft.io.Sources.table(spark, sf, "embeddings")

  private def inertia(centers: Array[Array[Double]], assigned: DataFrame): Double = {
    val cmat = array(centers.map(c => array(c.map(lit): _*)): _*)
    assigned
      .select(element_at(cmat, col("cell") + 1).as("c"), col("v"))
      .select((Ann.dot(col("v"), col("v")) - lit(2.0) * Ann.dot(col("v"), col("c"))
        + Ann.dot(col("c"), col("c"))).as("d2"))
      .agg(sum("d2")).head.getDouble(0)
  }

  test("lloyd iterations never increase inertia") {
    val is = (1 to 4).map { iters =>
      val (c, a) = Ann.kmeansLloyd(emb, k = 8, iters = iters)
      inertia(c, a)
    }
    is.zip(is.tail).foreach { case (prev, next) =>
      assert(next <= prev + 1e-9, s"inertia rose across an iteration: $is")
    }
  }

  test("every point lands on its nearest final centroid") {
    val (centers, assigned) = Ann.kmeansLloyd(emb, k = 8, iters = 3)
    val rows = assigned.collect()
    rows.foreach { r =>
      val v = r.getSeq[Double](1).toArray
      val cell = r.getInt(2)
      def d2(c: Array[Double]): Double =
        v.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum
      val best = centers.map(d2).min
      assert(d2(centers(cell)) <= best + 1e-9,
        s"vec ${r.getLong(0)} assigned to cell $cell but a closer centroid exists")
    }
  }

  test("deterministic under repartitioning (seedless md5 init)") {
    val (c1, a1) = Ann.kmeansLloyd(emb, k = 4, iters = 2)
    val (c2, a2) = Ann.kmeansLloyd(emb.repartition(7), k = 4, iters = 2)
    // init is content-addressed → identical centers up to the unordered
    // centroid-mean reduction (~1e-12); assignments identical
    c1.zip(c2).foreach { case (x, y) =>
      x.zip(y).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9) }
    }
    assert(a1.select("vec_id", "cell").except(a2.select("vec_id", "cell")).count() === 0)
  }

  test("an emptied cell keeps its previous centroid instead of dying") {
    import spark.implicits._
    // 4 identical points: init seeds k=2 identical centroids; the tie-break
    // sends every point to one cell, the other empties — must survive with
    // k centers and a total assignment
    val degenerate = Seq.tabulate(4)(i => (i.toLong, Array.fill(8)(1.0f)))
      .toDF("vec_id", "embedding")
    val (centers, assigned) = Ann.kmeansLloyd(degenerate, k = 2, iters = 3)
    assert(centers.length === 2)
    assert(assigned.count() === 4)
    assert(assigned.select(countDistinct("cell")).head.getLong(0) === 1)
  }

  test("assignment stage is a shuffle-free projection") {
    val (_, assigned) = Ann.kmeansLloyd(emb, k = 8, iters = 1)
    val p = assigned.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"assignment should not shuffle:\n$p")
    assert(!p.contains("Join"), s"assignment should not join:\n$p")
  }
}
