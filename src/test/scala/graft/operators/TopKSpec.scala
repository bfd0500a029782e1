package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

class TopKSpec extends SparkSpec {

  private val sf = graft.TestData.Sf0001

  test("topKPerGroup ≡ window row_number filter, both directions") {
    val orders = graft.io.Sources.table(spark, sf, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
    def windowed(desc: Boolean) = {
      val o = if (desc) col("o_totalprice").desc else col("o_totalprice").asc
      orders.withColumn("rank",
          row_number().over(Window.partitionBy("o_orderpriority")
            .orderBy(o, col("o_orderkey"))))
        .where(col("rank") <= 5)
    }
    for (desc <- Seq(true, false)) {
      val viaHeap = TopK.topKPerGroup(orders, Seq("o_orderpriority"),
        "o_totalprice", "o_orderkey", k = 5, descending = desc)
      assert(viaHeap.exceptAll(windowed(desc)).count() === 0)
      assert(windowed(desc).exceptAll(viaHeap).count() === 0)
    }
  }

  test("ties break on the ascending tiebreak column, k > group size is safe") {
    import spark.implicits._
    val df = Seq(
      ("a", 1L, 10.0), ("a", 2L, 10.0), ("a", 3L, 10.0),
      ("b", 9L, 1.0))
      .toDF("g", "id", "s")
    val out = TopK.topKPerGroup(df, Seq("g"), "s", "id", k = 2)
      .orderBy("g", "rank").collect()
    // all-tied scores: ids 1,2 kept in id order; group b has 1 row < k
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getInt(3))).toSeq ===
      Seq(("a", 1L, 1), ("a", 2L, 2), ("b", 9L, 1)))
  }

  test("null scores drop; non-numeric score fails loudly") {
    import spark.implicits._
    val df = Seq(("a", 1L, Some(5.0)), ("a", 2L, None), ("a", 3L, Some(7.0)))
      .toDF("g", "id", "s")
    val out = TopK.topKPerGroup(df, Seq("g"), "s", "id", k = 3).collect()
    assert(out.map(_.getLong(1)).sorted.toSeq === Seq(1L, 3L))
    val bad = Seq(("a", 1L, "x")).toDF("g", "id", "s")
    // type check fires at CALL time — a 1-row group never exercises the
    // heap comparator, so a lazy check would silently pass garbage
    val e = intercept[IllegalArgumentException] {
      TopK.topKPerGroup(bad, Seq("g"), "s", "id", k = 1)
    }
    assert(e.getMessage.contains("non-numeric column 's'"))
  }

  test("heap ≡ window on adversarial seeded-random data (heavy ties, negatives)") {
    import spark.implicits._
    // few distinct scores → heavy ties; negative scores; skewed groups;
    // k spanning under/at/over group sizes
    val rnd = new scala.util.Random(42)
    val rows = (1 to 5000).map { i =>
      (s"g${rnd.nextInt(7)}", i.toLong, (rnd.nextInt(9) - 4).toDouble)
    }
    val df = rows.toDF("g", "id", "s")
    for (k <- Seq(1, 3, 50, 5000)) {
      val viaHeap = TopK.topKPerGroup(df, Seq("g"), "s", "id", k)
      val viaWindow = df.withColumn("rank",
          row_number().over(Window.partitionBy("g")
            .orderBy(col("s").desc, col("id"))))
        .where(col("rank") <= k)
      assert(viaHeap.exceptAll(viaWindow).count() === 0, s"extra rows at k=$k")
      assert(viaWindow.exceptAll(viaHeap).count() === 0, s"missing rows at k=$k")
    }
  }

  test("plan: no Window/Sort over the input — heaps + one repartition") {
    val orders = graft.io.Sources.table(spark, sf, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
    val p = TopK.topKPerGroup(orders, Seq("o_orderpriority"),
      "o_totalprice", "o_orderkey", k = 3).queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"heap top-k planned a window:\n$p")
    assert(!p.contains("SortExec") && !p.contains("\nSort "),
      s"heap top-k planned a full sort:\n$p")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx === 1, s"expected exactly one shuffle of heap survivors:\n$p")
  }
}
