package graft.operators

import graft.{SparkSpec, SparkEntry}
import org.apache.spark.sql.functions._

/** Bloom-filter prefilter: the published filter contract (zero false
  * negatives ever, bounded false positives), distributed-build ≡
  * single-threaded-build, exactness of the full prefiltered join, and the
  * plan shape that makes it matter at 100 TB — the bloom test runs as a
  * codegen Filter at the probe scan, BEFORE any exchange.
  */
class BloomSpec extends SparkSpec {

  private val sf = graft.TestData.Sf0001

  test("no false negatives: every inserted key probes true (exhaustive)") {
    val bits = new BloomBits(new Array[Long](BloomBits.geometry(10000, 10)._1),
      BloomBits.geometry(10000, 10)._2)
    val keys = (0 until 10000).map(i => i.toLong * 2654435761L + 17L)
    keys.foreach(bits.put)
    assert(keys.forall(bits.mightContain), "bloom filter dropped an inserted key")
  }

  test("false-positive rate on disjoint keys stays near theory (<2%)") {
    val (w, h) = BloomBits.geometry(10000, 10)
    val bits = new BloomBits(new Array[Long](w), h)
    (0 until 10000).foreach(i => bits.put(i.toLong * 2654435761L + 17L))
    // probe keys structurally disjoint from the insert set
    val fp = (0 until 20000).count(i => bits.mightContain(i.toLong * 7919L + 1000000007L))
    assert(fp.toDouble / 20000 < 0.02, s"fp rate ${fp / 20000.0} too high")
  }

  test("distributed treeAggregate build ≡ local build, membership-wise") {
    import spark.implicits._
    val keys = (0L until 5000L).map(_ * 31L + 7L)
    val df = keys.toDF("k").repartition(16)
    val dist = Bloom.build(df, col("k"), 5000L)
    val (w, h) = BloomBits.geometry(5000, 10)
    val local = new BloomBits(new Array[Long](w), h)
    keys.foreach(local.put)
    assert(dist.words.sameElements(local.words) && dist.numHashes == local.numHashes,
      "distributed OR-merge diverged from sequential build")
  }

  test("oversized filter fails loudly at the broadcast cap") {
    val e = intercept[IllegalArgumentException] {
      BloomBits.geometry(Long.MaxValue / 16, 10)
    }
    assert(e.getMessage.contains("broadcast cap"))
  }

  test("prefiltered semi join is EXACT: identical keys to the plain semi join") {
    val orders = graft.io.Sources.table(spark, sf, "orders")
      .where(col("o_totalprice") > 480000.0)
    val li = graft.io.Sources.table(spark, sf, "lineitem")
    val got = Bloom.prefilteredSemiJoin(li, col("l_orderkey"),
      orders.select("o_orderkey"), col("o_orderkey"), 100L)
      .select("l_orderkey", "l_linenumber")
    val want = li.join(orders.select("o_orderkey"),
      li("l_orderkey") === orders("o_orderkey"), "left_semi")
      .select("l_orderkey", "l_linenumber")
    assert(got.exceptAll(want).count() === 0 && want.exceptAll(got).count() === 0)
    assert(want.count() > 0, "degenerate fixture: empty semi join proves nothing")
  }

  test("plan: bloom test is a Filter at the probe scan, inside codegen, before the join") {
    spark.catalog.clearCache()
    val orders = graft.io.Sources.table(spark, sf, "orders")
      .where(col("o_totalprice") > 480000.0).select("o_orderkey")
    val li = graft.io.Sources.table(spark, sf, "lineitem")
    val df = Bloom.prefilteredSemiJoin(li, col("l_orderkey"), orders,
      col("o_orderkey"), 100L)
    // AQE prints codegen stages only in the FINAL plan, and only this
    // df's OWN execution finalizes it (a write/count clones the plan)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // executedPlan prints the kernel as its Invoke node on the filter
    val filterLine = p.linesIterator.indexWhere(l =>
      l.contains("invoke(graft.operators.BloomBits@") && l.contains("Filter"))
    val joinLine = p.linesIterator.indexWhere(l =>
      l.contains("Join LeftSemi") || l.contains("BroadcastHashJoin"))
    assert(filterLine >= 0, s"bloom filter missing from plan:\n$p")
    assert(joinLine >= 0 && filterLine > joinLine,
      s"bloom filter (line $filterLine) should sit BELOW the join (line $joinLine):\n$p")
    // the `*(n)` marker is AQE's WholeStageCodegen span notation: the
    // bloom Filter must carry it (a CodegenFallback expression wouldn't)
    val filterText = p.linesIterator.drop(filterLine).next()
    assert(filterText.contains("*("), s"probe filter fell out of codegen: $filterText\n$p")
  }

  test("q_bloom_prefilter flags certify the contract on real data") {
    val r = SparkEntry.queries("q_bloom_prefilter")(spark, sf).collect()
    assert(r.length === 1)
    assert(r(0).getLong(0) > 0, "empty exact count proves nothing")
    assert(r(0).getLong(1) === 1L, "false negative detected")
    assert(r(0).getLong(2) === 1L, "fp rate above bound")
  }
}
