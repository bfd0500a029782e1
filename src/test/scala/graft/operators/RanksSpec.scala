package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class RanksSpec extends SparkSpec {

  test("withGlobalRank equals the naive global row_number on a tied fixture") {
    import spark.implicits._
    // heavy ties (every value appears ~7×), negative values, and a
    // non-contiguous key — the permutation must match row-for-row
    val df = (1 to 200).map(i => ((i * 37) % 29 - 14L, i * 3L))
      .toDF("v", "k")
    for (buckets <- Seq(2, 3, 16, 256)) {
      val got = Ranks.withGlobalRank(df, col("v"), col("k"), "r", buckets)
        .select("v", "k", "r").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val want = df.select(col("v"), col("k"),
          row_number().over(Window.orderBy(col("v"), col("k")))
            .cast("long").as("r"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got === want, s"buckets=$buckets diverges from global row_number")
    }
  }

  test("withGlobalRank matches on a real table and descending via negation") {
    val feats = graft.io.Sources.table(spark, graft.TestData.Sf0001, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(floor(col("o_totalprice") * lit(100.0) + lit(0.500001))
        .cast("long")).as("m"))
    val got = Ranks.withGlobalRank(feats, -col("m"), col("o_custkey"), "r")
      .select("o_custkey", "r").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = feats.select(col("o_custkey"),
        row_number().over(Window.orderBy(col("m").desc, col("o_custkey")))
          .cast("long").as("r"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
    assert(got.values.toSeq.sorted === (1L to got.size.toLong))
  }

  test("withPartitionedRank equals the naive per-key window on a tied, skewed fixture") {
    import spark.implicits._
    // 3 partition keys with heavy skew (key 0 holds ~70% of rows), tied
    // values within and across keys, negative values
    val df = (1 to 300).map { i =>
      val p = if (i % 10 < 7) "a" else if (i % 10 < 9) "b" else "c"
      (p, (i * 37) % 23 - 11L, i * 3L)
    }.toDF("p", "v", "k")
    for (buckets <- Seq(2, 16, 256)) {
      val got = Ranks.withPartitionedRank(df, col("p"), col("v"), col("k"),
          "r", buckets)
        .select("p", "k", "r").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      val want = df.select(col("p"), col("k"),
          row_number().over(Window.partitionBy(col("p"))
            .orderBy(col("v"), col("k"))).cast("long").as("r"))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got === want, s"buckets=$buckets diverges from per-key row_number")
    }
  }

  test("ntileOf matches the NTILE window for every n, k combination") {
    import spark.implicits._
    // every partition size 1..40 against k = 4: exhaustive over the
    // big/small tile boundary, including n < k
    val rows = for (n <- 1 to 40; r <- 1 to n) yield (n.toLong, r.toLong)
    val df = rows.toDF("n", "r")
    val got = df.select(col("n"), col("r"),
        Ranks.ntileOf(col("r"), col("n"), 4).as("t"))
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap
    val want = df.select(col("n"), col("r"),
        ntile(4).over(Window.partitionBy(col("n")).orderBy(col("r")))
          .cast("long").as("t"))
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap
    assert(got === want)
  }

  test("exactQuantileCont equals the Percentile aggregate bit-for-bit") {
    import spark.implicits._
    // heavy ties, negatives, non-uniform spacing; bandCap = 8 forces the
    // bucket-narrowing loop through multiple rounds
    val df = ((1 to 500).map(i => ((i * 37) % 97 - 48).toDouble / 7.0) ++
      Seq.fill(100)(3.0) ++ Seq(1e9, -1e9)).toDF("v")
    for (p <- Seq(0.0, 0.1, 0.25, 0.5, 0.9, 1.0)) {
      val want = df.agg(expr(s"percentile(v, $p)")).head.getDouble(0)
      val got = Ranks.exactQuantileCont(df, col("v"), p, bandCap = 8)
      assert(got === want, s"p=$p: quickselect $got vs percentile $want")
      graft.Blocks.releaseAll(spark)
    }
    // constant column: every quantile is the constant (the lo == hi exit)
    val const = Seq.fill(50)(7.5).toDF("v")
    assert(Ranks.exactQuantileCont(const, col("v"), 0.5, bandCap = 8) === 7.5)
  }

  test("withGlobalRank plans no partition-less window and rejects bad buckets") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    import spark.implicits._
    val df = Seq((1L, 1L), (2L, 2L)).toDF("v", "k")
    val lp = Ranks.withGlobalRank(df, col("v"), col("k"), "r")
      .queryExecution.optimizedPlan
    assert(lp.collect { case w: LWindow if w.partitionSpec.isEmpty => w }.isEmpty)
    intercept[IllegalArgumentException] {
      Ranks.withGlobalRank(df, col("v"), col("k"), "r", buckets = 1)
    }
  }
}
