package graft.operators

import graft.SparkSpec
import graft.io.Sources
import org.apache.spark.sql.functions._

class SkewSpec extends SparkSpec {

  private val sf = graft.TestData.Sf0001

  test("salted join returns exactly the plain inner join") {
    val orders = Sources.table(spark, sf, "orders")
    val cust = Sources.table(spark, sf, "customer")
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    val salted = Skew.saltedJoin(orders, cust, "o_custkey", salts = 8)
      .select("o_orderkey", "o_custkey", "c_mktsegment")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val plain = orders.join(cust, "o_custkey")
      .select("o_orderkey", "o_custkey", "c_mktsegment")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(salted == plain,
      s"diff: ${(salted diff plain).take(3)} / ${(plain diff salted).take(3)}")
  }

  test("salting actually spreads a hot key over multiple sub-keys") {
    import spark.implicits._
    // one key carrying 1000 rows with varying payloads — the skew case
    val hot = (0 until 1000).map(i => (42L, s"payload_$i")).toDF("k", "v")
    val salts = hot.withColumn("__salt",
        pmod(xxhash64(struct(col("k"), col("v"))), lit(8L)))
      .select(countDistinct(col("__salt"))).head().getLong(0)
    assert(salts >= 6, s"hot key should scatter over ~8 salts, got $salts")
  }

  test("salted aggregate matches the plain aggregate") {
    val li = Sources.table(spark, sf, "lineitem")
    val salted = Skew.saltedAggregate(li, Seq("l_returnflag"), salts = 16,
        Seq(Skew.AggSpec("sum", "l_quantity", "sum_qty"),
          Skew.AggSpec("avg", "l_quantity", "avg_qty")))
      .collect().map(r => (r.getString(0),
        math.round(r.getDouble(1) * 100), math.round(r.getDouble(2) * 10000))).toSet
    val plain = li.groupBy("l_returnflag")
      .agg(sum("l_quantity").as("s"), avg("l_quantity").as("a"))
      .collect().map(r => (r.getString(0),
        math.round(r.getDouble(1) * 100), math.round(r.getDouble(2) * 10000))).toSet
    assert(salted == plain)
  }
}
