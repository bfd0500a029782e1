package graft.tools

import graft.{Blocks, Sessions}

/** Time harness queries N times each in one fresh session:
  * `runMain graft.tools.TimeProbe <q1[,q2,..]> [sfDir] [n]`. Run 1 carries
  * the per-query plan/codegen/JVM-warmup cost, later runs read steady
  * state. Per-run block sweep, same noop sink as Bench.
  */
object TimeProbe {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val n = if (args.length > 2) args(2).toInt else 3
    val spark = Sessions.local()
    for (name <- names; i <- 1 to n) {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      println(f"[probe] $name run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      Blocks.releaseAll(spark)
    }
    spark.stop()
  }
}
