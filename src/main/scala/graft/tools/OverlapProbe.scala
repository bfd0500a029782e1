package graft.tools

import org.apache.spark.sql.functions._
import graft.{Blocks, Sessions}
import graft.io.Sources

/** One-off measurement for the q_source_overlap envelope band: per-SF,
  * the corpus-level minhash-union Jaccard estimate between two sources
  * vs the exact distinct-shingle Jaccard. Sets the contract band with
  * measured margin (graft-envelope-bands rule: size at the smallest SF).
  */
object OverlapProbe {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val d = Sources.table(spark, s"/root/testdata/$sf", "documents")
        .where(col("source").isin("src0", "src1"))
      val lanes = d.select(col("source"),
          posexplode(call_function("minhash_sig", col("text"), lit(3), lit(64)))
            .as(Seq("pos", "h")))
        .groupBy("pos")
        .agg(min(when(col("source") === "src0", col("h"))).as("h0"),
          min(when(col("source") === "src1", col("h"))).as("h1"))
      val est = lanes.agg(avg((col("h0") === col("h1")).cast("double")))
        .head().getDouble(0)
      val sets = d.select(col("source"),
          explode(graft.dedup.Dedup.shingleHashSet(col("text"), 3)).as("h"))
        .distinct()
      val exact = sets.groupBy("h")
        .agg(countDistinct(col("source")).as("ns"))
        .agg(count(lit(1)).as("u"), sum((col("ns") === 2).cast("long")).as("i"))
        .head()
      val ex = exact.getLong(1).toDouble / exact.getLong(0)
      println(f"[overlap] $sf est=$est%.4f exact=$ex%.4f err=${math.abs(est - ex)}%.4f")
      Blocks.releaseAll(spark)
    }
    spark.stop()
  }
}
