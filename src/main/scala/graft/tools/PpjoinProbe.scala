package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Sessions
import graft.io.Sources

/** One-off measurement backing the Dedup.setSimJoinPrefix scaladoc: the
  * candidate-pair count before the exact-verify join, with and without
  * the PPJoin positional filter (Xiao et al. 2008), at the bench SF.
  */
object PpjoinProbe {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    val threshold = 0.8
    val k = 3
    val docs = Sources.table(spark, "/root/testdata/sf0.1", "documents")
    val sets = docs.select(col("doc_id"),
      graft.dedup.Dedup.shingleHashSet(col("text"), k).as("sh"))
      .localCheckpoint()
    val tokens = sets.select(col("doc_id"), size(col("sh")).as("len"),
      explode(col("sh")).as("g"))
    val dfreq = tokens.groupBy("g").agg(count(lit(1)).as("df"))
    val pos = row_number().over(
      Window.partitionBy(col("doc_id")).orderBy(col("df"), col("g")))
    val prefix = tokens.join(dfreq, Seq("g"))
      .select(col("doc_id"), col("len"), col("g"), pos.as("pos"))
      .where(col("pos") <= col("len") - ceil(lit(threshold) * col("len")) + 1)
    val a = prefix.select(col("g"), col("doc_id").as("doc_a"),
      col("len").as("len_a"), col("pos").as("pos_a"))
    val b = prefix.select(col("g"), col("doc_id").as("doc_b"),
      col("len").as("len_b"), col("pos").as("pos_b"))
    val base = a.join(b, Seq("g"))
      .where(col("doc_a") < col("doc_b") &&
        col("len_b") >= ceil(lit(threshold) * col("len_a")) &&
        col("len_a") >= ceil(lit(threshold) * col("len_b")))
    val alpha = ceil(lit(threshold / (1.0 + threshold)) *
      (col("len_a") + col("len_b")))
    val posFiltered = base.where(
      lit(1) + least(col("len_a") - col("pos_a"),
        col("len_b") - col("pos_b")) >= alpha)
    val without = base.select("doc_a", "doc_b").distinct().count()
    val withPos = posFiltered.select("doc_a", "doc_b").distinct().count()
    println(s"candidate pairs without positional filter: $without")
    println(s"candidate pairs with positional filter:    $withPos " +
      f"(${100.0 * (without - withPos) / without}%.1f%% drop)")
    spark.stop()
  }
}
