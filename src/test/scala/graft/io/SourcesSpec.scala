package graft.io

import graft.SparkSpec
import java.nio.file.Files

class SourcesSpec extends SparkSpec {

  test("a table rewritten in place with a new schema is read with the new schema") {
    val dir = Files.createTempDirectory("graft_sources").toString
    spark.range(3).selectExpr("id AS a").write.parquet(s"$dir/t.parquet")
    assert(Sources.table(spark, dir, "t").columns.toSeq == Seq("a"))
    spark.range(3).selectExpr("id AS b", "'x' AS c")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val again = Sources.table(spark, dir, "t")
    assert(again.columns.toSeq == Seq("b", "c"))
    assert(again.where("c = 'x'").count() == 3L)
  }

  test("re-reading an unchanged table starts no Spark job before its first action") {
    val dir = Files.createTempDirectory("graft_sources_memo").toString
    spark.range(5).selectExpr("id AS a").write.parquet(s"$dir/t.parquet")
    // control: the first read infers the schema with a footer-read job
    val (_, first) = jobsIn(Sources.table(spark, dir, "t"))
    assert(first > 0, "schema inference should start a job")
    val (df, second) = jobsIn(Sources.table(spark, dir, "t"))
    assert(second == 0, s"memoized read started $second job(s)")
    assert(df.count() == 5L)
  }
}
