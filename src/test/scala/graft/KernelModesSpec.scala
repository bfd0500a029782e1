package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.operators.BloomBits
import graft.similarity.IvfModel
import graft.text.{BpeModel, LangModel, LmModel}

/** Every native kernel gives the same rows from generated code and from
  * interpreted eval. Generated code calls each kernel method by name;
  * interpreted eval finds it by reflection from the argument types, so a
  * signature that does not match its call fails only there.
  */
class KernelModesSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val Modes = Seq(
    "codegen" -> Map("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    "interpreted" -> Map("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  /** Fixed inputs, checkpointed so no optimizer rule folds a kernel over
    * literal rows: the last row is all NULL. */
  private def inputs(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (1, Option("the quick brown fox jumps over"), Option("the quick brown fix jumps"),
        Option(Seq(1.0f, 2.0f, -0.5f, 4.0f)), Option(Seq(0.5, -1.0, 2.0, 3.0)),
        Option(Seq(3L, 5L, 9L)), Option(Seq(3L, 4L, 9L)), Option(0.25), Option(7L)),
      (2, Option("résumé the café"), Option("résumé café"),
        Option(Seq(0.0f, 0.0f, 1.0f, 1.0f)), Option(Seq(1.0, 1.0, 1.0, 1.0)),
        Option(Seq(1L, 2L, 3L)), Option(Seq(1L, 2L, 3L)), Option(0.75), Option(8L)),
      (3, Option("zzz"), Option("zzy"),
        Option(Seq(-1.0f, 2.5f, 0.0f, 0.0f)), Option(Seq(2.0, 0.0, 0.0, -2.0)),
        Option(Seq(0L, 0L, 7L)), Option(Seq(7L, 0L, 0L)), Option(0.5), Option(9L)),
      (4, None, None, None, None, None, None, None, None))
      .toDF("id", "t1", "t2", "fa", "da", "la", "lb", "z", "k")
      .localCheckpoint()
  }

  /** One call of each of the 15 table functions, by SQL name. */
  private val tableCalls = Seq(
    "hyp2f1(1.5D, 2.0D, 3.0D, z)",
    "vec_dot(fa, fa)", "vec_dot(da, da)", "vec_dot(fa, da)",
    "minhash_sig(t1, 2, 8)",
    "simhash64(t1)",
    "winnow_fp(t1, 2, 2)",
    "graft_nfc(t1)",
    "shingle_hashes(t1, 2)",
    "minhash_from_hashes(shingle_hashes(t1, 2), 8)",
    "vec_maxsim(fa, da, 2)",
    "vec_qdot(la, lb, 1L)",
    "lanes_equal(minhash_sig(t1, 2, 8), minhash_sig(t2, 2, 8))",
    "sorted_inter_size(shingle_hashes(t1, 2), shingle_hashes(t2, 2))",
    "jaro_winkler(t1, t2)",
    "lev_banded(t1, t2, 6)",
    "graft_bucket_of(array(0.2D, 0.5D, 0.5D, 0.9D), z)")

  private def lang = {
    val table = new java.util.HashMap[String, Array[Double]]()
    table.put("the", Array(Double.NaN, -1.0))
    table.put("qui", Array(-2.0, -0.5))
    table.put("caf", Array(-0.5, Double.NaN))
    new LangModel(Array("de", "en"), table)
  }

  private def lm = {
    val table = new java.util.HashMap[String, java.lang.Long]()
    table.put("the", 5L)
    table.put("he ", 2L)
    new LmModel(table)
  }

  private def bloom = {
    val b = new BloomBits(new Array[Long](2), 3)
    b.put(7L)
    b.put(9L)
    b
  }

  private val ivf = new IvfModel(Array(Array(1.0, 0.0, 0.0, 0.0),
    Array(0.0, 1.0, 0.0, 0.0), Array(0.0, 0.0, 1.0, 1.0)))

  /** One call of each of the five model kernels. */
  private def modelCalls: Seq[Column] = Seq(
    lang.column(col("t1")),
    lm.column(col("t1")),
    new BpeModel(Array(("t", "h"), ("th", "e"), ("o", "v"))).column(col("t1")),
    ivf.column(col("fa"), 2),
    ivf.column(col("da"), 3),
    bloom.column(col("k")))

  /** Rows of `build` in each mode, after checking that the mode really
    * switched whole-stage codegen on or off. */
  private def inEachMode(build: DataFrame => DataFrame): Seq[Seq[Row]] =
    Modes.map { case (mode, conf) =>
      val s = spark.newSession()
      conf.foreach { case (k, v) => s.conf.set(k, v) }
      val df = build(inputs(s))
      val rows = df.collect().toSeq.sortBy(_.getInt(0))
      val plan = df.queryExecution.executedPlan
      val codegen = find(plan)(_.isInstanceOf[WholeStageCodegenExec]).isDefined
      assert(codegen == (mode == "codegen"), s"$mode plan:\n$plan")
      rows
    }

  test("the table calls cover every table function") {
    val called = tableCalls.flatMap("""(\w+)\(""".r.findAllMatchIn(_).map(_.group(1))).toSet
    assert(GraftExtensions.functions.map(_._1).toSet.subsetOf(called))
  }

  test("every table function: generated code and interpreted eval agree") {
    val Seq(codegen, interpreted) = inEachMode(_.selectExpr("id" +: tableCalls: _*))
    assert(codegen.length == 4)
    assert(codegen == interpreted)
    assert(codegen.last.toSeq.tail.forall(_ == null), codegen.last)
  }

  test("every model kernel: generated code and interpreted eval agree") {
    val Seq(codegen, interpreted) = inEachMode(in =>
      in.where(bloom.column(col("k")) || col("k").isNull).select(col("id") +: modelCalls: _*))
    assert(codegen == interpreted)
    assert(codegen.map(_.getInt(0)) == Seq(1, 3, 4), "the bloom filter keeps keys 7 and 9")
    assert(codegen.head.getString(1) == "en")
    assert(codegen(1).isNullAt(1), "no trigram of 'zzz' is in the language profile")
    assert(codegen.last.toSeq.tail.forall(_ == null), codegen.last)
  }
}
