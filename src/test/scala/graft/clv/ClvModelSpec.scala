package graft.clv

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ports of the reference's model-side pytest suite
  * (tests/test_clv_logic.py:16–95) plus fidelity checks the reference
  * doesn't have. Error messages are asserted verbatim — the reference's own
  * tests do the same.
  */
class ClvModelSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types._

  private def mockFeatures(): DataFrame = {
    val schema = StructType(Seq(
      StructField("customer_id", LongType), StructField("recency", LongType),
      StructField("t", LongType), StructField("frequency", LongType),
      StructField("monetary", DoubleType),
      StructField("first_purchase", StringType), StructField("last_purchase", StringType)))
    spark.createDataFrame(Seq(
      Row(1L, 100L, 150L, 2L, 50.0, "2025-01-01", "2025-03-01"),
      Row(2L, 110L, 160L, 3L, 60.0, "2025-01-02", "2025-03-02"),
      Row(3L, 120L, 170L, 4L, 70.0, "2025-01-03", "2025-03-03")).asJava, schema)
  }

  // test_clv_happy_path (test_clv_logic.py:16–36)
  test("happy path: normal customers produce a valid CLV") {
    val out = ClvModel.runClvLogic(mockFeatures())
    assert(!out.isEmpty)
    assert(out.columns.contains("clv"))
    val rows = out.select("customer_id", "clv", "predicted_purchases", "predicted_avg_value")
      .collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(!r.getDouble(1).isNaN && r.getDouble(1) >= 0.0)
      assert(r.getDouble(2) > 0.0)
      assert(r.getDouble(3) > 0.0)
    }
  }

  // test_missing_column_error (test_clv_logic.py:39–57)
  test("missing 'monetary' column raises Bad Schema") {
    val bad = mockFeatures().drop("monetary")
    val e = intercept[IllegalArgumentException](ClvModel.runClvLogic(bad))
    assert(e.getMessage.contains("Bad Schema"))
  }

  // test_negative_clv_clipping_authentic (test_clv_logic.py:60–82)
  test("negative CLV is floored to 0 and flagged; >1e6 flagged as outlier") {
    import spark.implicits._
    val df = Seq((1L, -100.0), (2L, 2000000.0), (3L, 500.0))
      .toDF("customer_id", "clv")
    val fixed = ClvModel.applyDataQualityFixes(df)
      .orderBy("customer_id").collect()
    assert(fixed(0).getAs[Double]("clv") == 0.0)
    assert(fixed(0).getAs[Int]("negatif_clv_flag") == 1)
    assert(fixed(0).getAs[Int]("outliners_flag") == 0)
    assert(fixed(1).getAs[Int]("outliners_flag") == 1)
    assert(fixed(1).getAs[Int]("negatif_clv_flag") == 0)
    assert(fixed(2).getAs[Int]("negatif_clv_flag") == 0)
    assert(fixed(2).getAs[Int]("outliners_flag") == 0)
  }

  // test_empty_df_as_input (test_clv_logic.py:85–95)
  test("empty input frame raises INPUT ERROR") {
    val empty = mockFeatures().filter(lit(false))
    val e = intercept[IllegalArgumentException](ClvModel.runClvLogic(empty))
    assert(e.getMessage == "INPUT ERROR: Dataframe is empty")
  }

  test("prepare lowercases columns and renames monetary_value to monetary") {
    import spark.implicits._
    val df = Seq((1L, 5.0)).toDF("Customer_ID", "Monetary_Value")
    assert(ClvModel.prepare(df).columns.toSeq == Seq("customer_id", "monetary"))
  }

  test("empty-after-filter does NOT raise (only empty INPUT does)") {
    // reference: run_clv_logic raises on empty input but an all-one-shot
    // customer base (frequency=0 everywhere) just yields an empty result
    // (dags/clv_models.py:108 skips the save).
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("customer_id", LongType), StructField("recency", LongType),
      StructField("t", LongType), StructField("frequency", LongType),
      StructField("monetary", DoubleType),
      StructField("first_purchase", StringType), StructField("last_purchase", StringType)))
    val oneShot = spark.createDataFrame(Seq(
      Row(1L, 0L, 150L, 0L, 50.0, "2025-01-01", "2025-01-01")).asJava, schema)
    val out = ClvModel.runClvLogic(oneShot)
    assert(out.isEmpty)
    assert(ClvModel.outputColumns(out).columns.toSeq == Seq("customer_id",
      "predicted_purchases", "predicted_avg_value", "clv", "negatif_clv_flag",
      "outliners_flag"))
    assert(ClvModel.scoreReturning(oneShot).isEmpty, "nothing to fit, nothing to save")
  }
}
