package graft.model

import org.apache.spark.sql.types._

/** Explicit StructTypes for the warehouse path's raw tables: the
  * transactions CSV corpus as read and the master user registry. The
  * pipeline stays on DataFrames; the model path's column contract is
  * `ClvModel.expectedColumns`.
  *
  * The reference declares every schema explicitly and disables autodetect
  * (reference: dags/clv_data_dag.py:19–25,73); we mirror that: inference is
  * never used on the warehouse path.
  */
object Schemas {

  /** Permissive CSV-read schema absorbing the corpus quirks (SURVEY §1.4):
    * CustomerID is float-formatted ("209.0") in the three oldest files, so it
    * is read as double and cast to long downstream; timestamps carry
    * nanosecond precision + "+00:00" offsets and truncate to µs on parse.
    */
  val transactionsCsvRaw: StructType = StructType(Seq(
    StructField("CustomerID", DoubleType, nullable = true),
    StructField("Quantity", IntegerType, nullable = true),
    StructField("UnitPrice", DoubleType, nullable = true),
    StructField("order_timestamp", TimestampType, nullable = true),
    StructField("TotalPurchase", DoubleType, nullable = true)))

  /** master_users (reference: dags/simulate_data.py:56–58). */
  val masterUsers: StructType = StructType(Seq(
    StructField("CustomerID", LongType, nullable = false)))
}
