package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.clv.ClvModel
import graft.io.{Catalog, Sources}
import graft.model.Schemas
import graft.operators.Rfm
import graft.quality.Firewall
import graft.sim.Generate

/** The pipeline driver — the reference DAG's task graph as a sequential
  * program (reference: dags/clv_data_dag.py:115
  * `generate >> load >> transform >> validate >> predict`):
  *
  *  C1  strict ordering; a validation raise aborts before scoring — the
  *      firewall genuinely BLOCKS the model stage
  *  C2  XCom value passing → ordinary return values
  *  C3  fail-fast gates → exceptions from Firewall / ClvModel guards
  *  C4  idempotent DDL → Catalog.createIfNotExists
  *
  * Physical behavior preserved from the reference: staging and the user
  * registry are append-only logs; features and predictions are
  * fully-recomputed snapshots (CREATE OR REPLACE / WRITE_TRUNCATE).
  */
object Pipeline {

  final case class Dirs(staging: String, masterUsers: String,
      features: String, predictedClv: String)

  /** One daily run: generate a batch, append it, recompute features over the
    * FULL history (the reference is O(history) per run by design — SURVEY
    * §4.1), validate, then score. Returns the scored frame, which is empty
    * (and `predictedClv` left as it was) on a day with no returning
    * customer.
    */
  def runDaily(spark: SparkSession, dirs: Dirs, windowStartUtc: String,
      asOfDate: String, seed: Long,
      newUsers: Int = 10, returningUsers: Int = 200): DataFrame = {
    // -- generate (+ registry append, create-if-needed: S7/S8/C4) ----------
    Catalog.createIfNotExists(spark, dirs.masterUsers, Schemas.masterUsers)
    val maxId = Catalog.readOrEmpty(spark, dirs.masterUsers, Schemas.masterUsers)
      .agg(coalesce(max(col("CustomerID")), lit(0L))).first().getLong(0)
    val (batch, newIds) = Generate.dailyBatch(spark, maxId, windowStartUtc, seed,
      newUsers, returningUsers)
    Sources.appendParquet(batch, dirs.staging)
    Sources.appendParquet(newIds, dirs.masterUsers)

    transformValidateScore(spark, spark.read.parquet(dirs.staging), dirs, asOfDate)
  }

  /** The reference-corpus pipeline: ingest every CSV under `corpusGlob`
    * (including the float-formatted-CustomerID files, SURVEY §1.4) and run
    * transform → validate → score.
    */
  def runOnCorpus(spark: SparkSession, corpusGlob: String, dirs: Dirs,
      asOfDate: String): DataFrame = {
    val staging = Sources.referenceTransactionsCsv(spark, corpusGlob)
    Sources.overwriteParquet(staging, dirs.staging)
    transformValidateScore(spark, Sources.readSnapshot(spark, dirs.staging),
      dirs, asOfDate)
  }

  /** transform → firewall gate → model — shared tail of both entry points.
    * The Firewall call THROWS on bad data, so scoring never runs (C1).
    */
  private def transformValidateScore(spark: SparkSession, staging: DataFrame,
      dirs: Dirs, asOfDate: String): DataFrame = {
    // -- transform: RFM-T snapshot (CREATE OR REPLACE) ---------------------
    val features = Rfm.customerFeatures(staging, to_date(lit(asOfDate)))
    Sources.overwriteParquet(features, dirs.features)
    val featuresOnDisk = Sources.readSnapshot(spark, dirs.features)

    // -- validate: firewall blocks scoring on failure (C1/C3) --------------
    Firewall.validateFeatures(staging, featuresOnDisk)

    // -- predict: CLV scoring, snapshot write (WRITE_TRUNCATE) -------------
    // A day without a returning customer scores nothing and skips the
    // write, so the previous snapshot, if any, stays live (reference:
    // dags/clv_models.py:100–112 skips save_data on an empty frame).
    val prepared = ClvModel.prepare(featuresOnDisk)
    ClvModel.scoreReturning(prepared) match {
      case Some(scored) =>
        Sources.overwriteParquet(ClvModel.outputColumns(scored), dirs.predictedClv)
        Sources.readSnapshot(spark, dirs.predictedClv)
      case None => ClvModel.outputColumns(ClvModel.unscored(prepared))
    }
  }
}
