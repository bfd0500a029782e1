package graft

import graft.io.Sources
import org.apache.spark.sql.functions._

/** Regression gate for the r3 block-lifecycle finding: operators may pin
  * cache/localCheckpoint blocks while their lazy result is alive, but a
  * harness-level sweep must return the block manager to a clean slate —
  * otherwise back-to-back queries contaminate each other's memory (and the
  * bench's timings, the one red signal of round 3).
  */
class BlocksSpec extends SparkSpec {

  private def persistedCount: Int = spark.sparkContext.getPersistentRDDs.size

  test("releaseAll sweeps localCheckpoint blocks left by LSH dedup") {
    Blocks.releaseAll(spark)
    val docs = Sources.table(spark, TestData.Sf0001, "documents")
    graft.dedup.Dedup.minhashNearDuplicates(docs, threshold = 0.3).count()
    assert(persistedCount > 0, "expected the signature checkpoint to be pinned")
    Blocks.releaseAll(spark)
    assert(persistedCount == 0, s"sweep left $persistedCount persisted RDDs")
  }

  test("q_clv_scores feature checkpoint rides the caller-sweep contract") {
    Blocks.releaseAll(spark)
    val df = graft.clv.ClvQueries.clvScores(spark, TestData.Sf0001)
    // r18: the RFM feature frame is localCheckpointed ONCE and serves the
    // guards, both fit compressions AND the returned lazy projection (the
    // r17 cache+unpersist-in-finally shape recomputed the whole aggregate
    // at sink time). Like the LSH signature checkpoints, the blocks must
    // outlive the call — the SparkEntry contract makes callers sweep.
    assert(persistedCount > 0,
      "expected the feature checkpoint to be pinned for the lazy projection")
    assert(df.count() > 0)
    Blocks.releaseAll(spark)
    assert(persistedCount == 0,
      s"sweep left $persistedCount persisted RDDs")
  }

  test("connectedComponents releases per-round state once the result is consumed") {
    Blocks.releaseAll(spark)
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val cc = graft.dedup.Dedup.connectedComponents(edges)
    val byId = cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId(3L) == 1L && byId(11L) == 10L)
    // per-round releases keep only the FINAL labels checkpoint alive
    assert(persistedCount <= 1,
      s"CC left $persistedCount persisted RDDs (expected just the final labels)")
    Blocks.releaseAll(spark)
    assert(persistedCount == 0)
  }
}
