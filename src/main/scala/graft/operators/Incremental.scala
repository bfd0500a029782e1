package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.Sources.{table => t}

/** Incremental-maintenance operator family: the MERGE/upsert, SCD-2
  * history, and batch-vs-corpus incremental-dedup shapes that turn the
  * reference's full-recompute snapshot model into an incremental one.
  *
  * Reference anchor: the reference keeps an append-only transaction log
  * (WRITE_APPEND, reference dags/clv_data_dag.py:68) and rebuilds every
  * downstream snapshot from scratch each run (CREATE OR REPLACE,
  * dags/clv_data_dag.py:80; WRITE_TRUNCATE, dags/clv_models.py:96). At
  * 100 TB a full recompute per daily batch is the dominant cost of the
  * whole pipeline; these operators are the standard warehouse answers —
  * latest-row-wins MERGE (SCD type 1), validity-interval history (SCD
  * type 2), and dedup-of-new-batch-against-corpus — each expressed in
  * the minimum number of shuffles and with the big side never moving.
  */
object Incremental {

  /** Snapshot/delta boundary for q_merge_upsert: orders strictly before
    * the cutoff form the base snapshot, the rest are the change batch. */
  val MergeCutoff = "2000-01-01"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- SCD-1 MERGE (latest-row-wins upsert) -----------------------------
    // Applies the post-cutoff order batch onto the pre-cutoff per-customer
    // snapshot: latest row per key wins, and each output row is classified
    // as carried (base only), inserted (delta only), or updated (both).
    // Plan shape: the textbook MERGE is two per-side latest-row windows
    // plus a full-outer join — three shuffles, two of them over the big
    // snapshot. This is instead ONE shuffle: union the sides with an
    // is_delta tag and resolve winner AND classification in a single
    // window pass (row_number for the winner; the partition-wide max of
    // the tag and its complement decide the action). Both window specs
    // share the o_custkey partitioning, so Catalyst plans one Exchange.
    // At 100 TB the delta is orders of magnitude smaller than the base,
    // and the single shuffle is the price ANY co-partitioned merge pays.
    "q_merge_upsert" -> ((s, dir) => {
      val cutoff = lit(MergeCutoff).cast("date")
      val o = t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"), to_date(col("o_orderdate")).as("od"))
        .withColumn("is_delta", (col("od") >= cutoff).cast("int"))
      val byKey = Window.partitionBy("o_custkey")
      val latest = byKey.orderBy(col("od").desc, col("o_orderkey").desc)
      o.select(col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
          col("od"),
          row_number().over(latest).as("rn"),
          max(col("is_delta")).over(byKey).as("has_delta"),
          max(lit(1) - col("is_delta")).over(byKey).as("has_base"))
        .where(col("rn") === 1)
        .select(col("o_custkey").as("custkey"),
          col("o_orderstatus").as("status"),
          col("o_totalprice").as("totalprice"),
          col("od").as("as_of"),
          when(col("has_delta") === 1 && col("has_base") === 1, "updated")
            .when(col("has_delta") === 1, "inserted")
            .otherwise("carried").as("action"))
        .orderBy("custkey")
    }),

    // ---- SCD-2 validity-interval history ----------------------------------
    // Compresses the append-only event log into per-user state history:
    // one row per event_type CHANGE, carrying [valid_from, valid_to)
    // intervals, a version counter, and the is_current flag. Plan shape:
    // lag() detects changes, lead()/row_number() over the filtered change
    // rows build the intervals — all three windows share the user_id
    // partitioning and the (ts, event_id) sort, so the plan is ONE
    // Exchange + one sort feeding two Window nodes with a filter between.
    // The log never re-shuffles and the output is bounded by the number
    // of state transitions, not the number of events.
    "q_scd2_history" -> ((s, dir) => {
      val byUser = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val changes = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("prev", lag(col("event_type"), 1).over(byUser))
        .where(col("prev").isNull || col("prev") =!= col("event_type"))
      changes
        .select(col("user_id"), col("event_type"),
          col("ts").as("valid_from"),
          lead(col("ts"), 1).over(byUser).as("valid_to"),
          row_number().over(byUser).cast("long").as("version"))
        .withColumn("is_current", col("valid_to").isNull.cast("long"))
        .orderBy("user_id", "version")
    }),

    // ---- incremental dedup: new batch vs existing corpus ------------------
    // The daily-ingest dedup shape: an arriving batch (docs with
    // doc_id % 10 = 0) is exact-deduped within itself, then against the
    // standing corpus (every other doc, plus planted copies of half the
    // batch — doc_id % 20 = 0, re-keyed +2e6 — so collisions exist at
    // every SF). Plan shape: the batch's distinct content-hash set is
    // TINY and broadcasts INTO the corpus scan as a semi-join — the
    // corpus (the 100 TB side) is scanned once and never shuffles; the
    // surviving hash-collision set is again tiny and broadcasts back
    // against the batch as an anti-join. Total: zero shuffles over the
    // corpus, two broadcasts sized by the batch. The plain two-sided
    // shuffled anti-join this replaces would move the full corpus.
    "q_incremental_dedup" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(
        col("doc_id"), col("text"), col("source"))
      val batch = d.where(col("doc_id") % 10 === 0)
        .withColumn("h", md5(col("text")))
      val corpus = d.where(col("doc_id") % 10 =!= 0)
        .unionByName(d.where(col("doc_id") % 20 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text"),
            col("source")))
      val inBatch = Window.partitionBy("h").orderBy("doc_id")
      val batchDedup = batch
        .withColumn("rn", row_number().over(inBatch))
        .where(col("rn") === 1)
      val collisions = corpus.select(md5(col("text")).as("h"))
        .join(broadcast(batchDedup.select("h")), Seq("h"), "left_semi")
        .distinct()
      batchDedup.join(broadcast(collisions), Seq("h"), "left_anti")
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    }),

    // ---- incremental aggregate maintenance (materialized view + CDC) ------
    // The other half of the full-recompute problem: a per-customer order
    // aggregate (count + revenue) maintained under a CDC batch of inserts
    // AND deletes, without rescanning the base. count/sum are retractable:
    // the delta folds to signed per-group partials (op = ±1), and the new
    // state is one co-partitioned full-outer merge of old state ⟗ delta
    // partials; groups retracted to zero rows drop out. Cost at 100 TB:
    // the delta shuffles ITS OWN size; the state side is bucketed on the
    // group key in a real warehouse, so the merge join never reshuffles
    // the big side. Revenue is kept in integer cents (floor(x·100+½)), so
    // maintained-vs-recomputed equality is EXACT — no float-summation
    // drift between the incremental and the from-scratch order of adds.
    // Fixture CDC: inserts = o_orderkey % 10 = 0 (not in base), deletes =
    // base rows with o_orderkey % 17 = 0.
    "q_incremental_agg" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
        floor(col("o_totalprice") * 100 + lit(0.500001)).cast("long").as("cents"))
      val base = o.where(col("o_orderkey") % 10 =!= 0)
      val delta = o.where(col("o_orderkey") % 10 === 0)
        .select(col("o_custkey"), col("cents"), lit(1L).as("op"))
        .unionByName(base.where(col("o_orderkey") % 17 === 0)
          .select(col("o_custkey"), col("cents"), lit(-1L).as("op")))
      val state = base.groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"), sum("cents").as("sum_cents"))
      val deltaAgg = delta.groupBy("o_custkey")
        .agg(sum(col("op")).as("d_n"), sum(col("op") * col("cents")).as("d_sum"))
      state.join(deltaAgg, Seq("o_custkey"), "full")
        .select(col("o_custkey"),
          (coalesce(col("n_orders"), lit(0L)) + coalesce(col("d_n"), lit(0L)))
            .as("n_orders"),
          (coalesce(col("sum_cents"), lit(0L)) + coalesce(col("d_sum"), lit(0L)))
            .as("sum_cents"))
        .where(col("n_orders") > 0)
        .orderBy("o_custkey")
    })
  )

  val oracleSql: Map[String, String] = Map(

    "q_merge_upsert" ->
      s"""WITH o AS (
         |  SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice,
         |    CAST(o_orderdate AS DATE) AS od,
         |    CASE WHEN CAST(o_orderdate AS DATE) >= DATE '$MergeCutoff'
         |         THEN 1 ELSE 0 END AS is_delta
         |  FROM orders
         |), r AS (
         |  SELECT o_custkey, o_orderstatus, o_totalprice, od,
         |    ROW_NUMBER() OVER (PARTITION BY o_custkey
         |      ORDER BY od DESC, o_orderkey DESC) AS rn,
         |    MAX(is_delta) OVER (PARTITION BY o_custkey) AS has_delta,
         |    MAX(1 - is_delta) OVER (PARTITION BY o_custkey) AS has_base
         |  FROM o
         |)
         |SELECT o_custkey AS custkey, o_orderstatus AS status,
         |  o_totalprice AS totalprice, od AS as_of,
         |  CASE WHEN has_delta = 1 AND has_base = 1 THEN 'updated'
         |       WHEN has_delta = 1 THEN 'inserted'
         |       ELSE 'carried' END AS action
         |FROM r WHERE rn = 1 ORDER BY custkey""".stripMargin,

    "q_scd2_history" ->
      """WITH c AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    LAG(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events
        |), ch AS (
        |  SELECT user_id, event_type, ts, event_id FROM c
        |  WHERE prev IS NULL OR prev <> event_type
        |)
        |SELECT user_id, event_type, ts AS valid_from,
        |  LEAD(ts) OVER w AS valid_to,
        |  CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
        |  CAST(CASE WHEN LEAD(ts) OVER w IS NULL THEN 1 ELSE 0 END AS BIGINT)
        |    AS is_current
        |FROM ch
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, version""".stripMargin,

    "q_incremental_dedup" ->
      """WITH batch AS (
        |  SELECT doc_id, source, md5(text) AS h,
        |    ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM documents WHERE doc_id % 10 = 0
        |), corpus AS (
        |  SELECT md5(text) AS h FROM documents WHERE doc_id % 10 <> 0
        |  UNION ALL
        |  SELECT md5(text) AS h FROM documents WHERE doc_id % 20 = 0
        |)
        |SELECT doc_id, source FROM batch
        |WHERE rn = 1 AND h NOT IN (SELECT h FROM corpus)
        |ORDER BY doc_id""".stripMargin,

    // the oracle recomputes FROM SCRATCH over the post-CDC row set —
    // maintained state must equal it exactly (integer cents, no drift)
    "q_incremental_agg" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(FLOOR(o_totalprice * 100 + 0.500001) AS BIGINT) AS cents
        |  FROM orders
        |), final AS (
        |  SELECT o_custkey, cents FROM o
        |  WHERE (o_orderkey % 10 <> 0 AND o_orderkey % 17 <> 0)
        |     OR o_orderkey % 10 = 0
        |)
        |SELECT o_custkey, COUNT(*) AS n_orders,
        |  CAST(SUM(cents) AS BIGINT) AS sum_cents
        |FROM final GROUP BY o_custkey ORDER BY o_custkey""".stripMargin
  )
}
