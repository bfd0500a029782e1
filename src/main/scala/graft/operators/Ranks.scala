package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact global ranking WITHOUT a single-partition window.
  *
  * `row_number() OVER (ORDER BY v, tie)` is the one plan shape in the
  * engine that cannot survive a 100× scale-up: every row streams through
  * ONE task. Four queries (q_gini, q_quantile_normalize, q_kendall_w,
  * q_trimmed_mean) used it deliberately on customer-bounded frames with a
  * documented swap path; this object IS that swap — the two-level
  * prefix-sum pattern already shipped for hash-ordered sums in
  * `Sampling.tokenBudgetMix`, adapted to VALUE ordering:
  *
  *  1. every requested sort key explodes into a (key-index, value) lane —
  *     ONE pass shares the fixed cost across multiple rankings (the
  *     q_kendall_w case: three rankings, one frame), and the lane frame is
  *     localCheckpoint'd because the boundary and offset broadcast
  *     subtrees below would otherwise each re-run the input lineage
  *     (measured 5.9 s → 1.3 s on the triple ranking; blocks release via
  *     the session sweep);
  *  2. bucket boundaries: per lane, `buckets−1` approx-quantile cuts (one
  *     map-side-combining aggregate to a ≤K-row frame, broadcast back) —
  *     balanced buckets by construction, no collect, no RNG;
  *  3. bucket offsets: per-(lane, bucket) row counts roll up map-side into
  *     a ≤K·`buckets`-row frame whose per-lane prefix sums are a window
  *     over that TINY frame (schema-bounded by the `buckets` constant,
  *     never data-sized);
  *  4. exact rank = bucket offset (broadcast back) + `row_number` within
  *     the (lane, bucket) — K·`buckets` uniform partitions, no hot task;
  *     ranks pivot back to one row per tie-key and join onto the input.
  *
  * Equality to the global `row_number` is structural: the bucket function
  * `#{boundary < v_double}` is monotone non-decreasing in the sort key
  * (double cast is monotone, strictness at boundaries irrelevant), so
  * bucket order extends value order; within-bucket ordering uses the same
  * double plus the tie-break, so concatenating buckets in order reproduces
  * the exact global permutation row-for-row regardless of where the
  * approximate boundaries land. RanksSpec asserts equality against the
  * naive global window on tied fixtures and real tables.
  *
  * Scale: with the default 256 buckets a 10-billion-row frame puts ~40 M
  * rows per ranking task; at true 100 TB pass `buckets = 64k`.
  *
  * Contract: sort keys must be numeric-castable (dates via `datediff`
  * against an anchor), non-null, and double-exact (|v| < 2⁵³ — all call
  * sites rank integer cents/counts/day-offsets); the tie column must be
  * unique per row; rank direction is ascending — callers rank descending
  * by negating the key.
  */
object Ranks {

  /** `df` plus a BIGINT column `out` = the 1-based global rank of each row
    * under `(sortKey ASC, tie ASC)` — exactly `row_number() OVER (ORDER BY
    * sortKey, tie)`, computed with no single-partition stage. The direct
    * single-key path: the rank attaches on the bucketed frame itself (no
    * lane pivot, no join-back).
    */
  def withGlobalRank(df: DataFrame, sortKey: Column, tie: Column,
      out: String, buckets: Int = 256): DataFrame = {
    require(buckets >= 2 && buckets <= (1 << 16),
      s"buckets must be in [2, 65536]: $buckets")
    val cols = df.columns.map(col).toIndexedSeq
    // localCheckpoint: the frame feeds the boundary aggregate's broadcast
    // subtree, the offset aggregate's broadcast subtree, AND the ranking
    // join — each would otherwise re-run the full input lineage
    val keyed = df
      .withColumn("__rk_v", sortKey.cast("double"))
      .withColumn("__rk_t", tie)
      .localCheckpoint()
    val bnds = keyed.agg(
      percentile_approx(col("__rk_v"), probsFor(buckets), lit(10000))
        .as("__rk_bnds"))
    val bucketed = keyed.crossJoin(broadcast(bnds))
      .withColumn("__rk_b", bucketOf(col("__rk_bnds"), col("__rk_v")))
      .drop("__rk_bnds")
    // ≤ `buckets` rows: the ONLY ordered-prefix window in the pattern
    // runs over this constant-bounded frame
    val offsets = bucketed.groupBy("__rk_b")
      .agg(count(lit(1)).as("__rk_c"))
      .withColumn("__rk_off", coalesce(
        sum(col("__rk_c")).over(
          BoundedWindow.ordered(col("__rk_b"), col("__rk_b"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__rk_b", "__rk_off")
    val wLocal = Window.partitionBy(col("__rk_b"))
      .orderBy(col("__rk_v"), col("__rk_t"))
    bucketed.join(broadcast(offsets), Seq("__rk_b"))
      .withColumn(out,
        (col("__rk_off") + row_number().over(wLocal)).cast("long"))
      .select(cols :+ col(out): _*)
  }

  /** Per-partition-key exact ranking — `row_number() OVER (PARTITION BY
    * part ORDER BY sortKey, tie)` for LOW-CARDINALITY partition keys over
    * data-sized frames, with no hot single task.
    *
    * A plain Window with `partitionBy(part)` is only scale-safe when the
    * key cardinality grows with the data (customer, order). When the key is
    * schema-bounded-small — `c_mktsegment` has 5 values, `o_orderstatus` 3
    * — the widest partition streams a constant FRACTION of the corpus
    * through one task (~20% of all customers for q_window_ntile), which is
    * the same moves-data-to-one-task shape as a partition-less window,
    * merely divided by five. This is [[withGlobalRank]] with the partition
    * key as the lane: boundaries and offsets compute per (part, bucket) —
    * the offsets frame is |parts|·buckets rows, schema-bounded — and the
    * ranking window partitions by (part, bucket): |parts|·`buckets`
    * uniform tasks regardless of per-key skew. Equality to the per-key
    * global window is the same monotone-bucket argument as
    * [[withGlobalRank]], applied independently within each key.
    *
    * The distribution functions derive from the exact rank r and the
    * per-key count n (callers broadcast-join a groupBy(part) count):
    * `percent_rank = (r−1)/(n−1)`, `cume_dist = r/n` (order keys unique at
    * every call site, so RANK ≡ ROW_NUMBER), and ntile via [[ntileOf]].
    */
  def withPartitionedRank(df: DataFrame, part: Column, sortKey: Column,
      tie: Column, out: String, buckets: Int = 256,
      nOut: String = null, checkpoint: Boolean = true): DataFrame = {
    require(buckets >= 2 && buckets <= (1 << 16),
      s"buckets must be in [2, 65536]: $buckets")
    val cols = df.columns.map(col).toIndexedSeq
    // checkpoint = false when `df` is a bare scan/projection: the boundary
    // and offset subtrees then re-run a cheap column-pruned parquet read
    // instead of paying a full materialization pass; keep the default for
    // expensive lineages (the q_kendall_w case: 5.9 s → 1.3 s WITH it)
    val keyed0 = df
      .withColumn("__rk_p", part)
      .withColumn("__rk_v", sortKey.cast("double"))
      .withColumn("__rk_t", tie)
    val keyed = if (checkpoint) keyed0.localCheckpoint() else keyed0
    val bnds = keyed.groupBy("__rk_p").agg(
      percentile_approx(col("__rk_v"), probsFor(buckets), lit(1000))
        .as("__rk_bnds"))
    val bucketed = keyed.join(broadcast(bnds), Seq("__rk_p"))
      .withColumn("__rk_b", bucketOf(col("__rk_bnds"), col("__rk_v")))
      .drop("__rk_bnds")
    // ≤ |parts|·`buckets` rows: the ordered-prefix window runs over an
    // Aggregate-bounded frame, never the data; `nOut` (the per-key total
    // the distribution functions divide by) is the full-frame prefix sum
    // over the SAME tiny frame — attaching it here saves callers a
    // second scan of the input
    val offsets = bucketed.groupBy("__rk_p", "__rk_b")
      .agg(count(lit(1)).as("__rk_c"))
      .withColumn("__rk_off", coalesce(
        sum(col("__rk_c")).over(Window.partitionBy(col("__rk_p"))
          .orderBy(col("__rk_b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__rk_n",
        // same partition+order spec as the offset sum (frame differs) so
        // both land in ONE Window node over the tiny frame
        sum(col("__rk_c")).over(Window.partitionBy(col("__rk_p"))
          .orderBy(col("__rk_b"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select("__rk_p", "__rk_b", "__rk_off", "__rk_n")
    val wLocal = Window.partitionBy(col("__rk_p"), col("__rk_b"))
      .orderBy(col("__rk_v"), col("__rk_t"))
    val extra =
      col(out) +: (if (nOut == null) Nil else Seq(col("__rk_n").as(nOut)))
    bucketed.join(broadcast(offsets), Seq("__rk_p", "__rk_b"))
      .withColumn(out,
        (col("__rk_off") + row_number().over(wLocal)).cast("long"))
      .select(cols ++ extra: _*)
  }

  /** Exact NTILE from the exact rank: with n rows and k tiles the first
    * `n mod k` tiles hold `⌈n/k⌉` rows and the rest `⌊n/k⌋` (the standard
    * semantics, identical in Spark and DuckDB), so the tile of rank r is
    * pure integer arithmetic — no window function at all. The `greatest(…,
    * 1)` divisor is unreachable when `n < k` (every rank lands in the
    * big-tile branch) but keeps ANSI division total.
    */
  def ntileOf(rank: Column, n: Column, k: Int): Column = {
    // INTEGRAL division (IntegralDivide, the SQL `div` operator): Column./
    // is IEEE double division, whose floor can land one high when the
    // numerator sits within half-an-ulp of the next integer — exact only
    // up to ~2^26-row partitions, i.e. precisely not at 100 TB
    def idiv(a: Column, b: Column): Column = call_function("div", a, b)
    val small = idiv(n, lit(k.toLong))
    val cntBig = n % k
    val big = small + lit(1L)
    val threshold = cntBig * big
    when(rank <= threshold, idiv(rank - 1, big) + lit(1L))
      .otherwise(cntBig + idiv(rank - lit(1L) - threshold, greatest(small, lit(1L))) + lit(1L))
      .cast("long")
  }

  /** The multi-key form: one shared lane pass computes every `(sortKey,
    * outName)` rank at once — the q_kendall_w shape (three rankings of one
    * bounded frame) pays the boundary/offset/window cost once instead of
    * per key. Returns `df`'s columns plus every rank column (a join back
    * on the tie key); callers that only need the ranks should use
    * [[globalRanksOnly]] and skip that join.
    */
  def withGlobalRanks(df: DataFrame, keys: Seq[(Column, String)],
      tie: Column, buckets: Int = 256): DataFrame = {
    val cols = df.columns.map(col).toIndexedSeq
    df.withColumn("__rk_t", tie)
      .join(globalRanksOnly(df, keys, tie, buckets), Seq("__rk_t"))
      .select(cols ++ keys.map { case (_, name) => col(name) }: _*)
  }

  /** The rank table alone: one row per tie value — `__rk_t` plus a BIGINT
    * rank column per `(sortKey, outName)`, all from ONE lane pass.
    */
  def globalRanksOnly(df: DataFrame, keys: Seq[(Column, String)],
      tie: Column, buckets: Int = 256): DataFrame = {
    require(keys.nonEmpty, "globalRanksOnly needs at least one sort key")
    require(buckets >= 2 && buckets <= (1 << 16),
      s"buckets must be in [2, 65536]: $buckets")
    // localCheckpoint: the lane frame feeds the per-lane boundary and
    // offset broadcast subtrees plus the ranking join (see withGlobalRank)
    val lanes = df
      .select(tie.as("__rk_t") +: keys.zipWithIndex.map { case ((k, _), i) =>
        k.cast("double").as(s"__rk_v$i") }: _*)
      .select(col("__rk_t"), explode(array(keys.indices.map(i =>
        struct(lit(i).as("ki"), col(s"__rk_v$i").as("v"))): _*)).as("kv"))
      .select(col("__rk_t"), col("kv.ki").as("__rk_ki"), col("kv.v").as("__rk_v"))
      .localCheckpoint()
    val bnds = lanes.groupBy("__rk_ki").agg(
      percentile_approx(col("__rk_v"), probsFor(buckets), lit(10000))
        .as("__rk_bnds"))
    val bucketed = lanes.join(broadcast(bnds), Seq("__rk_ki"))
      .withColumn("__rk_b", bucketOf(col("__rk_bnds"), col("__rk_v")))
      .drop("__rk_bnds")
    // ≤ |keys|·`buckets` rows: the ONLY ordered-prefix window in the
    // pattern runs over this constant-bounded frame
    val offsets = bucketed.groupBy("__rk_ki", "__rk_b")
      .agg(count(lit(1)).as("__rk_c"))
      .withColumn("__rk_off", coalesce(
        sum(col("__rk_c")).over(Window.partitionBy(col("__rk_ki"))
          .orderBy(col("__rk_b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__rk_ki", "__rk_b", "__rk_off")
    val wLocal = Window.partitionBy(col("__rk_ki"), col("__rk_b"))
      .orderBy(col("__rk_v"), col("__rk_t"))
    bucketed.join(broadcast(offsets), Seq("__rk_ki", "__rk_b"))
      .withColumn("__rk_r",
        (col("__rk_off") + row_number().over(wLocal)).cast("long"))
      .groupBy("__rk_t")
      .agg(rankAggs(keys).head, rankAggs(keys).tail: _*)
  }

  /** Exact continuous quantile of a double column — the value Spark's
    * `percentile(c, p)` and DuckDB's `quantile_cont(c, p)` agree on
    * (`lower + (upper − lower) · frac` over the sorted values, frac =
    * (n−1)p − ⌊(n−1)p⌋) — computed by DISTRIBUTED QUICKSELECT instead of
    * the Percentile aggregate. Spark's exact Percentile materializes a
    * value→count OpenHashMap per partition and merges them: on millions
    * of mostly-distinct doubles that is an 11-second, memory-quadratic
    * stall (measured on q_theil_sen's 2.89 M slope pairs), and at 100 TB
    * it is the familiar moves-everything-to-one-buffer shape. Selection
    * instead narrows by COUNTING: each round range-buckets the remaining
    * interval into 4096 equal widths (one cheap pass over the
    * checkpointed column), descends into the bucket holding the target
    * ranks, and once ≤ `bandCap` values remain collects just that band.
    * Each pass is a map-side-combining aggregate; nothing ever sorts or
    * collects beyond the bounded band (loud require).
    *
    * Deterministic: ranks select VALUES, so duplicate values need no
    * tie-break; equal-width splitting uses only (min, max, count)
    * arithmetic. Rounds are bounded: each round multiplies the bucket
    * width by 1/4096, and once width underflows the two band endpoints
    * are adjacent doubles — `maxRounds = 64` is unreachable in practice
    * and loud if hit.
    */
  def exactQuantileCont(df: DataFrame, c: Column, p: Double,
      bandCap: Int = 1 << 16): Double = {
    require(p >= 0.0 && p <= 1.0, s"p out of range: $p")
    // the null filter sits ABOVE the checkpoint barrier: pushed into the
    // caller's plan, IsNotNull(c) would inline c's expression into e.g. a
    // join condition and evaluate it on rows the join was about to reject
    // (measured: q_theil_sen's slope division ANSI-threw on the x1 = x2
    // pairs its own join condition excludes)
    val vals = df.select(c.cast("double").as("__qv")).localCheckpoint()
      .where(col("__qv").isNotNull)
    // one pass for count AND extrema (r18: these were two separate jobs)
    val cmm = vals.agg(count(lit(1)), min(col("__qv")), max(col("__qv"))).head
    val n = cmm.getLong(0)
    require(n > 0, "exactQuantileCont on an empty frame")
    val pos = (n - 1) * p
    val k1 = math.floor(pos).toLong
    val frac = pos - k1
    val k2 = if (frac == 0.0) k1 else k1 + 1
    // invariant: the rows satisfying `pred` are exactly the current band,
    // it contains global ranks [k1, k2] (0-based ascending), `below` =
    // #values before it, [lo, hi] = its exact min/max. The next band is
    // defined by the BUCKET EXPRESSION itself (a range of bucket ids with
    // this round's lo/width captured as literals), never by a value
    // predicate — a float edge in the bucket arithmetic then cannot
    // desync the rank bookkeeping from band membership: the histogram
    // partitions the predicate's rows exactly, whatever the edges do.
    var lo = cmm.getDouble(1)
    var hi = cmm.getDouble(2)
    var pred: Column = lit(true)
    var below = 0L
    var inBand = n
    var rounds = 0
    while (inBand > bandCap && lo < hi) {
      rounds += 1
      require(rounds <= 64,
        s"quickselect failed to converge: [$lo, $hi] holds $inBand values")
      val width = (hi - lo) / 4096.0
      val bucket = least(floor((col("__qv") - lit(lo)) / lit(width))
        .cast("long"), lit(4095L))
      val hist = vals.where(pred)
        .groupBy(bucket.as("__qb"))
        .agg(count(lit(1)).as("__qc"), min(col("__qv")).as("__qmin"),
          max(col("__qv")).as("__qmax"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
        .sortBy(_._1)
      // walk to the bucket range covering ranks k1..k2 (adjacent, so at
      // most two buckets unless a bucket boundary splits the pair)
      var acc = below
      var bi = 0
      while (acc + hist(bi)._2 <= k1) { acc += hist(bi)._2; bi += 1 }
      var biEnd = bi
      var accEnd = acc + hist(bi)._2
      while (accEnd <= k2) { biEnd += 1; accEnd += hist(biEnd)._2 }
      pred = pred && bucket.between(hist(bi)._1, hist(biEnd)._1)
      below = acc
      inBand = (bi to biEnd).map(i => hist(i)._2).sum
      lo = hist(bi)._3
      hi = hist(biEnd)._4
    }
    if (lo == hi) lo // the band is one repeated value at every rank
    else {
      val band = vals.where(pred).collect().map(_.getDouble(0)).sorted
      require(band.length == inBand,
        s"band census drifted: ${band.length} vs $inBand")
      val v1 = band((k1 - below).toInt)
      if (frac == 0.0) v1
      else {
        val v2 = band((k2 - below).toInt)
        v1 + (v2 - v1) * frac
      }
    }
  }

  private def probsFor(buckets: Int): Column =
    array((1 until buckets).map(i => lit(i.toDouble / buckets)): _*)

  /** Monotone bucket index: `#{boundary < v}` (0 when boundaries NULL —
    * the empty-input row), via the [[BucketOf]] binary-search
    * kernel — the declarative `size(filter(bnds, b => b < v))` runs an
    * interpreted lambda per boundary per row, recomputed in BOTH passes
    * that share the bucketing subtree.
    */
  private def bucketOf(bnds: Column, v: Column): Column =
    coalesce(call_function("graft_bucket_of", bnds, v), lit(0))

  /** One `max(when(lane = i, rank))` pivot aggregate per requested key. */
  private def rankAggs(keys: Seq[(Column, String)]): Seq[Column] =
    keys.zipWithIndex.map { case ((_, name), i) =>
      max(when(col("__rk_ki") === i, col("__rk_r"))).as(name)
    }
}
