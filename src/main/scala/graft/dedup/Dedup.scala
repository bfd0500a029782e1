package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.{Blocks, Observe}
import graft.text.TextOps

/** Deduplication operators for a training-data pipeline, each designed
  * around buckets — candidate pairs come from equi-joins on band/chunk
  * keys, NEVER an all-pairs crossJoin (an all-pairs design dies at 100 TB;
  * banded LSH is the published scale path: Broder 1997 resemblance +
  * Leskovec–Rajaraman–Ullman "Mining of Massive Datasets" ch. 3).
  *
  * Plan shapes:
  *  - exact:    one hash aggregate on md5(text). One shuffle.
  *  - minhash:  signatures are per-row HOF expressions (no shuffle), bands
  *              explode → self-equi-join on (band_id, band_hash) → distinct
  *              pairs → estimated Jaccard from signature agreement.
  *  - simhash:  64-bit signature per row (HOF), 16-bit chunk explode →
  *              self-equi-join on (chunk_id, chunk) → Hamming ≤ 3 filter
  *              (pigeonhole: any pair within distance 3 shares ≥1 of 4
  *              chunks, so the buckets are exhaustive for that radius).
  *  - ngram Jaccard: exact verification on LSH candidates only.
  */
object Dedup {

  /** Exact dedup: group identical texts by md5; keeper = min doc_id
    * (SQL-expressible → oracle-backed).
    */
  def exactDuplicates(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper"))

  /** Word-k-gram shingle set per document (HOF, per-row). The token array
    * is let-bound so the text is split once, not once per shingle position.
    * Kept as the built-ins-only cross-check for [[shingleHashSet]] (the
    * hot path) — same role fingerprintHof plays for the winnowing kernel.
    */
  private[graft] def shingles(text: Column, k: Int = 3): Column =
    graft.functions.ColumnOps.bind(TextOps.tokens(text)) { toks =>
      array_distinct(transform(
        sequence(lit(0), greatest(size(toks) - k, lit(0))),
        i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
    }

  /** The shingle set as sorted distinct xxhash64 values via the native
    * codegen kernel — set sizes (and hence Jaccard) are identical to the
    * string form up to 64-bit collisions (~5·10⁻¹² per pair); intersect/
    * union then run over longs instead of building every shingle string
    * per candidate pair.
    */
  def shingleHashSet(text: Column, k: Int = 3): Column =
    call_function("shingle_hashes", text, lit(k))

  /** MinHash signature: numHashes independent min-hashes of the shingle
    * set (distinct-by-hash), via the native `minhash_sig` kernel —
    * each shingle string hashed once, lanes derived by re-mixing the
    * 64-bit base hash (the one-hash + k-mixes construction), all inside
    * whole-stage codegen. Pure projection — signatures for 100 TB of docs
    * cost one scan, zero shuffles.
    */
  def minhashSignatures(docs: DataFrame, numHashes: Int = 64, k: Int = 3): DataFrame = {
    docs.select(col("doc_id"),
      call_function("minhash_sig", col("text"), lit(k), lit(numHashes)).as("signature"))
  }

  /** Skew guard for bucket self-joins: drop buckets holding more than
    * `cap` rows. A mega-bucket (mass-duplicated boilerplate all hashing
    * to one band/chunk) makes the self-join quadratic INSIDE one task —
    * the classic LSH skew failure at 100 TB. Content that saturates a
    * bucket is near-identical by construction and is better collapsed by
    * exact dedup first; the cap makes that trade explicit instead of
    * letting one straggler task run for hours.
    *
    * Shape matters here: a groupBy-count + broadcast-anti-join variant
    * reads cheaper on paper (no sort, counts shuffle as scraps) but FORKS
    * the exploded lineage — the signature kernel would run twice, once
    * for the count and once for the join input (measured ~40% slower).
    * The window form computes signatures once; its bucket-key exchange is
    * then reused verbatim by both sides of the self-join, so the net cost
    * over no-cap is one within-partition sort.
    */
  private val capSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  private def capBuckets(exploded: DataFrame, keys: Seq[String], cap: Int): DataFrame =
    if (cap == Int.MaxValue) exploded
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(col): _*)
      // the lossy cap must be VISIBLE at runtime (r3 ADVICE: mass-duplicated
      // boilerplate silently escaped the near-dup path): a CollectMetrics
      // node counts the dropped rows in the same pass — zero extra jobs —
      // and graft.Sessions' listener logs any nonzero count. Name is
      // uniquified because one query may cap several bucket families.
      // Caveat: if the cap empties the WHOLE result, AQE's empty-relation
      // propagation replaces the plan (metrics node included) with an
      // EmptyRelation — a query returning zero candidate pairs from a
      // non-empty corpus is itself the signal to check the cap.
      exploded.withColumn("__bucket_n", count(lit(1)).over(w))
        .observe(s"graft_bucket_cap_${capSeq.incrementAndGet()}",
          sum(when(col("__bucket_n") > cap, lit(1L)).otherwise(lit(0L)))
            .as("dropped_rows"),
          coalesce(max(col("__bucket_n")), lit(0L)).as("max_bucket_rows"))
        .where(col("__bucket_n") <= cap)
        .drop("__bucket_n")
    }

  /** LSH candidate pairs: split the signature into `bands` bands of
    * `rows = numHashes/bands` hashes, hash each band, and equi-join
    * documents sharing a (band_id, band_hash) bucket. Probability a pair
    * with Jaccard s becomes a candidate: 1 − (1 − s^rows)^bands.
    * `bucketCap` bounds per-bucket membership (see [[capBuckets]]).
    * Precondition: `doc_id` is unique in `signatures`. A duplicated id
    * matches every one of its rows in both signature attaches, so each of
    * its pairs fans out once per row combination.
    */
  def minhashCandidates(signatures: DataFrame, bands: Int = 16, numHashes: Int = 64,
      bucketCap: Int = 10000, attachHint: String = "SHUFFLE_HASH"): DataFrame = {
    val rows = numHashes / bands
    // r18 (guide §2.3/§8: shuffle keys, not payloads): banding previously
    // carried the FULL signature on every exploded band row — ~8·numHashes
    // bytes × bands per doc through the bucket-cap window exchange and BOTH
    // self-join sides (67 MB written / 135 MB read at sf0.1), and scored
    // every band COLLISION of a pair before max-collapsing identical
    // values. The band stream is now skinny (doc_id, band_id, band_hash);
    // pairs dedup FIRST, then the two signature attaches read the callers'
    // doc-sized checkpoint and lanes_equal runs ONCE per distinct pair.
    // est_jaccard is a pure function of the pair, so distinct-then-score
    // is bitwise the old max-over-collisions.
    val banded0 = signatures.select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("signature"), b * rows + 1, lit(rows))))))
      .withColumnsRenamed(Map("pos" -> "band_id", "col" -> "band_hash"))
    val banded = capBuckets(banded0, Seq("band_id", "band_hash"), bucketCap)
    val a = banded.select(col("band_id"), col("band_hash"),
      col("doc_id").as("doc_a"))
    val b = banded.select(col("band_id"), col("band_hash"),
      col("doc_id").as("doc_b"))
    val pairs = a.join(b, Seq("band_id", "band_hash"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    // r17: native lane-agreement kernel — the zip_with/aggregate HOF pair
    // allocated an array and dispatched interpreted lambdas per lane for
    // every candidate row; same integer count, same single division.
    // attachHint: entry points gate it on the OBSERVED doc count (guide
    // §3.1) — broadcast while the doc-sized signature frame provably
    // fits, shuffled-hash beyond (no sort, no broadcast cap)
    val sigs = signatures.select(col("doc_id"), col("signature"))
    pairs
      .join(sigs.select(col("doc_id").as("doc_a"),
        col("signature").as("sig_a")).hint(attachHint), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"),
        col("signature").as("sig_b")).hint(attachHint), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (call_function("lanes_equal", col("sig_a"), col("sig_b"))
          .cast("double") / numHashes).as("est_jaccard"))
  }

  /** Near-duplicate pairs: LSH candidates ≥ estimated-Jaccard threshold. */
  def minhashNearDuplicates(docs: DataFrame, threshold: Double = 0.5,
      numHashes: Int = 64, bands: Int = 16, k: Int = 3,
      bucketCap: Int = 10000): DataFrame =
    // localCheckpoint: the self-join (and AQE's broadcast of one side)
    // otherwise re-runs the text→signature kernel per plan branch — the
    // measured plan had ZERO ReusedExchange nodes. One row per doc at
    // ~8·numHashes bytes materializes far cheaper than a second corpus
    // scan + re-shingling. NB this makes construction eager, and local
    // checkpoint blocks are unreplicated — under aggressive dynamic
    // allocation swap in reliable .checkpoint() at the same point.
    // The blocks must outlive this call (the result is lazy); release
    // them after the terminal action via graft.Blocks.releaseAll —
    // Bench/Verify do so between queries.
    {
      val obs = Observation()
      val sigs = minhashSignatures(docs, numHashes, k)
        .observe(obs, count(lit(1)).as("n"))
        .localCheckpoint()
      minhashCandidates(sigs, bands, numHashes, bucketCap,
          attachHint = sigAttachHint(obs))
        .where(col("est_jaccard") >= threshold)
    }

  /** The materialized per-doc shingle hash-set frame — the ONE corpus text
    * scan a combined LSH + exact-verify pipeline needs. Signatures derive
    * from it bitwise-identically via `minhash_from_hashes` (same seed-42
    * base hashes, same lane re-mix — see [[DedupKernels.minhashFromHashes]]),
    * and [[verifyJaccardSets]] runs its set algebra on it directly, so a
    * query that generates candidates AND verifies them exactly (the
    * q_ngram_jaccard shape: r8 ran the text kernel three times) scans the
    * 100 TB text column once. Checkpoint blocks must outlive the caller's
    * terminal action — Bench/Verify release via Blocks.releaseAll.
    */
  def shingleSets(docs: DataFrame, k: Int = 3): DataFrame = {
    docs.select(col("doc_id"), shingleHashSet(col("text"), k).as("sh"))
      .localCheckpoint()
  }

  /** [[minhashNearDuplicates]] over a precomputed [[shingleSets]] frame —
    * no text scan; the derived signature projection is checkpointed for
    * the same self-join-fork reason as the text path above. */
  def minhashNearDuplicatesFromSets(sets: DataFrame, threshold: Double = 0.5,
      numHashes: Int = 64, bands: Int = 16, bucketCap: Int = 10000): DataFrame = {
    val obs = Observation()
    val sigs = sets.select(col("doc_id"),
        call_function("minhash_from_hashes", col("sh"), lit(numHashes))
          .as("signature"))
      .observe(obs, count(lit(1)).as("n"))
      .localCheckpoint()
    minhashCandidates(sigs, bands, numHashes, bucketCap,
        attachHint = sigAttachHint(obs))
      .where(col("est_jaccard") >= threshold)
  }

  /** Attach strategy for the doc-sized signature frame, gated on the doc
    * count OBSERVED on the checkpoint action (guide §3.1): broadcast while
    * it provably fits, shuffled-hash beyond (no sort, no broadcast cap). */
  private def sigAttachHint(obs: Observation): String =
    Observe.joinHint(Observe.metric(obs, "n").getOrElse(Long.MaxValue))

  /** Exact n-gram Jaccard verification over candidate pairs only (the
    * expensive exact measure runs on the tiny LSH-filtered set, not n²).
    */
  def verifyJaccard(docs: DataFrame, candidates: DataFrame, k: Int = 3): DataFrame =
    verifyJaccardSets(shingleSets(docs, k), candidates)

  /** [[verifyJaccard]] over a precomputed [[shingleSets]] frame, so several
    * verify passes (and the LSH signatures) share one materialization.
    *
    * The equi-joins below are themselves the candidate filter; deriving an
    * id set from `candidates` for a pre-filter would put the (expensive)
    * LSH subtree in the plan twice — at 100 TB, materialize `candidates`
    * first and semi-join, but never fork an unmaterialized LSH lineage.
    */
  def verifyJaccardSets(sets: DataFrame, candidates: DataFrame): DataFrame = {
    // r17: |A∩B| via the sorted-merge kernel (shingle hash sets are sorted
    // distinct by construction) and |A∪B| = |A|+|B|−|A∩B| — one scan per
    // pair, no hash-set build, no union array; identical exact integers
    val inter = call_function("sorted_inter_size", col("sh_a"), col("sh_b"))
    candidates
      .join(sets.withColumnsRenamed(Map("doc_id" -> "doc_a", "sh" -> "sh_a")), "doc_a")
      .join(sets.withColumnsRenamed(Map("doc_id" -> "doc_b", "sh" -> "sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"),
        (inter.cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - inter)).as("jaccard"))
  }

  /** Exact set-similarity SELF-join (all pairs with shingle Jaccard ≥
    * `threshold`) via prefix filtering — the SSJoin/PPJoin family
    * (Chaudhuri–Ganti–Kaushik 2006, Xiao et al. 2008): the EXACT
    * alternative to minhash when the pipeline owes a no-false-negative
    * guarantee. Order every doc's shingles by ascending global document
    * frequency (rarest first, ties by shingle hash — one consistent
    * order engine-wide); a pair can reach Jaccard ≥ t only if the two
    * PREFIXES of length |x| − ⌈t·|x|⌉ + 1 share a shingle (sound because
    * the length filter t·|x| ≤ |y| makes the required overlap
    * ⌈t/(1+t)·(|x|+|y|)⌉ ≥ ⌈t·|x|⌉ — Xiao et al. Lemma 1), so candidates
    * come from an equi-join on PREFIX shingles only, never all-pairs and
    * never hot common shingles: the frequency ordering pushes corpus-wide
    * boilerplate grams out of every prefix, which is what caps the join
    * fan-out at scale. Candidates then verify exactly against the full
    * hash sets (the verifyJaccard math on the shared materialized frame).
    *
    * Scale shape: one shingle-kernel scan (checkpointed, feeds ranking
    * AND verify), one df aggregate, one per-doc window, one prefix
    * equi-join, one candidate-keyed verify join. The same bucket-cap
    * escape hatch as LSH applies if a prefix shingle floods.
    */
  def setSimJoinPrefix(docs: DataFrame, threshold: Double, k: Int = 3): DataFrame = {
    val sets = docs.select(col("doc_id"), shingleHashSet(col("text"), k).as("sh"))
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
    // PPJoin positional filter (Xiao et al. 2008, §3.2): a pair meeting
    // Jaccard ≥ t needs overlap α = ⌈t/(1+t)·(len_a+len_b)⌉; if g is the
    // pair's FIRST shared token in the global (df, hash) order, every
    // shared token sits at position ≥ pos_a in a and ≥ pos_b in b, so
    // overlap ≤ 1 + min(len_a−pos_a, len_b−pos_b). Filtering each joined
    // row on that bound is SOUND under the trailing distinct: a
    // qualifying pair always survives via its first-shared-token row
    // (later rows may fail the bound, but one survivor keeps the pair).
    // Measured at sf0.1 (t=0.8, k=3;
    // PpjoinProbe, deleted, last held at cdb9a9a): candidate pairs
    // 43,440 → 12,804 (−70.5%) before the exact-verify join.
    val alpha = ceil(lit(threshold / (1.0 + threshold)) *
      (col("len_a") + col("len_b")))
    val cands = a.join(b, Seq("g"))
      .where(col("doc_a") < col("doc_b") &&
        col("len_b") >= ceil(lit(threshold) * col("len_a")) &&
        col("len_a") >= ceil(lit(threshold) * col("len_b")) &&
        lit(1) + least(col("len_a") - col("pos_a"),
          col("len_b") - col("pos_b")) >= alpha)
      .select(col("doc_a"), col("doc_b")).distinct()
    // r17: same sorted-merge intersection + derived union as
    // verifyJaccardSets — identical exact integers, one array pass
    val inter = call_function("sorted_inter_size", col("sh_a"), col("sh_b"))
    cands
      .join(sets.withColumnsRenamed(Map("doc_id" -> "doc_a", "sh" -> "sh_a")), "doc_a")
      .join(sets.withColumnsRenamed(Map("doc_id" -> "doc_b", "sh" -> "sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (inter.cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - inter)).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Connected components over a near-duplicate pair graph — the cluster
    * step after candidate generation: every doc in a component is a copy of
    * the same underlying document; `component` = min doc_id = the keeper.
    *
    * Algorithm: iterative min-label propagation (each round every node
    * takes the min label among itself and its neighbours), the standard
    * MapReduce-era CC formulation; converges in O(graph diameter) rounds.
    * Dup components are near-cliques (diameter ≤ ~3), so this beats the
    * alternating large-star/small-star variant (Kiveris et al. 2014) in
    * practice while staying 3 lines of DataFrame code; adversarial
    * long-chain graphs would want the star variant's O(log n) bound.
    *
    * Scale notes baked in:
    *  - the symmetric edge list is localCheckpoint'd ONCE — each round
    *    re-reads materialized blocks instead of re-running the (possibly
    *    LSH-shaped) edge lineage;
    *  - labels are localCheckpoint'd per round and the PREVIOUS round's
    *    blocks are released deterministically (graft.Blocks) — iterative
    *    lineage growth is the classic Spark CC trap (plan doubles every
    *    round) and fire-and-forget checkpoints were the r3 block-ratchet;
    *  - convergence is STRUCTURAL (r3 ADVICE: the Long label-sum fixpoint
    *    could in principle wrap): the per-round aggregate carries the
    *    node's previous label alongside the new min, and the count of
    *    changed labels rides the checkpoint job itself as an observe()
    *    metric (CollectMetrics accumulator) — zero extra jobs per round.
    *    Metric delivery is bounded-wait (graft.Observe); on the unlikely
    *    timeout the round falls back to an explicit short-circuit isEmpty
    *    over the already-materialized blocks. The r5 bench showed the
    *    per-round isEmpty variant's job count (20 jobs/query) made the
    *    query driver-overhead-bound; this shape is 1 job per round.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    val e = edges.select(col(edges.columns(0)).as("a"), col(edges.columns(1)).as("b"))
    val sym = e.union(e.select(col("b").as("a"), col("a").as("b"))).localCheckpoint()
    val nodeObs = Observation()
    var labels = sym.select(col("a").as("id")).distinct()
      .withColumn("component", col("id"))
      .observe(nodeObs, count(lit(1)).as("n"))
      .localCheckpoint()
    var it = 0
    var converged = Observe.metric(nodeObs, "n").map(_ == 0L)
      .getOrElse(labels.isEmpty)
    while (!converged && it < maxIter) {
      val msgs = sym.join(labels.withColumnRenamed("id", "a"), "a")
        .select(col("b").as("id"), col("component"))
      // own rows tagged is_old ride the same shuffle as the messages, so the
      // new label AND the previous label come out of ONE aggregation
      val roundObs = Observation()
      val next = labels.select(col("id"), col("component"), lit(true).as("is_old"))
        .union(msgs.select(col("id"), col("component"), lit(false).as("is_old")))
        .groupBy("id")
        .agg(min("component").as("component"),
          min(when(col("is_old"), col("component"))).as("__prev"))
        .observe(roundObs,
          count(when(col("component") =!= col("__prev"), lit(1))).as("changed"))
        .localCheckpoint()
      converged = Observe.metric(roundObs, "changed").map(_ == 0L)
        .getOrElse(next.where(col("component") =!= col("__prev")).isEmpty)
      Blocks.releaseCheckpoint(labels) // previous round's blocks are dead
      labels = next.drop("__prev")
      it += 1
    }
    // silent non-convergence would hand downstream dedup UNMERGED clusters
    // (multiple "keepers" for one document) — fail loudly instead
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds — graph " +
        "diameter exceeds the round budget; raise maxIter")
    Blocks.releaseCheckpoint(sym) // the result reads only the final labels
    labels.select(col("id").as("doc_id"), col("component"))
  }

  /** 64-bit SimHash (Charikar 2002) via the native `simhash64` kernel:
    * per token-hash bit, sum ±1 across tokens; signature bit i = sign of
    * the sum. Registered at session build (graft.Sessions) and by the
    * DataFrame entry points.
    */
  def simhash(text: Column): Column = call_function("simhash64", text)

  /** SimHash near-dup pairs within Hamming distance `maxHamming` via chunk
    * buckets. Chunk count = maxHamming + 1, so by pigeonhole every pair
    * within the radius shares at least one identical chunk — the buckets
    * are exhaustive for exactly the requested radius (r2 ADVICE: the fixed
    * 4-chunk layout silently missed distance-4..8 pairs when callers asked
    * for a larger radius). Chunk width shrinks as 64/(d+1): beyond d≈5 the
    * buckets get too coarse (≤9 bits → ≤512 buckets) to prune a 100 TB
    * corpus, hence the cap.
    *
    * `bucketCap` trades the exhaustiveness guarantee for skew safety:
    * content saturating a chunk bucket past the cap is dropped from THIS
    * candidate path (collapse it with exact dedup first).
    */
  def simhashNearDuplicates(docs: DataFrame, maxHamming: Int = 3,
      bucketCap: Int = 10000): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 7,
      s"simhashNearDuplicates: maxHamming must be in [0, 7] (got $maxHamming) — " +
        "64/(d+1)-bit chunk buckets stop pruning beyond that radius")
    val nChunks = maxHamming + 1
    // distribute 64 bits as evenly as possible; first (64 % nChunks) chunks
    // get the extra bit. offsets/widths are tiny literals baked in the plan.
    val widths = Array.tabulate(nChunks)(i => 64 / nChunks + (if (i < 64 % nChunks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    val chunkCols = (0 until nChunks).map { j =>
      val mask = if (widths(j) == 64) -1L else (1L << widths(j)) - 1L
      call_function("shiftright", col("simhash"), lit(offsets(j)))
        .bitwiseAND(lit(mask))
    }
    // materialized for the same reason as the minhash path: both join
    // branches (and the bucket-cap window) read 16 bytes/doc from blocks
    // instead of re-hashing the text
    val sigs = docs.select(col("doc_id"), simhash(col("text")).as("simhash"))
      .localCheckpoint()
    val chunked = capBuckets(
      sigs.select(col("doc_id"), col("simhash"),
          posexplode(array(chunkCols: _*)))
        .withColumnsRenamed(Map("pos" -> "chunk_id", "col" -> "chunk")),
      Seq("chunk_id", "chunk"), bucketCap)
    val a = chunked.select(col("chunk_id"), col("chunk"),
      col("doc_id").as("doc_a"), col("simhash").as("sim_a"))
    val b = chunked.select(col("chunk_id"), col("chunk"),
      col("doc_id").as("doc_b"), col("simhash").as("sim_b"))
    a.join(b, Seq("chunk_id", "chunk"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast(LongType).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .groupBy("doc_a", "doc_b").agg(min("hamming").as("hamming"))
  }
}
