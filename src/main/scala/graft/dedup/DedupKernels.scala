package graft.dedup

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

/** The hot dedup kernels behind `minhash_sig`, `simhash64`, `winnow_fp`,
  * `shingle_hashes`, `minhash_from_hashes`, `lanes_equal` and
  * `sorted_inter_size`: static methods that generated code calls
  * directly. Compose built-ins where cheap, but on hot paths a kernel
  * beats interpreted HOF lambdas — the HOF forms paid one interpreted
  * lambda dispatch per token per lane.
  *
  * Hashing is xxhash64 (Spark's own XXH64) over utf-8 bytes. The array
  * kernels read long lanes with `getLong`, so their SQL functions cast
  * every array argument to `array<bigint>`.
  */
object DedupKernels {

  private val SEED = 42L

  private def hashBytes(s: String, seed: Long): Long = {
    val u = UTF8String.fromString(s)
    XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes(), seed)
  }

  /** MinHash signature: distinct word-k-gram shingles (distinct by base
    * hash), `numHashes` lanes derived by re-mixing each base hash.
    */
  def minhashSignature(text: UTF8String, k: Int, numHashes: Int): ArrayData = {
    require(k >= 1 && numHashes >= 1,
      s"minhash_sig: k and numHashes must be >= 1 (got k=$k, numHashes=$numHashes)")
    val toks = text.toString.trim.split("\\s+")
    val nShingles = math.max(toks.length - k + 1, 1)
    val seen = new java.util.HashSet[java.lang.Long](nShingles * 2)
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < nShingles) {
      sb.setLength(0)
      var j = 0
      val kk = math.min(k, toks.length - i)
      while (j < kk) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val base = hashBytes(sb.toString, SEED)
      if (seen.add(base)) {
        var lane = 0
        while (lane < numHashes) {
          val mixed = XXH64.hashLong(base, lane.toLong)
          if (mixed < sig(lane)) sig(lane) = mixed
          lane += 1
        }
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** Distinct word-k-gram shingle set, represented by sorted xxhash64
    * values — set algebra (Jaccard intersect/union) over sorted longs
    * instead of interpreted per-position string building. Collision risk
    * over per-doc shingle counts (≤ ~10⁴) against a 64-bit space is
    * ~5·10⁻¹² per pair — far below the FP noise the oracle rounding
    * already absorbs.
    */
  def shingleHashes(text: UTF8String, k: Int): ArrayData = {
    require(k >= 1, s"shingle_hashes: k must be >= 1 (got $k)")
    val toks = text.toString.trim.split("\\s+")
    val nShingles = math.max(toks.length - k + 1, 1)
    val seen = new java.util.TreeSet[java.lang.Long]()
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < nShingles) {
      sb.setLength(0)
      var j = 0
      val kk = math.min(k, toks.length - i)
      while (j < kk) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(hashBytes(sb.toString, SEED))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }

  /** 64-bit SimHash over whitespace tokens (Charikar 2002). */
  def simhash64(text: UTF8String): Long = {
    val toks = text.toString.trim.split("\\s+")
    val bitSums = new Array[Int](64)
    var i = 0
    while (i < toks.length) {
      val h = hashBytes(toks(i), SEED)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) bitSums(b) += 1 else bitSums(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (bitSums(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** MinHash signature derived from a PRECOMPUTED base-hash set (the
    * [[shingleHashes]] output): lanes are the same XXH64 re-mix of the
    * same seed-42 base hashes, and min is order-independent, so the
    * result is bitwise-identical to [[minhashSignature]] on the same
    * text/k — letting one shingle-kernel corpus scan feed BOTH the LSH
    * signatures and the exact-verify set algebra, so a query that needs
    * both runs the text kernel once, not once per use.
    */
  def minhashFromHashes(hashes: ArrayData, numHashes: Int): ArrayData = {
    require(numHashes >= 1,
      s"minhash_from_hashes: numHashes must be >= 1 (got $numHashes)")
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      val base = hashes.getLong(i)
      var lane = 0
      while (lane < numHashes) {
        val mixed = XXH64.hashLong(base, lane.toLong)
        if (mixed < sig(lane)) sig(lane) = mixed
        lane += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** Winnowing fingerprint (Schleimer–Wilkerson–Aiken 2003): hash word
    * k-grams, slide a window of `w` over the hash sequence, keep each
    * window's min, return the sorted distinct mins. Single pass with a
    * monotonic deque for the sliding min — O(tokens), vs the HOF form's
    * O(tokens·w) slice-per-position with interpreted lambda dispatch.
    */
  def winnowFingerprint(text: UTF8String, k: Int, w: Int): ArrayData = {
    require(k >= 1 && w >= 1,
      s"winnow_fp: k and w must be >= 1 (got k=$k, w=$w) — w < 1 would scan " +
        "the sliding-min deque past its initialized entries")
    val toks = text.toString.trim.split("\\s+")
    val nGrams = math.max(toks.length - k + 1, 1)
    val hashes = new Array[Long](nGrams)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < nGrams) {
      sb.setLength(0)
      var j = 0
      val kk = math.min(k, toks.length - i)
      while (j < kk) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      hashes(i) = hashBytes(sb.toString, SEED)
      i += 1
    }
    val mins = new java.util.TreeSet[java.lang.Long]()
    // monotonic ascending deque of indices into `hashes`
    val deque = new Array[Int](nGrams)
    var head = 0
    var tail = 0 // exclusive
    i = 0
    while (i < nGrams) {
      while (tail > head && hashes(deque(tail - 1)) >= hashes(i)) tail -= 1
      deque(tail) = i; tail += 1
      val winStart = i - w + 1
      while (deque(head) < winStart) head += 1
      if (i >= w - 1 || i == nGrams - 1) mins.add(hashes(deque(head)))
      i += 1
    }
    val out = new Array[Long](mins.size)
    val it = mins.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }

  /** Count of positionally equal lanes between two equal-length signature
    * arrays: the per-candidate-pair MinHash agreement count as one
    * tight loop — replaces the interpreted
    * `aggregate(zip_with(sig_a, sig_b, when(=,1,0)))` HOF tower, which
    * allocated a 64-element array and dispatched two lambdas per lane for
    * EVERY candidate pair. Integer count; the caller divides by the lane
    * total, so est_jaccard is bitwise what the HOF form produced.
    */
  def lanesEqual(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    require(n == b.numElements(),
      s"lanes_equal: signature length mismatch ($n vs ${b.numElements()})")
    var i = 0
    var c = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) c += 1
      i += 1
    }
    c
  }

  /** Intersection size of two SORTED distinct long arrays: one
    * merge scan, no hash-set build, no output array — the candidate-pair
    * verify replacement for `size(array_intersect(...))` on
    * [[shingleHashes]] sets (which the kernel emits sorted distinct).
    * |A∪B| then falls out as |A|+|B|−|A∩B| without a second array build;
    * both counts are the exact integers the builtin computed.
    */
  def sortedInterSize(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    val m = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < n && j < m) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }
}
