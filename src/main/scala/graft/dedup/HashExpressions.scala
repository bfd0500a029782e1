package graft.dedup

import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen expressions for the hot dedup kernels (the preference
  * order from the build brief: compose built-ins where cheap, but a custom
  * `Expression` with `doGenCode` beats interpreted HOF lambdas on hot
  * paths — the HOF forms paid one interpreted lambda dispatch per token
  * per lane).
  *
  * Both kernels are static methods over `UTF8String`, shared by the
  * interpreted and generated paths; hashing is xxhash64 (Spark's own XXH64)
  * over utf-8 bytes.
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
    * signatures and the exact-verify set algebra (the r8 q_ngram_jaccard
    * ran the text kernel three times; this is the shared-scan path).
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
    * arrays (r17): the per-candidate-pair MinHash agreement count as one
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

  /** Intersection size of two SORTED distinct long arrays (r17): one
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

case class LanesEqualExpression(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullIntolerant: Boolean = true

  // r18 (ADVICE): the kernel reads long lanes via ArrayData.getLong — an
  // int-backed array from a SQL caller would be garbage reads; reject at
  // analysis like MaxSimExpression does
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      "lanes_equal(a: array<bigint>, b: array<bigint>)")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    DedupKernels.lanesEqual(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.dedup.DedupKernels.lanesEqual($a, $b)")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

case class SortedInterSizeExpression(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullIntolerant: Boolean = true

  // r18 (ADVICE): long-lane reads, same rationale as LanesEqualExpression.
  // NB the SEMANTIC precondition — both arrays sorted distinct ascending —
  // cannot be type-checked; it is documented on the SQL registration and
  // guaranteed by every internal producer (shingle_hashes TreeSet output).
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      "sorted_inter_size(a: array<bigint> sorted distinct, b: array<bigint> sorted distinct)")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    DedupKernels.sortedInterSize(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.dedup.DedupKernels.sortedInterSize($a, $b)")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

case class MinHashSignatureExpression(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(text: Any, k: Any, n: Any): Any =
    DedupKernels.minhashSignature(text.asInstanceOf[UTF8String],
      k.asInstanceOf[Int], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, k, n) =>
      s"graft.dedup.DedupKernels.minhashSignature($t, $k, $n)")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

case class WinnowFingerprintExpression(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(text: Any, k: Any, w: Any): Any =
    DedupKernels.winnowFingerprint(text.asInstanceOf[UTF8String],
      k.asInstanceOf[Int], w.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, k, w) =>
      s"graft.dedup.DedupKernels.winnowFingerprint($t, $k, $w)")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

case class MinHashFromHashesExpression(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(hashes: Any, n: Any): Any =
    DedupKernels.minhashFromHashes(hashes.asInstanceOf[ArrayData],
      n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (h, n) =>
      s"graft.dedup.DedupKernels.minhashFromHashes($h, $n)")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

case class ShingleHashesExpression(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(text: Any, k: Any): Any =
    DedupKernels.shingleHashes(text.asInstanceOf[UTF8String], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, k) =>
      s"graft.dedup.DedupKernels.shingleHashes($t, $k)")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

case class SimHash64Expression(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(text: Any): Any =
    DedupKernels.simhash64(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.dedup.DedupKernels.simhash64($t)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
