package graft.similarity

import org.apache.spark.sql.catalyst.util.ArrayData

/** The vector kernels behind `vec_dot`, `vec_maxsim` and `vec_qdot`:
  * static methods that generated code calls directly, one tight loop over
  * the `ArrayData` buffers with no per-element lambda dispatch. They
  * replace `aggregate(zip_with(...))`-style HOF towers, which evaluate an
  * interpreted lambda per element (~20× slower on 64-dim float vectors).
  * The `aFloat`/`bFloat` flags say whether each array holds floats or
  * doubles.
  */
object VecOps {

  /** Σᵢ aᵢ·bᵢ, accumulated in index order. */
  def dot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = a.numElements()
    if (n != b.numElements()) throw new IllegalArgumentException(
      s"vec_dot: embedding dimension mismatch ($n vs ${b.numElements()})")
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  /** ColBERT-style late-interaction MaxSim over m-way chunked
    * sub-vectors: Σᵢ maxⱼ ⟨a[i·s..], b[j·s..]⟩ with s = n/m, a triple loop
    * over the two original buffers with zero allocation. The HOF form it
    * replaces took 8 `slice` copies of the probe and 64 of the candidate
    * PER PAIR inside nested `transform(sequence(...))` lambdas.
    *
    * Bit-exact with that HOF formulation, which the DuckDB oracle
    * mirrors: each sub-dot accumulates in index order (the vec_dot
    * sequence), the max uses java.lang.Double.compare (Catalyst's
    * array_max ordering: NaN greatest, 0.0 > −0.0), and the outer sum
    * folds left from 0.0 in i order exactly like
    * `aggregate(perQuery, 0.0, acc + x)`.
    */
  def maxsim(a: ArrayData, b: ArrayData, m: Int,
      aFloat: Boolean, bFloat: Boolean): Double = {
    val n = a.numElements()
    if (n != b.numElements()) throw new IllegalArgumentException(
      s"vec_maxsim: embedding dimension mismatch ($n vs ${b.numElements()})")
    if (m <= 0 || n % m != 0) throw new IllegalArgumentException(
      s"vec_maxsim: m=$m must divide dim=$n")
    val s = n / m
    var total = 0.0
    var i = 0
    while (i < m) {
      var best = 0.0
      var j = 0
      while (j < m) {
        var d = 0.0
        var t = 0
        while (t < s) {
          val x = if (aFloat) a.getFloat(i * s + t).toDouble else a.getDouble(i * s + t)
          val y = if (bFloat) b.getFloat(j * s + t).toDouble else b.getDouble(j * s + t)
          d += x * y
          t += 1
        }
        if (j == 0 || java.lang.Double.compare(d, best) > 0) best = d
        j += 1
      }
      total += best
      i += 1
    }
    total
  }

  /** Integer (quantization-code) dot with an optional affine shift:
    * Σᵢ (aᵢ−s)(bᵢ−s) over two long arrays — the SQ8 scoring loop as one
    * tight kernel, replacing the per-pair `aggregate(zip_with(...))` HOF
    * (interpreted lambda dispatch per element per candidate pair). Exact
    * integer arithmetic: bitwise the HOF result. The lanes are read with
    * `getLong`, so `vec_qdot` casts its arguments to `array<bigint>` and
    * `bigint`.
    */
  def qdot(a: ArrayData, b: ArrayData, shift: Long): Long = {
    val n = a.numElements()
    if (n != b.numElements()) throw new IllegalArgumentException(
      s"vec_qdot: code length mismatch ($n vs ${b.numElements()})")
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += (a.getLong(i) - shift) * (b.getLong(i) - shift)
      i += 1
    }
    acc
  }
}
