package graft.text

import org.apache.spark.unsafe.types.UTF8String

/** Jaro–Winkler similarity (`jaro_winkler`) and banded Levenshtein
  * (`lev_banded`) as static kernels. Jaro–Winkler is the fuzzy-match
  * scorer of a record-linkage stage (blocked candidate pairs → per-pair
  * similarity → threshold). Published definition (Winkler 1990): Jaro
  * similarity from the match-window/transposition counts, plus the common-
  * prefix boost (scale 0.1, prefix capped at 4) applied only when the Jaro
  * score exceeds 0.7 — the same variant DuckDB's
  * `jaro_winkler_similarity` implements, which is what makes the oracle an
  * exact cross-engine hash gate rather than an envelope.
  *
  * O(|a|·window) two-pass scan with two boolean scratch arrays — no
  * allocation beyond the scratch, runs inside whole-stage codegen as a
  * static call (the same shape as [[graft.dedup.DedupKernels]]).
  *
  * Reference anchor: the reference pipeline has no fuzzy matcher; this is
  * part of the LLM-curation surface (entity resolution across corpus
  * snapshots) built Spark-first.
  */
object StringSimilarity {

  /** Jaro similarity over UTF-16 code units (test corpus is ASCII; DuckDB
    * compares code points — identical on the BMP-ASCII domain we gate). */
  def jaro(sStr: String, tStr: String): Double = {
    val ls = sStr.length
    val lt = tStr.length
    if (ls == 0 && lt == 0) return 1.0
    if (ls == 0 || lt == 0) return 0.0
    val window = math.max(math.max(ls, lt) / 2 - 1, 0)
    val sMatch = new Array[Boolean](ls)
    val tMatch = new Array[Boolean](lt)
    var m = 0
    var i = 0
    while (i < ls) {
      val hi = math.min(lt - 1, i + window)
      var j = math.max(0, i - window)
      var found = false
      while (j <= hi && !found) {
        if (!tMatch(j) && sStr.charAt(i) == tStr.charAt(j)) {
          sMatch(i) = true
          tMatch(j) = true
          m += 1
          found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var trans = 0
    var k = 0
    i = 0
    while (i < ls) {
      if (sMatch(i)) {
        while (!tMatch(k)) k += 1
        if (sStr.charAt(i) != tStr.charAt(k)) trans += 1
        k += 1
      }
      i += 1
    }
    // rapidfuzz (and therefore DuckDB) floors the half-transposition count
    // to an integer: an odd out-of-order count contributes (count/2)
    // transpositions, not count/2.0 — (m − ⌊trans/2⌋)/m, verified against
    // DuckDB on the one odd-count pair in the fixture ('hot gear' vs
    // 'large plate': 3 out-of-order matches → 1 transposition, 0.5379)
    (m.toDouble / ls + m.toDouble / lt + (m - trans / 2).toDouble / m) / 3.0
  }

  /** Winkler boost: only above jaro 0.7, prefix capped at 4, scale 0.1. */
  def jaroWinkler(a: UTF8String, b: UTF8String): Double = {
    val sStr = a.toString
    val tStr = b.toString
    val j = jaro(sStr, tStr)
    if (j > 0.7) {
      val max = math.min(4, math.min(sStr.length, tStr.length))
      var l = 0
      while (l < max && sStr.charAt(l) == tStr.charAt(l)) l += 1
      j + l * 0.1 * (1.0 - j)
    } else j
  }

  /** Banded Levenshtein with common-prefix/suffix pruning: the same
    * contract as Spark's `levenshtein(l, r, threshold)` — the exact edit
    * distance when ≤ band, −1 otherwise — but the DP runs only on the
    * strings' DIFFERING core. Stripping a shared prefix (first DP
    * row/column) and then a shared suffix of the remainders (reversal
    * symmetry) provably preserves the distance — the standard pruning
    * every native edit-distance library applies, which Spark's builtin
    * does not. For q_edit_distance's candidate = document-minus-last-two-
    * tokens shape the shared prefix IS nearly the whole document, so the
    * O(len·band) per-row DP collapses to O(tail²). Distances are computed
    * over UTF-16 code units (the jaro() caveat: identical to Spark's
    * code-point count on the BMP/ASCII domain the oracle gates).
    */
  def levBanded(a: UTF8String, b: UTF8String, band: Int): Int = {
    val s = a.toString
    val t = b.toString
    var p = 0
    val minLen = math.min(s.length, t.length)
    while (p < minLen && s.charAt(p) == t.charAt(p)) p += 1
    var se = s.length
    var te = t.length
    while (se > p && te > p && s.charAt(se - 1) == t.charAt(te - 1)) {
      se -= 1; te -= 1
    }
    val n = se - p
    val m = te - p
    if (n == 0) return if (m <= band) m else -1
    if (m == 0) return if (n <= band) n else -1
    if (math.abs(n - m) > band) return -1
    val inf = Int.MaxValue / 2
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    var j = 0
    while (j <= m) { prev(j) = if (j <= band) j else inf; j += 1 }
    var i = 1
    while (i <= n) {
      java.util.Arrays.fill(cur, inf)
      cur(0) = if (i <= band) i else inf
      val from = math.max(1, i - band)
      val to = math.min(m, i + band)
      j = from
      while (j <= to) {
        val cost = if (s.charAt(p + i - 1) == t.charAt(p + j - 1)) 0 else 1
        var v = prev(j - 1) + cost
        if (prev(j) + 1 < v) v = prev(j) + 1
        if (cur(j - 1) + 1 < v) v = cur(j - 1) + 1
        cur(j) = v
        j += 1
      }
      val tmp = prev; prev = cur; cur = tmp
      i += 1
    }
    if (prev(m) <= band) prev(m) else -1
  }
}
