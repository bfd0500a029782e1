package graft.operators

import org.apache.spark.sql.catalyst.util.ArrayData

/** `#{boundary < v}` over a SORTED double boundary array, as a binary
  * search — the `graft_bucket_of` bucket-assignment kernel of the
  * [[Ranks]] two-level ranking pattern.
  *
  * The declarative form, `size(filter(bnds, b => b < v))`, evaluates an
  * interpreted lambda per BOUNDARY per row: with 256 buckets that is ~255
  * comparisons × row × the two passes that recompute the bucketing
  * subtree (offsets aggregate + ranking join) — the dominant cost of the
  * pattern on multi-million-row frames (measured at sf0.1: q_window_dist
  * 3.7 s → 1.1 s on its 1.5 M-row frame when this kernel replaced the
  * lambda, and the four r10 global-ranking queries dropped 15–40% each),
  * and the gap widens with the bucket count, i.e. exactly at the
  * `buckets = 64k` setting the 100 TB contract calls for, where linear
  * scan is 65k comparisons and binary search is 16.
  *
  * Semantics match the lambda exactly for the arrays percentile_approx
  * produces (sorted ascending, possibly with duplicate cuts, no null
  * elements): count of strictly-smaller boundaries = lower-bound index of
  * v. A NULL array (empty-input frame) yields NULL; callers coalesce to
  * bucket 0, as before.
  */
object BucketOf {
  /** First index whose boundary is >= v — equivalently `#{b < v}`. */
  def lowerBound(bnds: ArrayData, v: Double): Int = {
    var lo = 0
    var hi = bnds.numElements()
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (bnds.getDouble(mid) < v) lo = mid + 1 else hi = mid
    }
    lo
  }
}
