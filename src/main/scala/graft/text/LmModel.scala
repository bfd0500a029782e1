package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.ColumnOps.invoke

/** Trained character-n-gram language model for PERPLEXITY scoring (the
  * CCNet-style quality filter: score every document's likelihood under a
  * reference LM and gate/bucket on it — a different face of the same
  * trigram machinery as [[LangModel]], which answers "which language",
  * not "how likely").
  *
  * Add-one smoothing over the training profile: p(g) = (c_g + 1)/(N + V)
  * with N = total training grams, V = distinct training grams, so a
  * document's log-likelihood decomposes as Σ ln(c_g + 1) − L·ln(N + V).
  * The kernel returns ONLY the first (model-dependent) sum; the length
  * normalization stays declarative column arithmetic, shared verbatim
  * with the DuckDB oracle.
  *
  * Serializable: ships once inside the plan (vocab-bounded — at most the
  * distinct-trigram count of the training corpus).
  */
final class LmModel(table: java.util.HashMap[String, java.lang.Long],
    val n: Int = 3) extends Serializable {

  /** V = distinct training grams (the smoothing denominator's vocab term). */
  val vocab: Long = table.size.toLong

  /** Σ ln(c_g + 1) over the document's grams, same normalization and
    * code-point windowing as [[LangModel.predict]] (and Spark's
    * lower/regexp_replace/substr, and the oracle).
    */
  def logCountSum(text: UTF8String): Double = {
    if (text == null) return 0.0
    val norm = text.toLowerCase.toString.replaceAll("\\s+", " ")
    val cps = norm.codePoints().toArray
    val len = cps.length
    val positions = math.max(len - (n - 1), 1)
    var s = 0.0
    var i = 0
    while (i < positions) {
      val gram = new String(cps, i, math.min(n, len - i))
      // boxed lookup so a missing gram is a REAL null, not a silent
      // unbox-to-0 (a scala.Long-valued map makes the null test dead code
      // and the correctness coincidental to ln(0+1)=0)
      val c: java.lang.Long = table.get(gram)
      // unseen grams: ln(0 + 1) = 0 — they contribute only through the
      // declarative −ln(N+V) per-gram term outside the kernel
      if (c != null) s += math.log(c.doubleValue() + 1.0)
      i += 1
    }
    s
  }

  /** Σ ln(c_g + 1) of the text column `text`: a shuffle-free projection
    * inside whole-stage codegen; the corpus never explodes into grams on
    * the cluster. */
  def column(text: Column): Column = invoke(this, "logCountSum", DoubleType)(text -> StringType)
}
