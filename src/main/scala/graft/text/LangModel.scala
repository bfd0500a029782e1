package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.ColumnOps.invoke

/** Trained trigram language model: the per-(language, trigram) log-
  * probabilities collected off the (bounded) profile aggregate, packed for
  * single-pass scoring. `langs` is sorted ascending so index order IS the
  * tie-break order (larger index wins on equal scores, matching the
  * join-based form's max_by(struct(score, p_lang)) and the oracle's
  * ORDER BY score DESC, p_lang DESC).
  *
  * Serializable: the expression ships the model to executors inside the
  * plan (a few hundred KB for real trigram profiles) — the broadcast-model
  * alternative to shuffling an exploded corpus through join + groupBy.
  */
final class LangModel(val langs: Array[String],
    table: java.util.HashMap[String, Array[Double]],
    val n: Int = 3) extends Serializable {

  /** Predict the language of `text`, or null when no trigram overlaps the
    * profile (the join-based form drops such docs — parity preserved).
    * NaN slots mark (lang, trigram) pairs absent from the profile; they
    * contribute nothing, and a language scores only if ≥1 term touched it.
    */
  def predict(text: UTF8String): UTF8String = {
    if (text == null) return null
    // UTF8String.toLowerCase = the exact primitive behind Spark's lower()
    // (Java's String.toLowerCase is locale-sensitive — Turkish-I trap)
    val norm = text.toLowerCase.toString.replaceAll("\\s+", " ")
    // code POINTS, not UTF-16 units: Spark's substr/length (and the
    // DuckDB oracle) window trigrams by code point, so supplementary-
    // plane characters must count as one position here too
    val cps = norm.codePoints().toArray
    val len = cps.length
    // gram width follows the TRAINED n (hardcoding 3 here silently
    // returned null for every doc when the profile was trained with n≠3)
    val positions = math.max(len - (n - 1), 1)
    val scores = new Array[Double](langs.length)
    val touched = new Array[Boolean](langs.length)
    var i = 0
    while (i < positions) {
      val gram = new String(cps, i, math.min(n, len - i))
      val row = table.get(gram)
      if (row != null) {
        var l = 0
        while (l < langs.length) {
          val v = row(l)
          if (!java.lang.Double.isNaN(v)) { scores(l) += v; touched(l) = true }
          l += 1
        }
      }
      i += 1
    }
    var best = -1
    var l = 0
    while (l < langs.length) {
      // >= : ties resolve to the LARGER lang (langs sorted ascending)
      if (touched(l) && (best < 0 || scores(l) >= scores(best))) best = l
      l += 1
    }
    if (best < 0) null else UTF8String.fromString(langs(best))
  }

  /** The predicted language of the text column `text` (null where
    * [[predict]] is): a shuffle-free projection inside whole-stage
    * codegen, the scale-correct replacement for exploding the corpus into
    * trigrams and shuffling them through a broadcast join + two
    * aggregations. */
  def column(text: Column): Column =
    invoke(this, "predict", StringType, returnNullable = true)(text -> StringType)
}
