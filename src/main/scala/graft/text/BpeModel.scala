package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.ColumnOps.invoke

/** A trained byte-pair-encoding merge table (Sennrich–Haddow–Birch 2016,
  * "Neural Machine Translation of Rare Words with Subword Units") and its
  * APPLY loop — the q_bpe_pairs inner loop completed into an actual
  * tokenizer: q_bpe_pairs counts merge CANDIDATES; this holds the learned
  * merge LIST and segments words with it.
  *
  * Apply convention (matches the training loop in TextOps.trainBpe): a
  * word starts as its code-point symbols; repeatedly find the adjacent
  * symbol pair with the LOWEST merge rank and fuse every left-to-right
  * occurrence of that pair, until no adjacent pair is in the table.
  *
  * Serializable and bounded (≤ numMerges entries) — ships once inside the
  * plan, the LmModel contract.
  */
final class BpeModel(val merges: Array[(String, String)]) extends Serializable {

  // keyed on the symbol PAIR, like TextOps.trainBpe — a concatenated
  // string key needs a separator no symbol may contain, a contract the
  // corpus cannot be trusted to honor
  private val rank = new java.util.HashMap[(String, String), Integer](merges.length * 2)
  merges.zipWithIndex.foreach { case ((a, b), i) =>
    rank.put((a, b), Integer.valueOf(i))
  }

  /** Subword segmentation of one word. */
  def segmentWord(word: String): Array[String] = {
    var syms = {
      val cps = word.codePoints().toArray
      cps.map(cp => new String(Character.toChars(cp)))
    }
    var done = syms.length < 2
    while (!done) {
      var bestRank = Integer.MAX_VALUE
      var i = 0
      while (i < syms.length - 1) {
        val r = rank.get((syms(i), syms(i + 1)))
        if (r != null && r.intValue() < bestRank) bestRank = r.intValue()
        i += 1
      }
      if (bestRank == Integer.MAX_VALUE) done = true
      else {
        val (a, b) = merges(bestRank)
        val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
            out += (a + b); j += 2
          } else { out += syms(j); j += 1 }
        }
        syms = out.toArray
        done = syms.length < 2
      }
    }
    syms
  }

  /** Total subword count of a document under the learned merges — same
    * lower/whitespace normalization as TextOps.tokens, empty words skipped
    * (they carry zero symbols, and the declarative n_words column skips
    * them identically).
    */
  def tokenCount(text: UTF8String): Long = {
    if (text == null) return 0L
    val words = text.toLowerCase.toString.trim.split("\\s+")
    var total = 0L
    var i = 0
    while (i < words.length) {
      if (words(i).nonEmpty) total += segmentWord(words(i)).length.toLong
      i += 1
    }
    total
  }

  /** The subword count of the text column `text`: a shuffle-free
    * projection inside whole-stage codegen; the corpus is never exploded
    * into words or symbols on the cluster. */
  def column(text: Column): Column = invoke(this, "tokenCount", LongType)(text -> StringType)
}
