package graft.text

import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization, the `graft_nfc` kernel — the
  * canonicalization step that runs BEFORE hashing/dedup in a text pipeline
  * (é composed vs e+◌́ decomposed must collapse to one byte sequence or
  * exact dedup silently misses duplicates). Spark ships no normalize
  * function; a Scala UDF would break the whole-stage-codegen span around
  * the md5/dedup projection it feeds, so this is a static method that
  * generated code calls directly.
  *
  * The kernel fast-paths the already-normalized case (`isNormalized` is a
  * cheap scan that short-circuits on ASCII) and returns the INPUT buffer
  * unchanged there — the common path on mostly-ASCII corpora allocates
  * nothing.
  */
object TextNorm {
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}
