package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The library's `SparkSessionExtensions` hook and the ONLY place the
  * engine's native codegen functions are registered. A session gets them
  * from `spark.sql.extensions=graft.GraftExtensions` — set by
  * [[graft.Sessions.local]], or by a host application's own builder /
  * spark-submit conf — and sessions derived from it (`newSession`,
  * `cloneSession`) inherit them. A session built WITHOUT the setting has
  * none of them: a query calling one fails at analysis with Spark's
  * `UNRESOLVED_ROUTINE` error naming the function.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in"),
        builder))
    }
}

object GraftExtensions {

  /** One `(name, usage, builder)` entry per native function. Each usage
    * string starts with the call signature its builder's arity check names.
    * The model-backed kernels are not here: a trained model is a driver
    * object, not a SQL value, so each model builds its own `Column`
    * (`LangModel.column`, `LmModel.column`, `BpeModel.column`,
    * `IvfModel.column`, `BloomBits.column`).
    */
  val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("hyp2f1", "hyp2f1(a, b, c, z) - Gauss hypergeometric series", { exprs =>
      require(exprs.length == 4, "hyp2f1(a, b, c, z) takes 4 arguments")
      graft.clv.Hyp2f1Expression(exprs(0), exprs(1), exprs(2), exprs(3))
    }),
    ("vec_dot", "vec_dot(a, b) - dot product of two numeric arrays", { exprs =>
      require(exprs.length == 2, "vec_dot(a, b) takes 2 arguments")
      graft.similarity.DotProductExpression(exprs(0), exprs(1))
    }),
    ("minhash_sig", "minhash_sig(text, k, numHashes) - minhash signature of word k-grams", { exprs =>
      require(exprs.length == 3, "minhash_sig(text, k, numHashes) takes 3 arguments")
      graft.dedup.MinHashSignatureExpression(exprs(0), exprs(1), exprs(2))
    }),
    ("simhash64", "simhash64(text) - 64-bit simhash over whitespace tokens", { exprs =>
      require(exprs.length == 1, "simhash64(text) takes 1 argument")
      graft.dedup.SimHash64Expression(exprs(0))
    }),
    ("winnow_fp", "winnow_fp(text, k, w) - winnowing fingerprint of word k-gram hashes", { exprs =>
      require(exprs.length == 3, "winnow_fp(text, k, w) takes 3 arguments")
      graft.dedup.WinnowFingerprintExpression(exprs(0), exprs(1), exprs(2))
    }),
    ("graft_nfc", "graft_nfc(text) - Unicode NFC canonical normalization", { exprs =>
      require(exprs.length == 1, "graft_nfc(text) takes 1 argument")
      graft.text.NfcNormalizeExpression(exprs(0))
    }),
    ("shingle_hashes", "shingle_hashes(text, k) - sorted distinct xxhash64 word k-gram shingles", { exprs =>
      require(exprs.length == 2, "shingle_hashes(text, k) takes 2 arguments")
      graft.dedup.ShingleHashesExpression(exprs(0), exprs(1))
    }),
    ("minhash_from_hashes", "minhash_from_hashes(hashes, numHashes) - minhash signature of a long-hash array", { exprs =>
      require(exprs.length == 2, "minhash_from_hashes(hashes, numHashes)")
      graft.dedup.MinHashFromHashesExpression(exprs(0), exprs(1))
    }),
    ("vec_maxsim", "vec_maxsim(a, b, m) - chunked late-interaction MaxSim over m sub-vectors", { exprs =>
      require(exprs.length == 3, "vec_maxsim(a, b, m) takes 3 arguments")
      graft.similarity.MaxSimExpression(exprs(0), exprs(1), exprs(2))
    }),
    ("vec_qdot", "vec_qdot(a, b, shift) - integer dot of code arrays with affine shift", { exprs =>
      require(exprs.length == 3, "vec_qdot(a, b, shift) takes 3 arguments")
      graft.similarity.QdotExpression(exprs(0), exprs(1), exprs(2))
    }),
    ("lanes_equal", "lanes_equal(sig_a, sig_b) - count of positionally equal signature lanes", { exprs =>
      require(exprs.length == 2, "lanes_equal(sig_a, sig_b) takes 2 arguments")
      graft.dedup.LanesEqualExpression(exprs(0), exprs(1))
    }),
    ("sorted_inter_size", "sorted_inter_size(a, b) - intersection size of two sorted distinct long arrays", { exprs =>
      require(exprs.length == 2, "sorted_inter_size(a, b) takes 2 arguments")
      graft.dedup.SortedInterSizeExpression(exprs(0), exprs(1))
    }),
    ("jaro_winkler", "jaro_winkler(a, b) - Jaro-Winkler similarity of two strings", { exprs =>
      require(exprs.length == 2, "jaro_winkler(a, b)")
      graft.text.JaroWinklerExpression(exprs(0), exprs(1))
    }),
    ("lev_banded", "lev_banded(a, b, band) - banded Levenshtein with prefix/suffix pruning (-1 past band)", { exprs =>
      require(exprs.length == 3, "lev_banded(a, b, band) takes 3 arguments")
      graft.text.LevBandedExpression(exprs(0), exprs(1), exprs(2))
    }),
    ("graft_bucket_of", "graft_bucket_of(bnds, v) - #{boundary < v} over a sorted double array (binary search)", { exprs =>
      require(exprs.length == 2, "graft_bucket_of(bnds, v) takes 2 arguments")
      graft.operators.BucketOfExpression(exprs(0), exprs(1))
    }))
}
