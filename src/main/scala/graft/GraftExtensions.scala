package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._
import graft.clv.Hyp2f1
import graft.dedup.DedupKernels
import graft.operators.BucketOf
import graft.similarity.VecOps
import graft.text.{StringSimilarity, TextNorm}

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

  private type Builder = Seq[Expression] => Expression
  private type Entry = (String, String, Builder)

  private val Longs = ArrayType(LongType, containsNull = false)

  /** One `(name, usage, builder)` entry per native function. Each usage
    * string starts with the call signature its builder's arity check names.
    * Every builder is a `StaticInvoke` of the kernel method: generated code
    * calls the method directly inside whole-stage codegen, interpreted eval
    * calls it by reflection, and the analyzer casts each argument to its
    * input type (a type with no implicit cast fails with
    * `DATATYPE_MISMATCH`). A NULL argument gives NULL without a call.
    * The model-backed kernels are not here: a trained model is a driver
    * object, not a SQL value, so each model builds its own `Column`
    * (`LangModel.column`, `LmModel.column`, `BpeModel.column`,
    * `IvfModel.column`, `BloomBits.column`).
    */
  val functions: Seq[Entry] = Seq(
    static("hyp2f1(a, b, c, z) - Gauss hypergeometric series",
      Hyp2f1, "hyp2f1", DoubleType, DoubleType, DoubleType, DoubleType, DoubleType),
    vectors("vec_dot(a, b) - dot product of two numeric arrays", "dot"),
    static("minhash_sig(text, k, numHashes) - minhash signature of word k-grams",
      DedupKernels, "minhashSignature", Longs, StringType, IntegerType, IntegerType),
    static("simhash64(text) - 64-bit simhash over whitespace tokens",
      DedupKernels, "simhash64", LongType, StringType),
    static("winnow_fp(text, k, w) - winnowing fingerprint of word k-gram hashes",
      DedupKernels, "winnowFingerprint", Longs, StringType, IntegerType, IntegerType),
    static("graft_nfc(text) - Unicode NFC canonical normalization",
      TextNorm, "nfc", StringType, StringType),
    static("shingle_hashes(text, k) - sorted distinct xxhash64 word k-gram shingles",
      DedupKernels, "shingleHashes", Longs, StringType, IntegerType),
    static("minhash_from_hashes(hashes, numHashes) - minhash signature of a long-hash array",
      DedupKernels, "minhashFromHashes", Longs, ArrayType(LongType), IntegerType),
    vectors("vec_maxsim(a, b, m) - chunked late-interaction MaxSim over m sub-vectors",
      "maxsim", IntegerType),
    static("vec_qdot(a, b, shift) - integer dot of code arrays with affine shift",
      VecOps, "qdot", LongType, ArrayType(LongType), ArrayType(LongType), LongType),
    static("lanes_equal(sig_a, sig_b) - count of positionally equal signature lanes",
      DedupKernels, "lanesEqual", IntegerType, ArrayType(LongType), ArrayType(LongType)),
    // both arrays must be sorted distinct ascending, which no type check
    // sees; every internal producer (shingle_hashes) guarantees it
    static("sorted_inter_size(a, b) - intersection size of two sorted distinct long arrays",
      DedupKernels, "sortedInterSize", IntegerType, ArrayType(LongType), ArrayType(LongType)),
    static("jaro_winkler(a, b) - Jaro-Winkler similarity of two strings",
      StringSimilarity, "jaroWinkler", DoubleType, StringType, StringType),
    // distances count UTF-16 code units: strings outside the BMP diverge
    // from Spark's levenshtein()
    static("lev_banded(a, b, band) - banded Levenshtein with prefix/suffix pruning (-1 past band)",
      StringSimilarity, "levBanded", IntegerType, StringType, StringType, IntegerType),
    static("graft_bucket_of(bnds, v) - #{boundary < v} over a sorted double array (binary search)",
      BucketOf, "lowerBound", IntegerType, ArrayType(DoubleType), DoubleType))

  /** `kernel.method(args)`, each argument cast to its `inputTypes` entry. */
  private def static(usage: String, kernel: AnyRef, method: String, dataType: DataType,
      inputTypes: DataType*): Entry =
    entry(usage, inputTypes.length, kernel, method, dataType)(_.zip(inputTypes))

  /** `VecOps.method(a, b, rest.., aFloat, bFloat)`: an `array<float>`
    * argument is read as floats, flagged to the kernel by a boolean
    * literal; any other array is cast to `array<double>`. Spark calls a
    * builder once its arguments are resolved, so their types are known.
    */
  private def vectors(usage: String, method: String, rest: DataType*): Entry =
    entry(usage, 2 + rest.length, VecOps, method, DoubleType) { args =>
      val isFloat = args.take(2).map(_.dataType match {
        case ArrayType(FloatType, _) => true
        case _ => false
      })
      args.zip(isFloat.map(f => ArrayType(if (f) FloatType else DoubleType)) ++ rest) ++
        isFloat.map(f => (Literal(f), BooleanType))
    }

  /** The one builder shape: check the argument count against `usage`'s
    * signature, then call `kernel.method` on the `typed` arguments. */
  private def entry(usage: String, arity: Int, kernel: AnyRef, method: String,
      dataType: DataType)(
      typed: Seq[Expression] => Seq[(Expression, DataType)]): Entry = {
    val signature = usage.substring(0, usage.indexOf(" - "))
    (signature.takeWhile(_ != '('), usage, { args =>
      require(args.length == arity,
        s"$signature takes $arity argument${if (arity == 1) "" else "s"}")
      val (exprs, types) = typed(args).unzip
      StaticInvoke(kernel.getClass, dataType, method, exprs, types, returnNullable = false)
    })
  }
}
