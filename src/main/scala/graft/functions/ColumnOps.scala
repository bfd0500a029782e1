package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.Invoke
import org.apache.spark.sql.classic.{ClassicConversions, ColumnConversions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, ObjectType}

/** Expression-level helpers: the shared rounding and cast vocabulary and
  * let-binding for higher-order-function pipelines.
  *
  * Rounding contract. Oracle-checked queries round half-up with a 1e-6
  * bias, `floor(x·10^k + 0.500001) / 10^k`, and the DuckDB oracle
  * SQL spells the same rule (`FLOOR(x * 100 + 0.500001) / 100`), so both
  * engines run the same IEEE ops and .xx5 boundaries land identically;
  * the bias absorbs summation-order noise. Neither engine's ROUND is used:
  * their tie modes differ. [[r2]]/[[r4]]/[[r6]] floor through [[floorD]]
  * (exact at every magnitude, a double result); [[cents]] floors with
  * plain `floor` and keeps Spark's LONG, the integer money unit that
  * exact sums and moments aggregate.
  *
  * Spark evaluates interpreted HOF lambdas per element, and a lambda BODY
  * that references an outer expression re-evaluates that expression on
  * every element (no common-subexpression elimination in interpreted
  * eval). `transform(seq, i => slice(split(text), i, k))` therefore
  * re-splits the whole text once per position — an accidental O(n²).
  *
  * `bind` routes a value through a single-element array + lambda variable:
  * the bound expression is evaluated exactly once, and every reference to
  * the lambda variable inside the body is a constant-time read. This is
  * the expression-tree analogue of a `let`-binding.
  */
object ColumnOps {

  /** `model.method(args)` as a Column: an `Invoke` of a model-backed
    * kernel, with each argument cast to its paired type. The model ships
    * once inside the plan, as a literal that generated code reads from its
    * reference objects; a NULL argument gives NULL without a call, and a
    * method that may itself return null sets `returnNullable`.
    */
  def invoke(model: AnyRef, method: String, dataType: DataType,
      returnNullable: Boolean = false)(args: (Column, DataType)*): Column =
    toColumn(Invoke(Literal(model, ObjectType(model.getClass)), method, dataType,
      args.map(a => ColumnConversions.expression(a._1)), args.map(_._2),
      returnNullable = returnNullable))

  /** The Catalyst expression `e` as a Column, through Spark's
    * developer-API `Column(expr)` constructor. That constructor hangs off
    * the `Column` companion, which is private to Spark, and never reads
    * it, hence the `null` receiver. */
  def toColumn(e: Expression): Column = ClassicConversions.ColumnConstructorExt(null)(e)

  /** let-bind: evaluate `c` once, use it many times inside `f`. */
  def bind(c: Column)(f: Column => Column): Column =
    element_at(transform(array(c), f), 1)

  /** Exact double-DOMAIN floor at every magnitude. Spark's `floor` on a
    * double returns LONG via Scala's Double→Long conversion, which
    * SATURATES silently at ±2^63 — at sf1, squared daily-revenue-cents
    * residuals reach ~4e19, clamp to 9.22e18 on the Spark side only, and
    * the DW/Cook's/BP statistics diverge from the
    * oracle whose DuckDB FLOOR stays in double (a second face: the [[r6]]
    * micro-unit REPORT rounding clamps any |value| > 9.2e12 the same way).
    * Equivalence proof of the guarded form: for |x| < 4e18 the long floor
    * is exact (no saturation below 2^63) and the Long→Double cast is
    * exact (any long that came FROM a double ≥ 2^53 IS that double; below
    * 2^53 every long fits); for |x| ≥ 4e18 > 2^53 the double is already
    * integer-valued, so floor(x) = x. Both branches therefore equal
    * DuckDB's FLOOR(DOUBLE) bit-for-bit.
    */
  def floorD(c: Column): Column =
    when(abs(c) < lit(4.0e18), floor(c).cast("double")).otherwise(c)

  /** Half-up to 2 / 4 / 6 decimals: floorD(c·10^k + 0.500001) / 10^k. */
  def r2(c: Column): Column =
    floorD(c * lit(100.0) + lit(0.500001)) / lit(100.0)
  def r4(c: Column): Column =
    floorD(c * lit(10000.0) + lit(0.500001)) / lit(10000.0)
  def r6(c: Column): Column =
    floorD(c * lit(1000000.0) + lit(0.500001)) / lit(1000000.0)

  /** The two casts of the exact-moment queries: to double, and to
    * decimal(38,0) for exact integer products and sums. */
  def d(c: Column): Column = c.cast("double")
  def dec(c: Column): Column = c.cast("decimal(38,0)")

  /** Integer cents (LONG) of a 2-dp money amount, half-up:
    * floor(c·100 + 0.500001). Plain `floor`, not floorD: money stays far
    * below the 2^63 saturation bound. */
  def cents(c: Column): Column =
    floor(c * lit(100.0) + lit(0.500001)).cast("long")

  /** EXACT decimal(38,0) of an integer-valued double (the floorD output).
    * Spark's Cast(Double → Decimal) routes through `Double.toString` —
    * the SHORTEST round-trip decimal, not the exact binary value — so any
    * integer-valued double above 2^53 loses its low digits (at sf1,
    * per-day cents² residuals ~5e18 cast with ±hundreds of
    * noise; Σ then differed from the oracle's exact HUGEINT by 2.7e4, and
    * q_breusch_pagan's 11-order moment cancellation amplified that to a
    * visible het_slope shift). Two exact limbs fix it: hi = ⌊c/2^32⌋ and
    * lo = c − hi·2^32 are both < 2^53 (exact casts; the division and the
    * subtraction are exponent shifts / Sterbenz-exact), recomposed in
    * decimal arithmetic. Exact for |c| < 2^85 ≈ 3.9e25 — cents² moments
    * at sf100 sit at ~1e22. DuckDB's CAST(DOUBLE AS HUGEINT) is already
    * exact, so this restores bit parity, it does not define it.
    */
  def toDec38(c: Column): Column = {
    val hi = floorD(c / lit(4294967296.0))
    val lo = c - hi * lit(4294967296.0)
    hi.cast("decimal(38,0)") * lit(4294967296L).cast("decimal(38,0)") +
      lo.cast("decimal(38,0)")
  }
}
