package graft.text

import graft.{SparkSpec, SparkEntry}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

class StringSimilaritySpec extends SparkSpec {

  private def jw(a: String, b: String): Double =
    StringSimilarity.jaroWinkler(UTF8String.fromString(a), UTF8String.fromString(b))

  test("jaro-winkler matches the published worked example") {
    // Winkler 1990's canonical pair: jaro 17/18, prefix 3 → 0.9611…
    assert(math.abs(jw("martha", "marhta") - 0.9611111111111111) < 1e-12)
  }

  test("jaro-winkler edge cases") {
    assert(jw("", "") === 1.0)
    assert(jw("abc", "") === 0.0)
    assert(jw("", "abc") === 0.0)
    assert(jw("same", "same") === 1.0)
    assert(jw("abc", "xyz") === 0.0)
  }

  test("odd out-of-order count floors the transposition (DuckDB parity)") {
    // 4 matches, 3 out-of-order → 1 transposition (not 1.5): DuckDB's
    // jaro_winkler_similarity('hot gear','large plate') = 71/132
    assert(math.abs(jw("hot gear", "large plate") - 0.537878787878788) < 1e-12)
  }

  test("winkler boost gates at jaro 0.7 — no boost below") {
    // jaro = 0.5 with a 2-char common prefix: boosted would be 0.6
    assert(jw("abcdefgh", "abzzzzzz") === 0.5)
  }

  test("symmetry") {
    for ((a, b) <- Seq(("hot gear", "large plate"), ("martha", "marhta"),
        ("large widget", "large bolt"), ("x", "xy"))) {
      assert(jw(a, b) === jw(b, a))
    }
  }

  test("codegen path agrees with the kernel") {
    import spark.implicits._
    val pairs = Seq(("martha", "marhta"), ("hot gear", "large plate"),
      ("cold widget", "cold widget"), ("", "x")).toDF("a", "b")
    val rows = pairs
      .select(col("a"), col("b"), call_function("jaro_winkler", col("a"), col("b")).as("jw"))
      .collect()
    rows.foreach { r =>
      assert(r.getDouble(2) === jw(r.getString(0), r.getString(1)))
    }
  }

  test("record linkage query: window-only plan, threshold from rounded score") {
    val df = SparkEntry.queries("q_record_linkage")(spark, graft.TestData.Sf0001)
    val plan = df.queryExecution.executedPlan.toString
    // blocked linkage is ONE shuffle on the blocking key + the final sort —
    // scoring must never become a join
    assert(!plan.contains("Join"), s"linkage regressed to a join:\n$plan")
    assert(plan.linesIterator.count(_.contains("Exchange")) <= 2,
      s"unexpected extra shuffle:\n$plan")
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val s = r.getDouble(2)
      assert(s >= 0.0 && s <= 1.0)
      assert(r.getLong(3) === (if (s >= 0.85) 1L else 0L))
    }
  }

  private def lev(a: String, b: String, band: Int): Int =
    StringSimilarity.levBanded(
      UTF8String.fromString(a), UTF8String.fromString(b), band)

  test("lev_banded matches Spark's levenshtein(threshold) contract") {
    // reference distances: kitten->sitting 3 (the textbook pair),
    // identity 0, pure insert/delete = length delta
    assert(lev("kitten", "sitting", 100) === 3)
    assert(lev("same text", "same text", 100) === 0)
    assert(lev("abc", "", 100) === 3)
    assert(lev("", "abcd", 100) === 4)
    assert(lev("abc", "abc xyz", 100) === 4)
    // over-band returns -1, at-band returns the distance (Spark semantics)
    assert(lev("abc", "abcdefg", 3) === -1)
    assert(lev("abc", "abcdef", 3) === 3)
  }

  test("lev_banded prefix/suffix pruning preserves the distance") {
    // shared prefix AND suffix around a differing core - the pruning must
    // not change the answer vs the unpruned DP
    assert(lev("xxx CAT yyy", "xxx DOG yyy", 100) === 3)
    // the q_edit_distance shape: candidate = text minus trailing tokens
    assert(lev("a b c d e f", "a b c d", 100) === 4)
    // suffix-only overlap
    assert(lev("111 tail", "222 tail", 100) === 3)
  }

  test("lev_banded agrees with Spark's builtin levenshtein on random pairs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    def word() = (0 until (1 + rnd.nextInt(12)))
      .map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    val pairs = (1 to 200).map { _ =>
      val a = (0 until rnd.nextInt(8)).map(_ => word()).mkString(" ")
      val b = (0 until rnd.nextInt(8)).map(_ => word()).mkString(" ")
      (a, b)
    }
    val df = pairs.toDF("a", "b")
      .select(levenshtein(col("a"), col("b"), 100).as("builtin"),
        call_function("lev_banded", col("a"), col("b"), lit(100)).as("kernel"))
    assert(df.where(col("builtin") =!= col("kernel")).count() === 0L)
  }
}
