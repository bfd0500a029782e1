package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke

/** The extensions hook must make every native function SQL-callable. */
class GraftExtensionsSpec extends SparkSpec {

  private val names = GraftExtensions.functions.map(_._1)

  test("the table names each native function once") {
    assert(names.size == 15)
    assert(names.distinct == names)
  }

  test("every table entry is registered in the session and in newSession()") {
    val fresh = spark.newSession()
    for (name <- names) {
      assert(spark.catalog.functionExists(name), name)
      assert(fresh.catalog.functionExists(name), s"$name in newSession()")
    }
  }

  test("each builder rejects a wrong argument count with its arity message") {
    for ((name, usage, builder) <- GraftExtensions.functions) {
      val signature = usage.takeWhile(_ != ' ')
      assert(signature.startsWith(name + "("), usage)
      for (wrong <- Seq(0, 5)) {
        val e = intercept[IllegalArgumentException](builder(Seq.fill(wrong)(Literal(1L))))
        assert(e.getMessage.startsWith(s"requirement failed: $signature"),
          s"$name with $wrong args: ${e.getMessage}")
      }
    }
  }

  test("every table entry builds a StaticInvoke of its kernel method") {
    for ((name, usage, builder) <- GraftExtensions.functions) {
      val arity = usage.takeWhile(_ != ')').count(_ == ',') + 1
      assert(builder(Seq.fill(arity)(Literal(1L))).isInstanceOf[StaticInvoke], name)
    }
  }

  test("IvfCellsExpression is the one src/main *aryExpression class") {
    import scala.jdk.CollectionConverters._
    val shell = ("""class\s+(\w+)(?:(?!class\b)[^{])*?extends\s+[\w.]*\b""" +
      """(?:Unary|Binary|Ternary|Quaternary)Expression\b""").r
    val files = scala.util.Using.resource(
        java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala")))(
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList)
    assert(files.nonEmpty, "scan found no sources")
    val classes = files.flatMap(f =>
      shell.findAllMatchIn(java.nio.file.Files.readString(f)).map(_.group(1)))
    assert(classes == List("IvfCellsExpression"), s"hand-written expression classes: $classes")
  }

  test("jaro_winkler and minhash_from_hashes resolve in a fresh session") {
    val r = spark.newSession().sql(
      """SELECT jaro_winkler('martha', 'marhta') AS jw,
        |  size(minhash_from_hashes(array(1L, 2L, 3L), 8)) AS m""".stripMargin).first()
    assert(math.abs(r.getAs[Double]("jw") - 0.9611111111111111) < 1e-9)
    assert(r.getAs[Int]("m") == 8)
  }

  test("every call_function literal in src/main is a table entry or a Spark built-in") {
    import scala.jdk.CollectionConverters._
    val call = "call_function\\(\"(\\w+)\"".r
    val files = scala.util.Using.resource(
        java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala")))(
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList)
    val called = files.flatMap(f =>
      call.findAllMatchIn(java.nio.file.Files.readString(f)).map(_.group(1))).toSet
    assert(called.contains("hyp2f1"), "scan found no native calls")
    val unknown = called.filterNot(n =>
      names.contains(n) || FunctionRegistry.builtin.functionExists(FunctionIdentifier(n)))
    assert(unknown.isEmpty, s"call_function names outside the table: $unknown")
  }

  test("extension functions are callable from SQL") {
    val r = spark.sql(
      """SELECT hyp2f1(1.0D, 1.0D, 2.0D, 0.5D) AS h,
        |  vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |  simhash64('alpha beta gamma') AS s,
        |  size(minhash_sig('a b c d e f', 3, 16)) AS m,
        |  size(winnow_fp('a b c d e f g h', 3, 4)) AS w,
        |  size(shingle_hashes('a b c d e f', 3)) AS sh,
        |  graft_bucket_of(array(1.0D, 2.0D, 2.0D, 5.0D), 2.5D) AS b""".stripMargin).first()
    // hyp2f1(1,1;2;z) = -ln(1-z)/z
    assert(math.abs(r.getAs[Double]("h") - (-math.log1p(-0.5) / 0.5)) < 1e-9)
    assert(r.getAs[Double]("d") == 11.0)
    assert(r.getAs[Long]("s") != 0L)
    assert(r.getAs[Int]("m") == 16)
    assert(r.getAs[Int]("w") >= 1)
    assert(r.getAs[Int]("sh") == 4) // 6 tokens → 4 distinct 3-gram shingles
    assert(r.getAs[Int]("b") == 3)  // three boundaries < 2.5, dups counted
  }

  test("simhash64 is deterministic and token-order-insensitive in aggregate sign") {
    val a = spark.sql("SELECT simhash64('the quick brown fox') AS s").first().getLong(0)
    val b = spark.sql("SELECT simhash64('the quick brown fox') AS s").first().getLong(0)
    assert(a == b)
  }
}
