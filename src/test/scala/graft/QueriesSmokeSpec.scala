package graft

import org.apache.spark.sql.functions._

/** Executes EVERY SparkEntry query at sf0.001 — without this, a broken
  * harness entry only surfaces in the driver's Verify run, not in
  * `sbt test`. Queries known to be legitimately empty at tiny SF are
  * allowed to return 0 rows; everything else must produce output.
  */
class QueriesSmokeSpec extends SparkSpec {

  private val sf = TestData.Sf0001

  // empty-by-construction at sf0.001: anti/except find no unmatched keys
  // (every customer has orders); the brute near-dup pair list may prune
  // everything at 200-row corpus scale. The envelope-contract queries
  // (simhash/ngram/embed near-dup) return one aggregate row unconditionally
  // and must NOT be allowed here — emptiness would be a regression.
  private val mayBeEmpty = Set("q_join_anti", "q_except", "q_embed_neardup_brute")

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query executes at sf0.001") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val n = fn(spark, sf).count()
        if (n == 0 && !mayBeEmpty.contains(name)) Some(s"$name: unexpectedly empty")
        else None
      } catch {
        case scala.util.control.NonFatal(e) =>
          Some(s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}")
      }
    }
    assert(failures.isEmpty, s"${failures.size} queries failed:\n${failures.mkString("\n")}")
  }

  test("every oracle key has a matching query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle entries without queries: $orphans")
  }

  test("every query is oracle-backed (no rows-only drift)") {
    // round 6 reached 0 rows-only checks; a new query landing without an
    // oracle (full hash or envelope contract) silently weakens the gate —
    // fail here instead
    val unbacked = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unbacked.isEmpty, s"queries without an oracle: $unbacked")
  }

  test("no oracle renders an uninitialized shared CTE") {
    // oracles interpolate shared CTE strings; one read before its object
    // initializes it renders as the word null (the oracles spell SQL's
    // NULL in capitals)
    val hits = SparkEntry.oracleSql.toSeq.sortBy(_._1).collect {
      case (name, sql) if "\\bnull\\b".r.findFirstIn(sql).nonEmpty => name
    }
    assert(hits.isEmpty, s"oracles rendering null: ${hits.mkString(", ")}")
  }

  test("every query has a committed baseline envelope (no unbaselined drift)") {
    // the r9/r10/r11 recurrence: a query committed after the closing
    // 3-run refresh ships with no perf contract. Gate.enforce fails the
    // driver's full Bench run on this; this is the same check where the
    // builder's own `sbt test` trips first. Remedy: run the refresh
    // (SPARK_GRAFT_REFRESH=1, tools/variance.py) and commit the JSONs —
    // or don't add the query.
    Gate.baselineGaps(
        java.nio.file.Paths.get("BASELINE_VARIANCE.json")) match {
      case Left(reason) =>
        fail(s"BASELINE_VARIANCE.json unreadable ($reason) — fix the file, " +
          "this is not a missing-envelope gap")
      case Right(gaps) =>
        assert(gaps.isEmpty, s"queries without a baseline envelope: $gaps")
    }
  }

  test("floorD equals mathematical floor at every magnitude (no long saturation)") {
    // the r13 sf1 defect class: Spark floor(double) -> LONG saturates at
    // 2^63, silently clamping cents^2-scale quantities; floorD must agree
    // with exact floor everywhere, including past the saturation point
    import spark.implicits._
    val xs = Seq(0.0, 0.49, 0.5, 2.3, -2.3, -2.5, 1234567.891,
      9.007199254740992e15, 4.1e18, 9.9e18, 3.6e19, 1.7e30,
      -4.1e18, -3.6e19)
    val got = xs.toDF("x")
      .select(graft.functions.ColumnOps.floorD(col("x")).as("f"))
      .collect().map(_.getDouble(0))
    val want = xs.map(x =>
      new java.math.BigDecimal(x).setScale(0, java.math.RoundingMode.FLOOR)
        .doubleValue())
    assert(got.toSeq == want,
      s"floorD mismatch: ${xs.zip(got).zip(want).filter(p => p._1._2 != p._2)}")
  }

  test("r2/r4/r6/cents round half-up with the 1e-6 bias, exactly, at every magnitude") {
    // reference: the same IEEE multiply-add the engines run, then an EXACT
    // BigDecimal floor — ties, negatives, the |x·10^k| >= 4e18 floorD
    // branch, and null propagation
    import graft.functions.ColumnOps.{cents, r2, r4, r6}
    import spark.implicits._
    val xs = Seq(0.0, 2.345, -2.345, 0.125, -0.125, 1.005, -1.005, 99.995,
      -0.0000005, 123.456789, -123.456789, 4.1e12, -4.1e12, 5.0e14, 4.1e16,
      -4.1e16)
    def floorExact(y: Double): java.math.BigDecimal =
      new java.math.BigDecimal(y).setScale(0, java.math.RoundingMode.FLOOR)
    def want(k: Int, x: Double): Double = {
      val s = math.pow(10, k)
      floorExact(x * s + 0.500001).doubleValue / s
    }
    val df = (xs.map(Option(_)) :+ None).toDF("x")
    val rows = df.select(r2(col("x")), r4(col("x")), r6(col("x")),
      cents(col("x"))).collect()
    assert(rows.last.toSeq.forall(_ == null), s"null input: ${rows.last}")
    xs.zip(rows).foreach { case (x, row) =>
      assert(row.getDouble(0) == want(2, x), s"r2($x) = ${row.getDouble(0)}")
      assert(row.getDouble(1) == want(4, x), s"r4($x) = ${row.getDouble(1)}")
      assert(row.getDouble(2) == want(6, x), s"r6($x) = ${row.getDouble(2)}")
      assert(row.getLong(3) == floorExact(x * 100.0 + 0.500001).longValueExact,
        s"cents($x) = ${row.getLong(3)}")
    }
    // the ties land half-up, the negative one toward +inf
    assert(rows(1).getDouble(0) == 2.35 && rows(2).getDouble(0) == -2.34)
    assert(rows(1).getLong(3) == 235L && rows(2).getLong(3) == -234L)
  }

  test("toDec38 is the EXACT decimal of an integer-valued double above 2^53") {
    // the second face of the r13 sf1 defect: Spark's Double→Decimal cast
    // goes through Double.toString (shortest round-trip), losing the low
    // digits of any integer-valued double past 2^53 — toDec38's two exact
    // limbs must reproduce the full binary value
    import spark.implicits._
    val xs = Seq(0.0, 1.0, 123456.0, 9.007199254740992e15,
      13145807510254225408.0, 4444232884572139008.0, 7396404959663240192.0,
      1.2345678901234568e22, -13145807510254225408.0)
    val got = xs.toDF("x")
      .select(graft.functions.ColumnOps.toDec38(col("x")).cast("string"))
      .collect().map(_.getString(0))
    val want = xs.map(x => new java.math.BigDecimal(x).toBigInteger.toString)
    assert(got.toSeq == want, got.toSeq.zip(want).filter(p => p._1 != p._2))
  }

  test("gate distinguishes a corrupt baseline file from missing envelopes") {
    // r12 ADVICE: NonFatal → Set.empty reported a truncated file as "347
    // queries without an envelope — run the refresh", misdirecting the
    // operator away from the real problem. A parse failure must be Left.
    val corrupt = java.nio.file.Files.createTempFile("graft_corrupt", ".json")
    try {
      java.nio.file.Files.writeString(corrupt, "{\"queries\":{\"q_a\":{\"med")
      assert(Gate.baselineNames(corrupt).isLeft, "truncated JSON → Left")
      // a genuinely MISSING file stays Right(empty): zero coverage, and
      // the 3-run refresh is the correct remedy the message points to
      val missing = corrupt.resolveSibling("graft_no_such_file.json")
      assert(Gate.baselineNames(missing) == Right(Set.empty[String]))
    } finally java.nio.file.Files.deleteIfExists(corrupt)
  }

  test("a parseable baseline with zero envelopes reads as Right(empty) while the file exists") {
    // r14 ADVICE: Right(empty) covers BOTH file-missing and
    // parsed-but-empty; the sf1 WARN branch separates them by
    // Files.exists so a corrupt-but-parseable file (writer dropped the
    // 'queries' object) is reported as broken, never as "no committed
    // file — run the refresh". This pins the two inputs that branch
    // discriminates on.
    val empty = java.nio.file.Files.createTempFile("graft_empty", ".json")
    try {
      java.nio.file.Files.writeString(empty, "{\"runs\": 3}") // no 'queries'
      assert(Gate.baselineNames(empty) == Right(Set.empty[String]))
      assert(java.nio.file.Files.exists(empty)) // ⇒ enforce words it as broken-file
      java.nio.file.Files.writeString(empty, "{\"queries\": {}}")
      assert(Gate.baselineNames(empty) == Right(Set.empty[String]))
    } finally java.nio.file.Files.deleteIfExists(empty)
  }
}
