package graft.operators

import graft.{SparkSpec, SparkEntry}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Semantic invariants + plan gates for the inferential-statistics family
  * (Stats.scala). The DuckDB hash gates pin exact values on the real
  * fixtures; these pin the test ALGEBRA on closed-form synthetic tables
  * (planted independence ⇒ chi2 = MI = 0, identical binned distributions
  * ⇒ D = 0, a planted arm lift ⇒ a significant positive t) and the
  * bounded-frame plan shapes (corpus reduces through a partial aggregate
  * BEFORE the first shuffle; everything is join-free).
  */
class StatsSpec extends SparkSpec {

  private val sf = graft.TestData.Sf0001

  private def plan(name: String): String = {
    spark.catalog.clearCache()
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
  }

  /** Writes the given frames as `<name>.parquet` tables under a fresh temp
    * dir, so the harness queries run on a closed-form fixture.
    */
  private def fixtureDir(tables: (String, org.apache.spark.sql.DataFrame)*): String = {
    val dir = Files.createTempDirectory("graft_stats_fixture").toString
    tables.foreach { case (name, df) => df.write.parquet(s"$dir/$name.parquet") }
    dir
  }

  // ---- q_ab_ttest ----------------------------------------------------------

  test("q_ab_ttest: arm sizes cover all purchase users, Welch df bracketed") {
    val ev = graft.io.Sources.table(spark, sf, "events")
    val users = ev.where(col("event_type") === "purchase")
      .select(countDistinct("user_id")).head().getLong(0)
    val r = SparkEntry.queries("q_ab_ttest")(spark, sf).head()
    val (na, nb) = (r.getLong(0), r.getLong(1))
    assert(na + nb === users, "every purchase user lands in exactly one arm")
    val df = r.getDouble(5)
    assert(df >= math.min(na, nb) - 1 - 1e-9 && df <= na + nb - 2 + 1e-9,
      s"Welch df $df outside [min(n)-1, na+nb-2]")
    assert(r.getLong(6) === (if (math.abs(r.getDouble(4)) > 1.96) 1L else 0L))
  }

  test("q_ab_ttest: a planted +100 lift on arm 0 is detected as significant") {
    import spark.implicits._
    // arm rule mirrors Stats.arm: first 4 md5 hex digits of the user id
    val armOf = pmod(conv(substring(
      md5(col("user_id").cast("string").cast("binary")), 1, 4), 16, 10)
      .cast("long"), lit(2L))
    val base = (1L to 60L).flatMap(u => Seq((u, 10.0 + (u % 7)), (u, 12.0 + (u % 5))))
      .toDF("user_id", "value")
    val lifted = base.withColumn("value",
      col("value") + when(armOf === 0L, 100.0).otherwise(0.0))
      .withColumn("event_type", lit("purchase"))
      .withColumn("event_id", monotonically_increasing_id())
      // Sources.table("events") converts a nanos BIGINT ts column
      .withColumn("ts", lit(1_700_000_000L) * lit(1_000_000_000L))
    val dir = fixtureDir("events" -> lifted)
    val r = SparkEntry.queries("q_ab_ttest")(spark, dir).head()
    assert(r.getDouble(2) - r.getDouble(3) > 90.0, "lift must show in the means")
    assert(r.getDouble(4) > 1.96 && r.getLong(6) === 1L,
      s"planted lift must be significant: t=${r.getDouble(4)}")
  }

  // ---- conditional entropy -------------------------------------------------

  test("q_cond_entropy: a deterministic A↔B chain has H(next|cur) = 0, gain ratio 1") {
    import spark.implicits._
    val evs = (0 until 40).map { i =>
      (i.toLong, 1L, if (i % 2 == 0) "A" else "B", 1.0, "{}")
    }.toDF("event_id", "user_id", "event_type", "value", "props")
      .withColumn("ts", (lit(1_700_000_000L) + col("event_id")) * lit(1_000_000_000L))
    val dir = fixtureDir("events" -> evs)
    val r = SparkEntry.queries("q_cond_entropy")(spark, dir).head()
    assert(r.getLong(0) === 39L)
    assert(r.getDouble(2) === 0.0, s"deterministic chain must have H(next|cur)=0")
    assert(r.getDouble(4) === 1.0, "gain ratio must be 1")
    assert(r.getDouble(1) > 0.69, "marginal next-entropy ≈ ln 2")
  }

  test("q_cond_entropy bounds on real data: 0 ≤ H(next|cur) ≤ H(next)") {
    val r = SparkEntry.queries("q_cond_entropy")(spark, sf).head()
    val (hn, hc, gain) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
    assert(hc >= 0.0 && hc <= hn + 1e-9, s"conditioning cannot add entropy: $hc vs $hn")
    assert(math.abs(gain - (hn - hc)) < 1e-5)
  }

  // ---- chi-square / mutual information -------------------------------------

  /** priority ⟂ status by construction: cell counts are the exact product
    * r_i·c_j/N (margins 2/4 × 3/3, N = 6), so chi2 = MI = 0 identically.
    */
  private def independentOrders = {
    import spark.implicits._
    val rows =
      Seq.fill(1)(("A", "X")) ++ Seq.fill(1)(("A", "Y")) ++
        Seq.fill(2)(("B", "X")) ++ Seq.fill(2)(("B", "Y"))
    rows.zipWithIndex.map { case ((p, s0), i) => (i.toLong, p, s0, 100.0 * (i + 1)) }
      .toDF("o_orderkey", "o_orderpriority", "o_orderstatus", "o_totalprice")
  }

  test("q_chi_square: planted independence gives chi2 = 0, V = 0, dof = (r-1)(c-1)") {
    val dir = fixtureDir("orders" -> independentOrders)
    val r = SparkEntry.queries("q_chi_square")(spark, dir).head()
    assert(r.getLong(0) === 6L && r.getLong(1) === 4L)
    assert(r.getDouble(2) === 0.0, s"chi2 must vanish: ${r.getDouble(2)}")
    assert(r.getLong(3) === 1L, "dof = (2-1)*(2-1)")
    assert(r.getDouble(4) === 0.0, "Cramér's V must vanish")
  }

  test("q_mutual_info: planted independence gives MI = 0; bounds on real data") {
    val dir = fixtureDir("orders" -> independentOrders)
    val r0 = SparkEntry.queries("q_mutual_info")(spark, dir).head()
    assert(r0.getDouble(1) === 0.0, s"MI must vanish: ${r0.getDouble(1)}")
    assert(r0.getDouble(4) === 0.0, "normalized MI must vanish")
    val r = SparkEntry.queries("q_mutual_info")(spark, sf).head()
    val (mi, hx, hy, nmi) = (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
    assert(mi >= 0.0 && mi <= math.min(hx, hy) + 1e-9,
      s"0 ≤ MI ≤ min(H): $mi vs ($hx, $hy)")
    assert(nmi >= 0.0 && nmi <= 1.0 + 1e-9)
  }

  test("q_chi_square bounds on real data: chi2 ≥ 0, V ∈ [0,1], dof = 8") {
    val r = SparkEntry.queries("q_chi_square")(spark, sf).head()
    assert(r.getDouble(2) >= 0.0)
    assert(r.getLong(3) === 8L, "5 priorities × 3 statuses")
    assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
  }

  // ---- Kolmogorov–Smirnov --------------------------------------------------

  test("q_ks_test: identical binned distributions give D = 0, no rejection") {
    import spark.implicits._
    // urgent and non-urgent arms hit the SAME $1000 bins with equal counts
    val rows = Seq(
      (1L, "1-URGENT", "O", 500.0), (2L, "1-URGENT", "O", 1500.0),
      (3L, "5-LOW", "O", 600.0), (4L, "5-LOW", "O", 1600.0))
      .toDF("o_orderkey", "o_orderpriority", "o_orderstatus", "o_totalprice")
    val dir = fixtureDir("orders" -> rows)
    val r = SparkEntry.queries("q_ks_test")(spark, dir).head()
    assert(r.getLong(0) === 2L && r.getLong(1) === 2L && r.getLong(2) === 2L)
    assert(r.getDouble(3) === 0.0 && r.getDouble(4) === 0.0 && r.getLong(5) === 0L)
  }

  test("q_ks_test: disjoint supports give D = 1 and a rejection at these n") {
    import spark.implicits._
    val urgent = (1L to 40L).map(i => (i, "1-URGENT", "O", 500.0 + i))
    val low = (41L to 80L).map(i => (i, "5-LOW", "O", 90500.0 + i))
    val dir = fixtureDir("orders" -> (urgent ++ low)
      .toDF("o_orderkey", "o_orderpriority", "o_orderstatus", "o_totalprice"))
    val r = SparkEntry.queries("q_ks_test")(spark, dir).head()
    assert(r.getDouble(3) === 1.0, "disjoint supports ⇒ D = 1")
    assert(r.getLong(5) === 1L, "D = 1 at n = 40+40 must reject")
  }

  test("q_ks_test bounds on real data: D ∈ [0,1], arms partition the table") {
    val o = graft.io.Sources.table(spark, sf, "orders").count()
    val r = SparkEntry.queries("q_ks_test")(spark, sf).head()
    assert(r.getLong(0) + r.getLong(1) === o)
    assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    assert(r.getLong(5) === (if (r.getDouble(4) > 1.358) 1L else 0L))
  }

  test("q_ks_exact: matches a driver-computed per-value KS on the real slice") {
    val r = SparkEntry.queries("q_ks_exact")(spark, sf).head()
    // driver recomputation of the exact statistic on the same slice
    val rows = graft.io.Sources.table(spark, sf, "orders")
      .where(col("o_orderkey") % 20 === 0)
      .select(col("o_orderpriority"), col("o_totalprice")).collect()
      .map(x => (if (Set("1-URGENT", "2-HIGH")(x.getString(0))) 0 else 1,
        math.floor(x.getDouble(1) * 100.0 + 0.500001).toLong))
    val a = rows.filter(_._1 == 0).map(_._2).sorted
    val b = rows.filter(_._1 == 1).map(_._2).sorted
    val values = (a ++ b).distinct.sorted
    val dNum = values.map { v =>
      val ca = a.count(_ <= v).toLong; val cb = b.count(_ <= v).toLong
      math.abs(ca * b.length - cb * a.length)
    }.max
    assert(r.getLong(0) === a.length.toLong && r.getLong(1) === b.length.toLong)
    assert(r.getLong(2) === values.length.toLong, "one ECDF step per distinct value")
    assert(r.getLong(3) === dNum, s"exact integer numerator: got ${r.getLong(3)}, want $dNum")
    // the binned form can only merge steps, so binned D ≤ exact D + slack
    // is NOT asserted across different populations — the anchor's claim is
    // exactness on ITS slice, verified above value-for-value
    assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
  }

  // ---- q_regression --------------------------------------------------------

  test("q_regression: a planted exact line recovers slope/intercept, r2 = 1") {
    import spark.implicits._
    // y = 3q + 7 dollars exactly ⇒ slope 300 cents/unit, intercept 700, r² 1
    val li = (1 to 50).map { i =>
      val q = (i % 10 + 1).toDouble
      (if (i % 3 == 0) "A" else "N", q, 3.0 * q + 7.0)
    }.toDF("l_returnflag", "l_quantity", "l_extendedprice")
    val dir = fixtureDir("lineitem" -> li)
    val rs = SparkEntry.queries("q_regression")(spark, dir).collect()
    assert(rs.length === 2)
    rs.foreach { r =>
      assert(math.abs(r.getDouble(2) - 300.0) < 1e-6, s"slope ${r.getDouble(2)}")
      assert(math.abs(r.getDouble(3) - 700.0) < 1e-3, s"intercept ${r.getDouble(3)}")
      assert(math.abs(r.getDouble(4) - 1.0) < 1e-6, s"r2 ${r.getDouble(4)}")
    }
  }

  test("q_regression bounds on real data: groups partition the table, r2 ∈ [0,1]") {
    val rs = SparkEntry.queries("q_regression")(spark, sf).collect()
    val total = graft.io.Sources.table(spark, sf, "lineitem").count()
    assert(rs.map(_.getLong(1)).sum === total)
    rs.foreach { r =>
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0 + 1e-9)
    }
  }

  // ---- q_anova -------------------------------------------------------------

  test("q_anova: identical group means give SSB ≈ 0 and F ≈ 0; separation is loud") {
    import spark.implicits._
    // same value multiset in every segment ⇒ between-group SS exactly 0
    val flat = (for { s <- Seq("S1", "S2", "S3"); i <- 1 to 20 }
      yield (s, 100.0 + i)).toDF("c_mktsegment", "c_acctbal")
    val r0 = SparkEntry.queries("q_anova")(spark, fixtureDir("customer" -> flat)).head()
    assert(r0.getLong(0) === 3L && r0.getLong(1) === 60L)
    assert(math.abs(r0.getDouble(2)) < 1e-6, s"SSB ${r0.getDouble(2)}")
    assert(math.abs(r0.getDouble(5)) < 1e-9, s"F ${r0.getDouble(5)}")
    // disjoint group levels ⇒ F large, eta² near 1
    val sep = (for { (s, base) <- Seq(("S1", 0.0), ("S2", 1000.0), ("S3", 2000.0))
      i <- 1 to 20 } yield (s, base + i)).toDF("c_mktsegment", "c_acctbal")
    val r1 = SparkEntry.queries("q_anova")(spark, fixtureDir("customer" -> sep)).head()
    assert(r1.getDouble(5) > 100.0, s"planted separation F ${r1.getDouble(5)}")
    assert(r1.getDouble(4) > 0.9, s"eta² ${r1.getDouble(4)}")
  }

  test("q_anova bounds on real data: k = 5 segments, F ≥ 0, eta² ∈ [0,1]") {
    val r = SparkEntry.queries("q_anova")(spark, sf).head()
    assert(r.getLong(0) === 5L)
    assert(r.getLong(1) === graft.io.Sources.table(spark, sf, "customer").count())
    assert(r.getDouble(5) >= 0.0)
    assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
    assert(math.abs((r.getDouble(2) + r.getDouble(3)) /
      math.max(r.getDouble(2) + r.getDouble(3), 1.0)) <= 1.0 + 1e-9)
  }

  // ---- q_mann_whitney ------------------------------------------------------

  test("q_mann_whitney: completely separated arms give extreme U and rejection") {
    import spark.implicits._
    // arm from md5(custkey) exactly as Stats.arm; plant arm-0 strictly below
    // arm-1 so U_a = 0 ⇒ z < 0 and a rejection at these n
    val armOf = pmod(conv(substring(
      md5(col("o_custkey").cast("string").cast("binary")), 1, 4), 16, 10)
      .cast("long"), lit(2L))
    val base = (1 to 80).map(i => (i.toLong * 20L, i.toLong, 0.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
      .withColumn("o_totalprice",
        when(armOf === 0L, lit(100.0) + col("o_custkey"))
          .otherwise(lit(5000.0) + col("o_custkey")))
    val dir = fixtureDir("orders" -> base)
    val r = SparkEntry.queries("q_mann_whitney")(spark, dir).head()
    val (na, nb) = (r.getLong(0), r.getLong(1))
    assert(na + nb === 80L)
    assert(r.getDouble(2) === 0.0, s"complete separation must give U_a = 0, got ${r.getDouble(2)}")
    assert(r.getDouble(4) < -1.96 && r.getLong(5) === 1L, s"z ${r.getDouble(4)}")
  }

  test("q_mann_whitney bounds on real data: 0 ≤ U ≤ na·nb, hash arms partition the slice") {
    val r = SparkEntry.queries("q_mann_whitney")(spark, sf).head()
    val (na, nb) = (r.getLong(0), r.getLong(1))
    val slice = graft.io.Sources.table(spark, sf, "orders")
      .where(col("o_orderkey") % 20 === 0).count()
    assert(na + nb === slice, "every sliced order lands in exactly one arm")
    val u = r.getDouble(2)
    assert(u >= 0.0 && u <= na.toDouble * nb, s"U $u outside [0, na·nb]")
    assert(r.getLong(5) === (if (math.abs(r.getDouble(4)) > 1.959963984540054) 1L else 0L))
  }

  // ---- plan gates ----------------------------------------------------------

  // ---- q_power_analysis ---------------------------------------------------

  test("power analysis is self-consistent with its own t-test moments") {
    val r = SparkEntry.queries("q_power_analysis")(spark, sf).collect().head
    val tt = SparkEntry.queries("q_ab_ttest")(spark, sf).collect().head
    // the same arm split: per-arm counts must agree with the t-test row
    assert(r.getLong(0) === tt.getLong(0) && r.getLong(1) === tt.getLong(1))
    val (effect, se, mde) = (r.getDouble(4), r.getDouble(5), r.getDouble(6))
    assert(se > 0.0 && mde > 0.0)
    assert(math.abs(mde - 2.8015852181129683 * se) < 1e-5,
      "MDE must be (z_a + z_b) * se")
    // the powered flag is exactly the effect-vs-MDE comparison
    assert((r.getLong(8) === 1L) === (effect >= mde))
    // required n detects the observed effect: shrinking the effect grows n
    if (effect > 0) assert(r.getLong(7) > 0L)
  }

  // ---- q_prop_ztest -------------------------------------------------------

  /** Each candidate user's md5 arm, discovered with the engine's own
    * formula — planted fixtures can then place users in chosen arms. */
  private def armsOf(n: Int): Map[Long, Long] =
    spark.range(1, n + 1).select(col("id"),
      pmod(conv(substring(md5(col("id").cast("string").cast("binary")), 1, 4),
        16, 10).cast("long"), lit(2L)).as("g"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("proportion z-test: equal planted conversion rates give z = 0 exactly") {
    import spark.implicits._
    val arms = armsOf(60)
    val as = arms.collect { case (id, 0L) => id }.toSeq.sorted.take(5)
    val bs = arms.collect { case (id, 1L) => id }.toSeq.sorted.take(5)
    assert(as.size === 5 && bs.size === 5, "need 5 users per md5 arm")
    // 2 converters of 5 in EACH arm → identical rates → z must be exactly
    // 0. Non-converters still purchase, but under the $500 cents cut —
    // the threshold decides, not event presence.
    val rows = (as ++ bs).zipWithIndex.map { case (u, i) =>
      (u, "purchase", if (i % 5 < 2) 600.0 else 10.0, 1L)
    }
    val dir = fixtureDir("events" ->
      rows.toDF("user_id", "event_type", "value", "ts"))
    val r = SparkEntry.queries("q_prop_ztest")(spark, dir).collect().head
    assert(r.getLong(0) === 5L && r.getLong(1) === 5L)
    assert(r.getLong(2) === 2L && r.getLong(3) === 2L)
    assert(r.getDouble(4) === 0.4 && r.getDouble(5) === 0.4)
    assert(r.getDouble(6) === 0.0 && r.getDouble(7) === 0.0)
    assert(r.getLong(8) === 0L)
  }

  test("proportion z-test: full separation rejects with lift exactly 1") {
    import spark.implicits._
    val arms = armsOf(120)
    val as = arms.collect { case (id, 0L) => id }.toSeq.sorted.take(30)
    val bs = arms.collect { case (id, 1L) => id }.toSeq.sorted.take(30)
    val rows = as.map(u => (u, "purchase", 777.0, 1L)) ++
      bs.map(u => (u, "purchase", 5.0, 1L))
    val dir = fixtureDir("events" ->
      rows.toDF("user_id", "event_type", "value", "ts"))
    val r = SparkEntry.queries("q_prop_ztest")(spark, dir).collect().head
    assert(r.getDouble(6) === 1.0, "lift must be exactly 1.0")
    assert(r.getLong(8) === 1L, "full separation at n=30/arm must reject")
    assert(r.getDouble(7) > 1.96)
  }

  test("proportion z-test on real data: counts partition users, z matches lift sign") {
    val r = SparkEntry.queries("q_prop_ztest")(spark, sf).collect().head
    val users = graft.io.Sources.table(spark, sf, "events")
      .select("user_id").distinct().count()
    assert(r.getLong(0) + r.getLong(1) === users, "arms must partition users")
    assert(r.getLong(2) <= r.getLong(0) && r.getLong(3) <= r.getLong(1))
    assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
    if (r.isNullAt(7)) assert(r.getLong(8) === 0L, "degenerate pool must abstain")
    else assert(math.signum(r.getDouble(7)) === math.signum(r.getDouble(6)),
      "z and lift must agree in sign")
  }

  // ---- q_spearman ---------------------------------------------------------

  test("Spearman: a strictly monotone relation scores exactly +1 / -1") {
    import spark.implicits._
    // y = x³ is nonlinear but strictly increasing → rho must be exactly 1
    // (Pearson on the raw values would NOT be 1 — that is the point)
    val up = (1 to 20).map(i => (i.toLong * 20L, i.toLong, i.toDouble * i * i))
    val dirUp = fixtureDir("lineitem" ->
      up.toDF("l_orderkey", "l_quantity", "l_extendedprice"))
    val rUp = SparkEntry.queries("q_spearman")(spark, dirUp).collect().head
    assert(rUp.getLong(0) === 20L && rUp.getDouble(1) === 1.0)
    val dn = (1 to 20).map(i => (i.toLong * 20L, i.toLong, 1000.0 - i * i * i))
    val dirDn = fixtureDir("lineitem" ->
      dn.toDF("l_orderkey", "l_quantity", "l_extendedprice"))
    val rDn = SparkEntry.queries("q_spearman")(spark, dirDn).collect().head
    assert(rDn.getDouble(1) === -1.0)
  }

  test("Spearman on real data: matches a driver-side rank recompute exactly") {
    val r = SparkEntry.queries("q_spearman")(spark, sf).collect().head
    val slice = graft.io.Sources.table(spark, sf, "lineitem")
      .where(col("l_orderkey") % 20 === 0)
      .select(col("l_quantity").cast("long"),
        floor(col("l_extendedprice") * lit(100.0) + lit(0.500001)).cast("long"))
      .collect().map(row => (row.getLong(0), row.getLong(1)))
    assert(r.getLong(0) === slice.length.toLong)
    assert(math.abs(r.getDouble(1)) <= 1.0 + 1e-9)
    def ranks(vs: Seq[Long]): Map[Long, Double] = {
      val sorted = vs.sorted
      vs.distinct.map { v =>
        val lo = sorted.indexOf(v); val hi = sorted.lastIndexOf(v)
        v -> (lo + hi + 2) / 2.0
      }.toMap
    }
    val rx = ranks(slice.map(_._1)); val ry = ranks(slice.map(_._2))
    val xs = slice.map(p => rx(p._1)); val ys = slice.map(p => ry(p._2))
    val n = slice.length.toDouble
    val num = n * xs.zip(ys).map { case (a, b) => a * b }.sum - xs.sum * ys.sum
    val den = math.sqrt(n * xs.map(a => a * a).sum - xs.sum * xs.sum) *
      math.sqrt(n * ys.map(b => b * b).sum - ys.sum * ys.sum)
    assert(math.abs(r.getDouble(1) - num / den) < 1e-5,
      s"engine rho ${r.getDouble(1)} != driver recompute ${num / den}")
  }

  test("Spearman plan: rank tables join back by value, quantity side broadcasts") {
    val p = plan("q_spearman")
    assert(p.contains("BroadcastHashJoin"),
      s"the <=50-row quantity rank table must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"rank attach must be an equi-join:\n$p")
  }

  // ---- q_levene -----------------------------------------------------------

  test("Brown–Forsythe: location shift with identical spread scores F = 0") {
    import spark.implicits._
    // group B = group A + 1000: medians shift with the data, so the
    // absolute deviations are IDENTICAL across groups → SSB = 0, F = 0.
    // A mean-centered or raw-variance test would also pass here; the
    // median-centering matters in the skew test below.
    val a = Seq(1.0, 2.0, 4.0, 8.0, 16.0)
    val rows = a.map(("1-URGENT", _)) ++ a.map(v => ("2-HIGH", v + 1000.0))
    val r = SparkEntry.queries("q_levene")(spark,
      fixtureDir("orders" -> rows.toDF("o_orderpriority", "o_totalprice")))
      .collect().head
    assert(r.getLong(0) === 2L && r.getLong(1) === 10L)
    assert(r.getDouble(2) === 0.0 && r.getDouble(4) === 0.0, s"$r")
  }

  test("Brown–Forsythe: a wide group against a tight group scores F >> 1") {
    import spark.implicits._
    val tight = Seq.fill(20)(100.0) ++ Seq(99.0, 101.0)
    val wide = (1 to 22).map(i => if (i % 2 == 0) 10.0 else 1000.0)
    val rows = tight.map(("1-URGENT", _)) ++ wide.map(("2-HIGH", _))
    val r = SparkEntry.queries("q_levene")(spark,
      fixtureDir("orders" -> rows.toDF("o_orderpriority", "o_totalprice")))
      .collect().head
    assert(r.getDouble(4) > 100.0, s"variance gap must dominate: $r")
  }

  test("Brown–Forsythe on real data: k=5 priorities, SS components consistent") {
    val r = SparkEntry.queries("q_levene")(spark, sf).collect().head
    val n = graft.io.Sources.table(spark, sf, "orders").count()
    assert(r.getLong(0) === 5L && r.getLong(1) === n)
    assert(r.getDouble(2) >= 0.0 && r.getDouble(3) > 0.0 && r.getDouble(4) >= 0.0)
  }

  // ---- q_kendall_tau ------------------------------------------------------

  test("Kendall: monotone daily series score exactly +1 / -1; constant abstains") {
    import spark.implicits._
    // 10 days, ONE order per day with rising price → the count series is
    // all ties, so τ-b's x-variance term is 0 → both engines abstain NULL
    val flat = (1 to 10).map(i => (f"1998-03-$i%02d", 100.0 + i))
    val rFlat = SparkEntry.queries("q_kendall_tau")(spark,
      fixtureDir("orders" -> flat.toDF("o_orderdate", "o_totalprice")))
      .collect().head
    assert(rFlat.getLong(0) === 10L && rFlat.isNullAt(6),
      s"all-tied x must abstain: $rFlat")
    // day i carries i orders: count strictly rises; revenue i·(100+i)·100
    // cents strictly rises → all 45 pairs concordant → τ-b exactly 1
    val up = for (i <- 1 to 10; _ <- 1 to i)
      yield (f"1998-03-$i%02d", 100.0 + i)
    val rUp = SparkEntry.queries("q_kendall_tau")(spark,
      fixtureDir("orders" -> up.toDF("o_orderdate", "o_totalprice")))
      .collect().head
    assert(rUp.getDouble(6) === 1.0, s"want τ=1: $rUp")
    // same rising counts but per-order price 3^(10−i)/100 dollars → daily
    // revenue i·3^(10−i) cents strictly FALLS (19683, 13122, …, 10) →
    // all 45 pairs discordant → τ-b exactly −1
    val dn = for (i <- 1 to 10; _ <- 1 to i)
      yield (f"1998-03-$i%02d", math.pow(3.0, 10 - i) / 100.0)
    val rDn = SparkEntry.queries("q_kendall_tau")(spark,
      fixtureDir("orders" -> dn.toDF("o_orderdate", "o_totalprice")))
      .collect().head
    assert(rDn.getDouble(6) === -1.0, s"want τ=-1: $rDn")
  }

  test("Kendall on real data: matches a driver-side quadratic recount") {
    val r = SparkEntry.queries("q_kendall_tau")(spark, sf).collect().head
    val daily = graft.io.Sources.table(spark, sf, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("x"),
        sum(floor(col("o_totalprice") * lit(100.0) + lit(0.500001))
          .cast("long")).as("y"))
      .collect().map(row => (row.getLong(1), row.getLong(2)))
    var c = 0L; var d = 0L; var tx = 0L; var ty = 0L; var tb = 0L
    for (i <- daily.indices; j <- (i + 1) until daily.length) {
      val sx = java.lang.Long.signum(daily(j)._1 - daily(i)._1)
      val sy = java.lang.Long.signum(daily(j)._2 - daily(i)._2)
      if (sx * sy > 0) c += 1 else if (sx * sy < 0) d += 1
      else if (sx == 0 && sy == 0) tb += 1
      else if (sx == 0) tx += 1 else ty += 1
    }
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getLong(5)) === ((c, d, tx, ty, tb)))
    val n0 = daily.length.toDouble * (daily.length - 1) / 2
    val tau = (c - d).toDouble / math.sqrt((n0 - tx - tb) * (n0 - ty - tb))
    assert(math.abs(r.getDouble(6) - tau) < 1e-6,
      s"engine ${r.getDouble(6)} != recount $tau")
  }

  test("Kendall plan: the daily pair census broadcasts, never a plain cartesian") {
    val p = plan("q_kendall_tau")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"calendar-bounded pair join must broadcast the daily frame:\n$p")
    assert(!p.contains("CartesianProduct"), s"no partitioned cartesian:\n$p")
  }

  // ---- q_tree_split -------------------------------------------------------

  test("tree split finds a perfectly separating feature at full gain") {
    import spark.implicits._
    // priority is a pure function of month (Jan–Jun urgent): the month
    // feature separates perfectly, so gain = base entropy, the left side
    // holds every positive, and the threshold lands on bin 6. Price is
    // CONSTANT → one bin → no candidate thresholds → feature absent (a
    // constant feature must not fabricate a split).
    val dir = fixtureDir("orders" ->
      (for { m <- 1 to 12; d <- 1 to 10 } yield
        (f"2001-$m%02d-$d%02d", 100.0,
          if (m <= 6) "1-URGENT" else "5-LOW"))
        .toDF("o_orderdate", "o_totalprice", "o_orderpriority"))
    val rows = SparkEntry.queries("q_tree_split")(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(!rows.contains("price_bin"), "constant feature must yield no split")
    val mon = rows("month")
    assert(mon.getLong(1) === 6L, "perfect split threshold must be June")
    assert(mon.getDouble(2) === mon.getDouble(7),
      "perfect split gain must equal base entropy")
    assert(mon.getLong(4) === mon.getLong(3), "left side must be all positive")
    assert(mon.getLong(6) === 0L, "right side must hold zero positives")
    // dow is independent of the label here → strictly weaker than month
    assert(rows("dow").getDouble(2) < mon.getDouble(2))
  }

  test("tree split on real data: counts conserve, gains non-negative") {
    val rows = SparkEntry.queries("q_tree_split")(spark, sf).collect()
    assert(rows.length === 3, "expected price_bin, month, dow rows")
    val o = graft.io.Sources.table(spark, sf, "orders")
    val total = o.count()
    val pos = o.where(col("o_orderpriority").isin("1-URGENT", "2-HIGH")).count()
    rows.foreach { r =>
      assert(r.getLong(3) + r.getLong(5) === total, "n_left+n_right != corpus")
      assert(r.getLong(4) + r.getLong(6) === pos, "positives not conserved")
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= r.getDouble(7) + 1e-9,
        "gain must sit in [0, base entropy]")
    }
  }

  test("tree split plan: one corpus scan exploded, stats attach by broadcast") {
    val p = plan("q_tree_split")
    assert(p.contains("Generate"), s"expected the 3-feature explode:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"min/max range row must broadcast, not shuffle-join:\n$p")
    assert(p.lastIndexOf("HashAggregate") > p.lastIndexOf("Exchange"),
      s"histogram must partial-aggregate before the shuffle:\n$p")
  }

  // ---- q_partial_corr -----------------------------------------------------

  test("partial correlation: a planted exact y = x line is immune to the control") {
    import spark.implicits._
    // extendedprice = quantity/100 ⇒ y-cents = x exactly, so r_xy = 1 and
    // r_xz = r_yz; the partial compose then collapses to (1 − r²)/(1 − r²)
    // = 1 no matter what the control does (as long as |r_xz| < 1)
    val rows = (1 to 60).map(i => (i.toDouble, i / 100.0, (i % 3) / 100.0))
    val dir = fixtureDir("lineitem" ->
      rows.toDF("l_quantity", "l_extendedprice", "l_discount"))
    val r = SparkEntry.queries("q_partial_corr")(spark, dir).head()
    assert(r.getLong(0) === 60L)
    assert(r.getDouble(1) === 1.0, s"r_xy must be exactly 1: $r")
    assert(r.getDouble(2) === r.getDouble(3), "y = x forces r_xz = r_yz")
    assert(math.abs(r.getDouble(4) - 1.0) < 1e-6, s"partial must stay 1: $r")
  }

  test("partial correlation on real data: all four coefficients in [-1, 1]") {
    val r = SparkEntry.queries("q_partial_corr")(spark, sf).head()
    assert(r.getLong(0) ===
      graft.io.Sources.table(spark, sf, "lineitem").count())
    for (i <- 1 to 4)
      assert(math.abs(r.getDouble(i)) <= 1.0 + 1e-9, s"coefficient $i: $r")
  }

  // ---- q_cohens_kappa -----------------------------------------------------

  test("Cohen's kappa: perfect rater agreement scores exactly 1") {
    import spark.implicits._
    // long docs trip BOTH raters (500 chars, 100 tokens), short docs trip
    // NEITHER (40 chars, 5 tokens) → p_o = 1, p_e < 1 → κ = 1 exactly
    val long_ = ("word " * 100).trim
    val short_ = "a b c d e"
    val docs = (1 to 30).map(i =>
      (i.toLong, if (i % 3 == 0) long_ else short_,
        if (i % 3 == 0) 500L else 40L))
    val dir = fixtureDir("documents" -> docs.toDF("doc_id", "text", "n_chars"))
    val r = SparkEntry.queries("q_cohens_kappa")(spark, dir).head()
    assert(r.getLong(1) === 10L && r.getLong(4) === 20L &&
      r.getLong(2) === 0L && r.getLong(3) === 0L, s"confusion: $r")
    assert(r.getDouble(5) === 1.0 && r.getDouble(7) === 1.0, s"κ must be 1: $r")
  }

  test("Cohen's kappa: independent raters score ≈ 0, counts partition the corpus") {
    import spark.implicits._
    // rater A fires on i%2, rater B on i%4<2 — a balanced 2×2 with every
    // cell = n/4, i.e. exact independence → κ = 0 exactly
    val long_ = ("word " * 100).trim
    val short_ = "a b c"
    val docs = (0 until 40).map { i =>
      val aPos = i % 2 == 0
      val bPos = i % 4 < 2
      (i.toLong, if (bPos) long_ else short_, if (aPos) 500L else 40L)
    }
    val dir = fixtureDir("documents" -> docs.toDF("doc_id", "text", "n_chars"))
    val r = SparkEntry.queries("q_cohens_kappa")(spark, dir).head()
    assert(Seq(1, 2, 3, 4).map(r.getLong).sum === r.getLong(0))
    assert(r.getDouble(7) === 0.0, s"independent raters must score κ=0: $r")
  }

  // ---- q_woe_iv -----------------------------------------------------------

  test("WoE/IV: hand-computed two-bucket case; degenerate bucket abstains") {
    import spark.implicits._
    // bucket A: 3 good / 1 bad; bucket B: 1 good / 3 bad; bucket C: 2 good
    // / 0 bad (degenerate → WoE NULL, contributes 0 to IV)
    val orders =
      Seq.fill(3)(("A", 300000.0)) ++ Seq(("A", 100.0)) ++
        Seq(("B", 300000.0)) ++ Seq.fill(3)(("B", 100.0)) ++
        Seq.fill(2)(("C", 300000.0))
    val dir = fixtureDir("orders" ->
      orders.toDF("o_orderpriority", "o_totalprice"))
    val rows = SparkEntry.queries("q_woe_iv")(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val (g, b) = (6.0, 4.0)
    val woeA = math.log((3 / g) / (1 / b))
    val woeB = math.log((1 / g) / (3 / b))
    val iv = (3 / g - 1 / b) * woeA + (1 / g - 3 / b) * woeB
    assert(math.abs(rows("A").getDouble(5) - woeA) < 1e-6)
    assert(math.abs(rows("B").getDouble(5) - woeB) < 1e-6)
    assert(rows("C").isNullAt(5), "all-good bucket must abstain")
    rows.values.foreach(r => assert(math.abs(r.getDouble(6) - iv) < 1e-6,
      s"IV must be the two-bucket sum on every row: $r"))
  }

  test("WoE/IV on real data: 5 buckets, percentages sum to 1, IV ≥ 0") {
    val rows = SparkEntry.queries("q_woe_iv")(spark, sf).collect()
    assert(rows.length === 5)
    assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) < 1e-4)
    assert(math.abs(rows.map(_.getDouble(4)).sum - 1.0) < 1e-4)
    assert(rows.head.getDouble(6) >= 0.0, "IV is a sum of non-negative terms")
  }

  // ---- q_bh_fdr -----------------------------------------------------------

  test("BH: one planted outlier segment is the lone rejection; null family abstains") {
    import spark.implicits._
    // four priorities at the same tight distribution, one shifted far out:
    // the shifted one has p ≈ 0 and must be the only rejection
    val rows = (1 to 5).flatMap { g =>
      val base = if (g == 3) 100000.0 else 100.0
      (1 to 60).map(i => (s"$g-P", base + (i % 7)))
    }
    val out = SparkEntry.queries("q_bh_fdr")(spark,
      fixtureDir("orders" -> rows.toDF("o_orderpriority", "o_totalprice")))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.size === 5)
    assert(out("3-P").getLong(6) === 1L, s"planted shift must reject: ${out("3-P")}")
    // the four identical-distribution arms: their z compares each against
    // a REST arm polluted by the outlier, so they also separate — what
    // must hold exactly is p ordering: the outlier has the smallest p
    assert(out.values.map(_.getDouble(4)).min === out("3-P").getDouble(4))
    // a perfectly null family — all five arms identically distributed —
    // must reject NOTHING at FDR 0.05
    val nullRows = (1 to 5).flatMap { g =>
      (1 to 60).map(i => (s"$g-P", 100.0 + (i % 7)))
    }
    val nullOut = SparkEntry.queries("q_bh_fdr")(spark,
      fixtureDir("orders" -> nullRows.toDF("o_orderpriority", "o_totalprice")))
      .collect()
    assert(nullOut.forall(_.getLong(6) === 0L),
      s"null family must not reject: ${nullOut.toSeq}")
    nullOut.foreach(r => assert(r.getDouble(4) > 0.5,
      s"identical arms must have large p: $r"))
  }

  test("BH on real data: p in [0,1], crit ladder exact, rejections form a p-prefix") {
    val rows = SparkEntry.queries("q_bh_fdr")(spark, sf).collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0 + 1e-9)
    }
    // rejections are exactly a prefix of the p-ascending order
    val byP = rows.sortBy(_.getDouble(4))
    val flags = byP.map(_.getLong(6))
    assert(!flags.sliding(2).exists(p => p(0) == 0L && p(1) == 1L),
      s"rejections must be a p-prefix: ${byP.toSeq}")
  }

  // ---- q_cuped ------------------------------------------------------------

  test("CUPED: a perfectly predictive covariate removes ALL arm variance") {
    import spark.implicits._
    // every customer's post spend is exactly 2x their pre spend → theta=2,
    // var_reduction = rho² = 1, and both adjusted means collapse to the
    // same 2·x̄ regardless of which md5 arm a customer landed in
    val orders = (1 to 40).flatMap { c =>
      val p = 100.0 + c
      Seq((c.toLong, "1997-06-01", p), (c.toLong, "1999-06-01", 2 * p))
    }
    val r = SparkEntry.queries("q_cuped")(spark,
      fixtureDir("orders" -> orders.toDF("o_custkey", "o_orderdate", "o_totalprice")))
      .head()
    assert(r.getLong(0) === 40L && r.getLong(1) + r.getLong(2) === 40L)
    assert(r.getDouble(3) === 2.0, s"theta must be exactly 2: $r")
    assert(r.getDouble(6) === r.getDouble(7),
      s"perfect covariate ⇒ identical adjusted means: $r")
    assert(r.getDouble(8) === 1.0, s"var_reduction must be exactly 1: $r")
  }

  test("CUPED: a constant covariate abstains from adjusting") {
    import spark.implicits._
    // identical pre spend everywhere → var(x) = 0 → theta/adjusted NULL,
    // raw means still reported
    val orders = (1 to 20).flatMap { c =>
      Seq((c.toLong, "1997-06-01", 100.0), (c.toLong, "1999-06-01", 100.0 + c))
    }
    val r = SparkEntry.queries("q_cuped")(spark,
      fixtureDir("orders" -> orders.toDF("o_custkey", "o_orderdate", "o_totalprice")))
      .head()
    assert(r.isNullAt(3) && r.isNullAt(6) && r.isNullAt(7) && r.isNullAt(8))
    assert(!r.isNullAt(4) && !r.isNullAt(5), s"raw means still report: $r")
  }

  test("CUPED on real data: var_reduction in [0,1], arms partition customers") {
    val r = SparkEntry.queries("q_cuped")(spark, sf).head()
    val custs = graft.io.Sources.table(spark, sf, "orders")
      .select(countDistinct(col("o_custkey"))).head().getLong(0)
    assert(r.getLong(0) === custs && r.getLong(1) + r.getLong(2) === custs)
    assert(r.getDouble(8) >= 0.0 && r.getDouble(8) <= 1.0, s"$r")
  }

  // ---- q_diff_in_diff -----------------------------------------------------

  test("DiD: a uniform period shift nets exactly zero across any arm split") {
    import spark.implicits._
    // every customer: pre orders {100, 110}, post orders {200, 210} —
    // every cell mean is exactly 105/205 whatever the md5 arms are,
    // within-cell variance is positive (so z is defined), did = 0
    val orders = (1 to 40).flatMap { c =>
      Seq((c.toLong, "1997-06-01", 100.0), (c.toLong, "1997-07-01", 110.0),
        (c.toLong, "1999-06-01", 200.0), (c.toLong, "1999-07-01", 210.0))
    }
    val r = SparkEntry.queries("q_diff_in_diff")(spark,
      fixtureDir("orders" -> orders.toDF("o_custkey", "o_orderdate", "o_totalprice")))
      .head()
    assert(r.getDouble(1) === 105.0 && r.getDouble(3) === 105.0)
    assert(r.getDouble(2) === 205.0 && r.getDouble(4) === 205.0)
    assert(r.getDouble(5) === 0.0 && r.getDouble(6) === 0.0
      && r.getLong(7) === 0L, s"$r")
  }

  test("DiD on real data: estimate consistent with its cells, flag with |z|") {
    val r = SparkEntry.queries("q_diff_in_diff")(spark, sf).head()
    assert(r.getLong(0) ===
      graft.io.Sources.table(spark, sf, "orders").count())
    val did = (r.getDouble(4) - r.getDouble(3)) - (r.getDouble(2) - r.getDouble(1))
    assert(math.abs(r.getDouble(5) - did) < 0.02, s"$r")
    assert(r.getLong(7) === (if (math.abs(r.getDouble(6)) > 1.959963984540054) 1L else 0L))
  }

  // ---- q_wilcoxon_signed --------------------------------------------------

  test("Wilcoxon signed-rank: uniform improvement maxes W+; symmetry zeroes z") {
    import spark.implicits._
    // every customer spends more after the split, all |d| distinct →
    // W+ = n(n+1)/2, ties = 0, z = (n(n+1)/4)/√(n(n+1)(2n+1)/24)
    val up = (1 to 20).flatMap(i => Seq(
      (i.toLong, f"1997-01-$i%02d", 100.0 + i),
      (i.toLong, f"1999-01-$i%02d", 200.0 + 2.0 * i)))
    val rUp = SparkEntry.queries("q_wilcoxon_signed")(spark,
      fixtureDir("orders" -> up.toDF("o_custkey", "o_orderdate", "o_totalprice")))
      .head()
    val n = 20.0
    assert(rUp.getLong(0) === 20L)
    assert(rUp.getDouble(1) === n * (n + 1) / 2)
    assert(rUp.getLong(2) === 0L)
    val zWant = (n * (n + 1) / 4) / math.sqrt(n * (n + 1) * (2 * n + 1) / 24)
    assert(math.abs(rUp.getDouble(3) - zWant) < 1e-6)
    assert(rUp.getLong(4) === 1L)
    // customers 1..10 gain d = +k, customers 11..20 lose the same −k:
    // each |d| group holds one + and one −, so W+ = n(n+1)/4 and z = 0
    val symR = (1 to 10).flatMap(k => Seq(
      (k.toLong, "1997-01-01", 100.0), (k.toLong, "1999-01-01", 100.0 + k),
      (k + 10L, "1997-01-01", 100.0 + k), (k + 10L, "1999-01-01", 100.0)))
      .map { case (c, d, v) => (c, d, v) }
    val rSym = SparkEntry.queries("q_wilcoxon_signed")(spark,
      fixtureDir("orders" -> symR.toDF("o_custkey", "o_orderdate", "o_totalprice")))
      .head()
    assert(rSym.getDouble(1) === 20.0 * 21 / 4)
    assert(rSym.getDouble(3) === 0.0 && rSym.getLong(4) === 0L, s"$rSym")
  }

  test("Wilcoxon on real data: pairs bounded by customers, flag consistent") {
    val r = SparkEntry.queries("q_wilcoxon_signed")(spark, sf).head()
    val custs = graft.io.Sources.table(spark, sf, "orders")
      .select(countDistinct(col("o_custkey"))).head().getLong(0)
    assert(r.getLong(0) > 0L && r.getLong(0) <= custs)
    val n = r.getLong(0).toDouble
    assert(r.getDouble(1) >= 0.0 && r.getDouble(1) <= n * (n + 1) / 2)
    assert(r.getLong(4) === (if (math.abs(r.getDouble(3)) > 1.959963984540054) 1L else 0L))
  }

  // ---- q_theil_sen --------------------------------------------------------

  test("Theil–Sen: recovers a planted exact line; one outlier cannot move it") {
    import spark.implicits._
    // one order per day, daily cents = 5x + 30 exactly → every pairwise
    // slope is 5, residual median 30
    def day(x: Int) = java.time.LocalDate.of(1995, 1, 1).plusDays(x).toString
    val line = (0 until 40).map(x => (day(x), (5 * x + 30) / 100.0))
    val r = SparkEntry.queries("q_theil_sen")(spark,
      fixtureDir("orders" -> line.toDF("o_orderdate", "o_totalprice")))
      .head()
    assert(r.getLong(0) === 40L && r.getLong(1) === 40L * 39 / 2)
    assert(r.getDouble(2) === 5.0 && r.getDouble(3) === 30.0, s"$r")
    // poison one day with a 1000× spike: the slope median must not move
    // (39 of 40 anchor days still vote 5 in every pair)
    val spiked = line.updated(20, (day(20), 100000.0))
    val rs = SparkEntry.queries("q_theil_sen")(spark,
      fixtureDir("orders" -> spiked.toDF("o_orderdate", "o_totalprice")))
      .head()
    assert(rs.getDouble(2) === 5.0, s"outlier moved the robust slope: $rs")
  }

  test("Theil–Sen on real data: pair census is exactly C(n_days, 2)") {
    val r = SparkEntry.queries("q_theil_sen")(spark, sf).head()
    val nd = r.getLong(0)
    assert(r.getLong(1) === nd * (nd - 1) / 2)
  }

  test("Theil–Sen plan: calendar-bounded pair join broadcasts, no cartesian") {
    val p = plan("q_theil_sen")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"daily frame must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"$p")
  }

  // ---- q_tukey_hsd --------------------------------------------------------

  test("Tukey HSD: planted separation flags exactly the far pair") {
    import spark.implicits._
    // two tight clusters ~1000 apart and a third on the first: only pairs
    // across the gap are significant
    val rows =
      (1 to 40).map(i => ("SEG_A", 100.0 + (i % 5))) ++
        (1 to 40).map(i => ("SEG_B", 1100.0 + (i % 5))) ++
        (1 to 40).map(i => ("SEG_C", 100.0 + (i % 5)))
    val dir = fixtureDir("customer" -> rows.toDF("c_mktsegment", "c_acctbal"))
    val out = SparkEntry.queries("q_tukey_hsd")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out.size === 3)
    assert(out(("SEG_A", "SEG_B")).getLong(6) === 1L)
    assert(out(("SEG_B", "SEG_C")).getLong(6) === 1L)
    assert(out(("SEG_A", "SEG_C")).getLong(6) === 0L,
      "same-mean pair must not flag")
    val ab = out(("SEG_A", "SEG_B"))
    assert(math.abs(ab.getDouble(4) + 1000.0) < 1.0, s"diff ≈ −1000: $ab")
  }

  test("Tukey HSD on real data: C(5,2) pairs, q ≥ 0, flag consistent") {
    val rows = SparkEntry.queries("q_tukey_hsd")(spark, sf).collect()
    assert(rows.length === 10)
    rows.foreach { r =>
      assert(r.getDouble(5) >= 0.0)
      assert(r.getLong(6) === (if (r.getDouble(5) > 3.858) 1L else 0L))
    }
  }

  test("woe/tukey plans: bounded frames broadcast, never shuffle-join or cartesian") {
    for (q <- Seq("q_woe_iv", "q_tukey_hsd")) {
      val p = plan(q)
      assert(!p.contains("SortMergeJoin"), s"$q must broadcast:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q no partitioned cartesian:\n$p")
      assert(p.lastIndexOf("HashAggregate") > p.lastIndexOf("Exchange"),
        s"$q: corpus must partial-aggregate before the shuffle:\n$p")
    }
  }

  test("stats plans: join-free, corpus reduces through a partial agg before any shuffle") {
    for (q <- Seq("q_ab_ttest", "q_chi_square", "q_mutual_info", "q_ks_test", "q_ks_exact",
        "q_regression", "q_anova", "q_mann_whitney", "q_power_analysis",
        "q_prop_ztest", "q_partial_corr", "q_cohens_kappa", "q_cuped",
        "q_diff_in_diff")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q must be join-free:\n$p")
      val firstEx = p.indexOf("Exchange")
      val firstAgg = p.indexOf("HashAggregate")
      assert(firstAgg >= 0, s"$q expected hash aggregation:\n$p")
      // plan strings print top-down: the FINAL (post-shuffle) operators
      // appear first, so the corpus-side partial aggregate sits BELOW the
      // last Exchange — assert the scan side ends in an aggregate, i.e.
      // an Exchange appears before (above) some HashAggregate
      assert(firstEx >= 0 && p.lastIndexOf("HashAggregate") > p.lastIndexOf("Exchange"),
        s"$q: raw rows must partial-aggregate before the shuffle:\n$p")
    }
  }

  test("q_ab_ttest plan: exactly one hash shuffle (the user-key groupBy)") {
    val p = plan("q_ab_ttest")
    val n = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(n === 1, s"expected 1 hash Exchange, got $n:\n$p")
  }

  // ---- q_jarque_bera ------------------------------------------------------

  test("Jarque–Bera: uniform data rejects normality with the uniform's moments") {
    import spark.implicits._
    // a discrete uniform over 1..100 cents ×20: skew = 0 exactly (symmetric
    // values), excess kurtosis → −1.2 + O(1/n²) (the uniform's), so JB ≈
    // n/6·(1.2²/4) ≈ 120 ≫ 5.99 ⇒ reject. A constant second group must
    // abstain (NULL stats) with reject 0, not divide by zero.
    val rows = (1 to 2000).map(i => ("U", (i % 100 + 1) / 100.0)) ++
      (1 to 50).map(_ => ("C", 7.77))
    val dir = fixtureDir("orders" ->
      rows.toDF("o_orderpriority", "o_totalprice"))
    val out = SparkEntry.queries("q_jarque_bera")(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val u = out("U")
    assert(u.getLong(1) === 2000L)
    assert(math.abs(u.getDouble(2)) < 0.01, s"uniform skew ≈ 0: $u")
    assert(math.abs(u.getDouble(3) + 1.2) < 0.01, s"uniform ex-kurt ≈ −1.2: $u")
    assert(u.getLong(5) === 1L, s"n=2000 uniform must reject normality: $u")
    val c = out("C")
    assert(c.isNullAt(2) && c.isNullAt(3) && c.isNullAt(4),
      s"constant group must abstain: $c")
    assert(c.getLong(5) === 0L)
  }

  test("Jarque–Bera on real data: one row per priority, flag consistent") {
    val rows = SparkEntry.queries("q_jarque_bera")(spark, sf).collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      assert(r.getDouble(4) >= 0.0, s"JB is a sum of squares: $r")
      assert(r.getLong(5) ===
        (if (r.getDouble(4) > 5.991464547107979) 1L else 0L), s"$r")
    }
  }

  test("Jarque–Bera plan: join-free, one partial-aggregated shuffle") {
    val p = plan("q_jarque_bera")
    assert(!p.contains("Join"), s"must be join-free:\n$p")
    val n = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(n === 1, s"expected 1 hash Exchange, got $n:\n$p")
    assert(p.lastIndexOf("HashAggregate") > p.lastIndexOf("Exchange"),
      s"power sums must partial-aggregate before the shuffle:\n$p")
  }

  // ---- q_ab_srm ------------------------------------------------------------

  test("SRM: balanced md5 arms stay quiet; a planted 70/30 corruption alarms") {
    import spark.implicits._
    def mk(users: Seq[Long]) = {
      val dir = java.nio.file.Files.createTempDirectory("graft_srm").toString
      users.zipWithIndex.map { case (u, i) => (i.toLong, u, "view", 1.0) }
        .toDF("event_id", "user_id", "event_type", "value")
        .withColumn("props", lit("{}"))
        .withColumn("ts", (lit(1_700_000_000L) + col("event_id")) * lit(1_000_000_000L))
        .write.parquet(s"$dir/events.parquet")
      SparkEntry.queries("q_ab_srm")(spark, dir).head()
    }
    // honest split: all users flow through the md5 arm — no alarm
    val honest = mk(1L to 2000L)
    assert(honest.getLong(0) + honest.getLong(1) === 2000L)
    assert(honest.getLong(3) === 0L, s"an honest 50/50 must not alarm: $honest")
    // corrupted logging: arm-1 users dropped to simulate data loss —
    // keep users whose md5 arm is 0, plus only a third of arm 1
    val armOfJvm: Long => Long = { u =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(u.toString.getBytes("UTF-8"))
      val hex = md.take(2).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) % 2
    }
    val corrupted = (1L to 2000L).filter(u =>
      armOfJvm(u) == 0L || u % 3 == 0L)
    val bad = mk(corrupted)
    assert(bad.getLong(3) === 1L, s"a 3:1 mismatch must alarm: $bad")
  }

  // ---- q_mcnemar / q_cochran_q ---------------------------------------------

  test("McNemar: one-sided disagreement rejects with the continuity-corrected closed form") {
    import spark.implicits._
    // 10 docs where only the stop-ratio classifier is right (b), none
    // where only the length one is (c = 0): chi2 = (10−1)²/10 = 8.1
    val hi = "the a of and the a of and"  // stop-ratio 1 ⇒ predA = en
    val docs = (1L to 10L).map(i => (i, hi, "en", hi.length.toLong)) ++
      (11L to 20L).map(i => (i, hi, "en", 200L)) // both right (padding n_chars)
    val dir = java.nio.file.Files.createTempDirectory("graft_mcn").toString
    docs.toDF("doc_id", "text", "lang", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("q_mcnemar")(spark, dir).head()
    assert(r.getLong(1) === 10L && r.getLong(2) === 0L)
    assert(r.getDouble(4) === 8.1, s"(|10−0|−1)²/10: $r")
    assert(r.getLong(5) === 1L)
  }

  test("Cochran Q: planted year skew gives exactly Q = 70 and rejects; uniform abstains") {
    import spark.implicits._
    def mk(rows: Seq[(Long, Long, String)]) = {
      val dir = java.nio.file.Files.createTempDirectory("graft_cq").toString
      rows.toDF("o_orderkey", "o_custkey", "o_orderdate")
        .withColumn("o_totalprice", lit(100.0))
        .write.parquet(s"$dir/orders.parquet")
      SparkEntry.queries("q_cochran_q")(spark, dir).head()
    }
    // 40 customers all active 1996; only customers 1–5 active in 1997 and
    // 1998 → C = (40, 5, 5), T = 50, ΣR² = 80 ⇒ Q = (2/3)·7350/70 = 70
    val skew = (1L to 40L).map(c => (c, c, "1996-06-01")) ++
      (1L to 5L).flatMap(c => Seq((100 + c, c, "1997-06-01"),
        (200 + c, c, "1998-06-01")))
    val rs = mk(skew)
    assert((rs.getLong(1), rs.getLong(2), rs.getLong(3)) === ((40L, 5L, 5L)))
    assert(rs.getDouble(4) === 70.0, s"closed form: $rs")
    assert(rs.getLong(5) === 1L)
    // every customer active all three years: den = 0 ⇒ NULL abstention
    val uniform = (1L to 20L).flatMap(c => Seq(
      (c, c, "1996-06-01"), (100 + c, c, "1997-06-01"),
      (200 + c, c, "1998-06-01")))
    val ru = mk(uniform)
    assert(ru.isNullAt(4) && ru.getLong(5) === 0L, s"$ru")
  }

  // ---- q_kendall_w ---------------------------------------------------------

  test("Kendall W: full agreement gives exactly 1; one reversed ranking gives exactly 1/9") {
    import spark.implicits._
    def day(x: Int) = java.time.LocalDate.of(1995, 1, 1).plusDays(x).toString
    // customer c: c orders of value 100·c, last order on day c — spend,
    // frequency and recency rankings all coincide ⇒ W = 1 exactly
    def mk(lastDay: Long => Int) = {
      val rows = (1L to 30L).flatMap { c =>
        (1 to c.toInt).map(i =>
          (c * 1000 + i, c, 100.0 * c, day(lastDay(c) * 10 + (i % 3))))
      }.toDF("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
      val dir = java.nio.file.Files.createTempDirectory("graft_kw").toString
      rows.write.parquet(s"$dir/orders.parquet")
      SparkEntry.queries("q_kendall_w")(spark, dir).head()
    }
    val agree = mk(c => c.toInt)
    assert(agree.getLong(0) === 30L)
    assert(agree.getDouble(2) === 1.0, s"full concordance: $agree")
    // recency REVERSED (biggest spender ordered longest ago): rank sums
    // R_i = 2i + (n+1−i) stay perfectly linear ⇒ W = 1/9 exactly
    val oneRev = mk(c => 31 - c.toInt)
    def r6d(x: Double) = math.floor(x * 1e6 + 0.500001) / 1e6
    assert(oneRev.getDouble(2) === r6d(1.0 / 9.0), s"one reversal: $oneRev")
  }

  test("Kendall W on real data: W within [0, 1]") {
    val r = SparkEntry.queries("q_kendall_w")(spark, sf).head()
    assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0 + 1e-9)
  }

  // ---- q_covariate_balance -------------------------------------------------

  test("covariate balance: honest md5 arms balance; a planted arm-0 volume shift flags") {
    import spark.implicits._
    val armOf = pmod(conv(substring(
      md5(col("user_id").cast("string").cast("binary")), 1, 4), 16, 10)
      .cast("long"), lit(2L))
    // every user gets 4–6 base events (within-arm variance so SMD is
    // defined); arm-0 users get 8 extra — a planted event-volume
    // imbalance; per-event values stay identical
    val base = (1L to 200L).flatMap { u =>
      (0 until 4 + (u % 3).toInt).map(i =>
        (u * 100 + i, u, if (i == 0) "purchase" else "view", 10.0)) ++
        (0 until 8).map(i => (u * 100 + 50 + i, u, "view", 10.0))
    }.toDF("event_id", "user_id", "event_type", "value")
    val ev = base
      // drop the extra events for arm-1 users only
      .where(col("event_id") % 100 < 50 ||
        armOf === 0L)
      .withColumn("props", lit("{}"))
      .withColumn("ts", (lit(1_700_000_000L) + col("event_id")) * lit(1_000_000_000L))
    val dir = fixtureDir("events" -> ev)
    val rows = SparkEntry.queries("q_covariate_balance")(spark, dir)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rows.keySet === Set("event_volume", "purchase_share", "mean_value"))
    assert(rows("event_volume").getLong(6) === 1L,
      s"the planted 12-vs-4 volume gap must flag: ${rows("event_volume")}")
    assert(rows("mean_value").getLong(6) === 0L,
      s"identical per-event values balance: ${rows("mean_value")}")
  }

  // ---- q_capture_recapture -------------------------------------------------

  test("capture-recapture: independent planted captures give Chapman's exact closed form") {
    import spark.implicits._
    // truth = 100 users; capture 1 = even users (n₁ = 50), capture 2 =
    // multiples of 3 (n₂ = 33), overlap = multiples of 6 (m = 16):
    // N̂ = 51·34/17 − 1 = 101 exactly — covers the truth
    val rows = (1L to 100L).flatMap { u =>
      val viewId = if (u % 2 == 0) 7L * u else 7L * u + 1L
      val clickId = if (u % 3 == 0) 100000L + 5L * u else 100000L + 5L * u + 1L
      Seq((viewId, u, "view", 1.0), (clickId, u, "click", 1.0))
    }.toDF("event_id", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .withColumn("ts", (lit(1_700_000_000L) + col("event_id")) * lit(1_000_000_000L))
    val dir = fixtureDir("events" -> rows)
    val r = SparkEntry.queries("q_capture_recapture")(spark, dir).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((100L, 50L, 33L, 16L)))
    assert(r.getDouble(4) === 101.0, s"Chapman closed form: $r")
    assert(r.getLong(6) === 1L, "the interval must cover the truth")
  }

  test("capture-recapture on real data: partial captures, flag consistent") {
    val r = SparkEntry.queries("q_capture_recapture")(spark, sf).head()
    assert(r.getLong(3) <= math.min(r.getLong(1), r.getLong(2)))
    assert(r.getLong(1) <= r.getLong(0) && r.getLong(2) <= r.getLong(0))
    if (r.getLong(3) > 0) {
      val covers = math.abs(r.getDouble(4) - r.getLong(0).toDouble) <=
        1.959963984540054 * r.getDouble(5)
      // the flag is computed from the UNROUNDED floats; tolerate the
      // boundary case where rounding flips the replay
      if (math.abs(math.abs(r.getDouble(4) - r.getLong(0)) -
          1.959963984540054 * r.getDouble(5)) > 0.02)
        assert(r.getLong(6) === (if (covers) 1L else 0L))
    }
  }

  // ---- q_jackknife ---------------------------------------------------------

  test("jackknife: identical clusters give SE exactly 0; driver replay matches") {
    import spark.implicits._
    def mkEvents(rows: Seq[(Long, String, Double)]) = {
      val dir = java.nio.file.Files.createTempDirectory("graft_jk").toString
      rows.zipWithIndex.map { case ((u, ty, v), i) => (i.toLong, u, ty, v) }
        .toDF("event_id", "user_id", "event_type", "value")
        .withColumn("props", lit("{}"))
        .withColumn("ts", (lit(1_700_000_000L) + col("event_id")) * lit(1_000_000_000L))
        .write.parquet(s"$dir/events.parquet")
      dir
    }
    // every user identical (2 views, one $50 purchase): every
    // leave-one-out ratio equals the full ratio → SE = 0 exactly
    val same = (1L to 30L).flatMap(u => Seq((u, "view", 0.0), (u, "view", 0.0),
      (u, "purchase", 50.0)))
    val r0 = SparkEntry.queries("q_jackknife")(spark, mkEvents(same)).head()
    assert(r0.getLong(0) === 30L && r0.getLong(1) === 30L)
    assert(r0.getDouble(2) === 2500.0, "5000 cents over 2 views")
    assert(r0.getDouble(4) === 0.0, s"homogeneous clusters ⇒ SE 0: $r0")
    // heterogeneous clusters: replay the micro-unit algebra on the driver
    val het = (1L to 25L).flatMap(u => Seq((u, "view", 0.0),
      (u, "purchase", 10.0 + u)))
    val rh = SparkEntry.queries("q_jackknife")(spark, mkEvents(het)).head()
    val xs = (1L to 25L).map(u => ((10.0 + u) * 100).round)
    val sx = xs.sum; val sy = 25L
    val vs = xs.map(x => math.floor((sx - x).toDouble / (sy - 1).toDouble * 1e6).toLong)
    val n = vs.length.toDouble
    val sv = vs.sum; val svv = vs.map(v => BigInt(v) * BigInt(v)).sum
    val se = math.sqrt((n - 1.0) / n *
      (svv.toDouble - sv.toDouble * sv.toDouble / n)) / 1e6
    def r6d(x: Double) = math.floor(x * 1e6 + 0.500001) / 1e6
    assert(math.abs(rh.getDouble(4) - r6d(se)) < 2e-6, s"SE replay: $rh vs $se")
  }

  // ---- q_group_sequential --------------------------------------------------

  test("group sequential: planted lift crosses late looks, boundaries decay, looks accumulate") {
    import spark.implicits._
    val armOf = pmod(conv(substring(
      md5(col("user_id").cast("string").cast("binary")), 1, 4), 16, 10)
      .cast("long"), lit(2L))
    // each user purchases once per 6-day window across January; arm 0
    // carries a massive planted lift → by the later looks z ≫ boundary
    val base = (1L to 160L).flatMap { u =>
      (0 until 5).map(k => (u * 10 + k, u, 10.0 + (u % 7),
        f"2024-01-${3 + 6 * k}%02d"))
    }.toDF("event_id", "user_id", "value", "day")
    val ev = base
      .withColumn("value",
        col("value") + when(armOf === 0L, 500.0).otherwise(0.0))
      .withColumn("ts", to_timestamp(col("day")))
      .withColumn("event_type", lit("purchase"))
      .withColumn("props", lit("{}")).drop("day")
    val dir = fixtureDir("events" -> ev)
    val rows = SparkEntry.queries("q_group_sequential")(spark, dir)
      .collect().sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq === (1L to 5L))
    val bounds = rows.map(_.getDouble(4))
    assert(bounds.sliding(2).forall(p => p(0) > p(1)),
      "OBF boundaries decay across looks")
    val ns = rows.map(r => r.getLong(1) + r.getLong(2))
    assert(ns.sliding(2).forall(p => p(0) <= p(1)),
      "interim populations accumulate")
    assert(rows.last.getLong(5) === 1L,
      s"the planted lift must cross at the final look: ${rows.last}")
    rows.foreach(r => assert(r.getLong(5) ===
      (if (math.abs(r.getDouble(3)) > r.getDouble(4)) 1L else 0L)))
  }

  test("group sequential on real data: five looks, flags consistent") {
    val rows = SparkEntry.queries("q_group_sequential")(spark, sf).collect()
    assert(rows.length === 5)
    rows.foreach(r => assert(r.getLong(5) ===
      (if (math.abs(r.getDouble(3)) > r.getDouble(4)) 1L else 0L)))
  }

  // ---- q_trimmed_mean ------------------------------------------------------

  test("trimmed/winsorized means: a planted outlier moves only the raw mean") {
    import spark.implicits._
    // 100 customers at exactly $100 + one whale at $1,000,000: the raw
    // mean jumps to ~$10,000 while the 5%-trimmed and winsorized means
    // stay at (or clamp to) $100
    val rows = (1L to 100L).map(c => (c, c, 100.0)) :+ (101L, 101L, 1000000.0)
    val dir = fixtureDir("orders" -> rows.toDF(
      "o_orderkey", "o_custkey", "o_totalprice"))
    val r = SparkEntry.queries("q_trimmed_mean")(spark, dir).head()
    assert(r.getLong(0) === 101L)
    assert(r.getDouble(2) > 9000.0, s"raw mean carries the whale: $r")
    assert(r.getDouble(3) === 100.0, s"trimmed mean must not: $r")
    assert(r.getDouble(4) === 100.0, s"winsorized clamps the whale to the cut: $r")
    // trim census: 5% of 101 = 5 cut each side → 91 kept
    assert(r.getLong(1) === 91L)
  }

  test("trimmed mean on real data: robust ≤-ordering under right skew") {
    val r = SparkEntry.queries("q_trimmed_mean")(spark, sf).head()
    assert(r.getLong(1) < r.getLong(0))
    // spend is right-skewed: trimming drops more mass from the top
    assert(r.getDouble(3) <= r.getDouble(2) + 1e-9)
    assert(r.getDouble(3) <= r.getDouble(4) + 1e-9,
      "winsorizing returns clamped tails, so it sits between trimmed and raw")
    assert(r.getDouble(4) <= r.getDouble(2) + 1e-9)
  }

  // ---- q_delta_method ------------------------------------------------------

  test("delta method: a planted per-view value lift on arm 0 is significant") {
    import spark.implicits._
    val armOf = pmod(conv(substring(
      md5(col("user_id").cast("string").cast("binary")), 1, 4), 16, 10)
      .cast("long"), lit(2L))
    // every user: 4 views + 2 purchases; arm-0 purchases are worth 3×
    val base = (1L to 120L).flatMap { u =>
      (0 until 4).map(i => (u, "view", 0.0, u * 10 + i)) ++
        Seq((u, "purchase", 50.0 + (u % 7), u * 10 + 8),
          (u, "purchase", 40.0 + (u % 5), u * 10 + 9))
    }.map { case (u, ty, v, eid) => (eid, u, ty, v) }
      .toDF("event_id", "user_id", "event_type", "value")
      .withColumn("value",
        col("value") * when(armOf === 0L, 3.0).otherwise(1.0))
      .withColumn("props", lit("{}"))
      .withColumn("ts", (lit(1_700_000_000L) + col("event_id")) * lit(1_000_000_000L))
    val dir = fixtureDir("events" -> base)
    val r = SparkEntry.queries("q_delta_method")(spark, dir).head()
    assert(r.getLong(0) + r.getLong(1) === 120L)
    assert(r.getDouble(2) > 2.5 * r.getDouble(3),
      s"arm-0 cents-per-view must show the 3x lift: $r")
    assert(r.getDouble(4) > 1.96 && r.getLong(5) === 1L, s"$r")
  }

  test("delta method on real data: flag consistent, ratios positive") {
    val r = SparkEntry.queries("q_delta_method")(spark, sf).head()
    assert(r.getDouble(2) > 0.0 && r.getDouble(3) > 0.0)
    assert(r.getLong(5) ===
      (if (math.abs(r.getDouble(4)) > 1.959963984540054) 1L else 0L))
  }

  // ---- q_mahalanobis -------------------------------------------------------

  test("Mahalanobis: a joint-ellipse violator outscores a marginally-extreme point") {
    import spark.implicits._
    // spend tracks order count almost perfectly (m = 1000·f ± 1) for the
    // bulk; customer 998 sits at an extreme of BOTH marginals but ON the
    // line; customer 999 is mid-range on each axis yet far OFF the line —
    // univariate screens rank 998 first, Mahalanobis must rank 999 first
    val bulk = (1 to 96).flatMap { c =>
      (1 to (c % 8) + 2).map(i => (c.toLong, ((c % 8) + 2) * 10.0 + (i % 2) * 0.01))
    }
    val onLine = (1 to 14).map(i => (998L, 140.0 + (i % 2) * 0.01))
    val offLine = (1 to 5).map(i => (999L, 200.0))
    val rows = (bulk ++ onLine ++ offLine).zipWithIndex.map {
      case ((c, tp), i) => (i.toLong, c, tp / 100.0 * 100.0, "1995-06-01")
    }
    val dir = fixtureDir("orders" -> rows.toDF(
      "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"))
    val out = SparkEntry.queries("q_mahalanobis")(spark, dir).collect()
    val d999 = out.find(_.getLong(0) == 999L)
    val d998 = out.find(_.getLong(0) == 998L)
    assert(d999.isDefined, "the off-correlation point must make the top-20")
    assert(d998.forall(r => d999.get.getDouble(3) > r.getDouble(3)),
      s"off-line beats on-line: ${d999
        .map(_.getDouble(3))} vs ${d998.map(_.getDouble(3))}")
  }

  test("Mahalanobis on real data: 20 rows, descending d², flag consistent") {
    val rows = SparkEntry.queries("q_mahalanobis")(spark, sf).collect()
    assert(rows.length === 20)
    val ds = rows.map(_.getDouble(3)).toSeq
    assert(ds.sliding(2).forall(p => p(0) >= p(1)), "descending d²")
    ds.foreach(d => assert(d >= 0.0))
    rows.foreach(r => assert(r.getLong(4) ===
      (if (r.getDouble(3) > 5.991464547107979) 1L else 0L)))
  }

  // ---- q_fisher_exact ------------------------------------------------------

  test("Fisher exact: hand-computed hypergeometric p on a diagonal 5/5 table") {
    import spark.implicits._
    // a=5, b=0, c=0, d=5 (margins 5/5, n=10): only t=0 and t=5 are at most
    // as likely as the observed table, each with P = 1/C(10,5) = 1/252, so
    // the two-sided p is exactly 2/252 = 0.0079365… → r6 0.007937
    def mk(rows: Seq[(Long, String, Double)]) = fixtureDir("orders" ->
      rows.toDF("o_orderkey", "o_orderpriority", "o_totalprice"))
    val assoc = (1L to 5L).map((_, "1-URGENT", 300000.0)) ++
      (6L to 10L).map((_, "5-LOW", 100000.0))
    val r = SparkEntry.queries("q_fisher_exact")(spark, mk(assoc)).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((5L, 0L, 0L, 5L)))
    assert(r.getLong(4) === 10L)
    assert(r.getDouble(5) === 0.007937, s"p = 2/252: $r")
    assert(r.isNullAt(6), "odds ratio undefined at b = c = 0")
    assert(r.getLong(7) === 1L, "perfect association must reject")
    // a perfectly balanced table: the observed table is the mode, every
    // table is at most as likely ⇒ p = 1 exactly, no rejection
    val indep = (1L to 10L).map(i =>
      (i, "1-URGENT", if (i <= 5) 300000.0 else 100000.0)) ++
      (11L to 20L).map(i =>
        (i, "5-LOW", if (i <= 15) 300000.0 else 100000.0))
    val r2 = SparkEntry.queries("q_fisher_exact")(spark, mk(indep)).head()
    assert((r2.getLong(0), r2.getLong(1), r2.getLong(2), r2.getLong(3)) ===
      ((5L, 5L, 5L, 5L)))
    assert(r2.getDouble(5) === 1.0, s"balanced table: p = 1: $r2")
    assert(r2.getDouble(6) === 1.0, "odds ratio 1 on the balanced table")
    assert(r2.getLong(7) === 0L)
  }

  test("Fisher exact on real data: bounded sample, p ∈ [0,1], flag consistent") {
    val r = SparkEntry.queries("q_fisher_exact")(spark, sf).head()
    val n = graft.io.Sources.table(spark, sf, "orders")
      .where(col("o_orderkey") <= 300L).count()
    assert(r.getLong(0) + r.getLong(1) + r.getLong(2) + r.getLong(3) === n)
    assert(r.getLong(4) === n)
    val p = r.getDouble(5)
    assert(p >= 0.0 && p <= 1.0)
    assert(r.getLong(7) === (if (p < 0.05) 1L else 0L))
  }

  // ---- r10 additions: CvM / G-test / odds ratio / Poisson rate -------------

  /** Stats.arm replicated driver-side, for planting per-arm fixtures. */
  private def armOfId(id: Long): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(4)
    java.lang.Long.parseLong(hex, 16) % 2
  }

  test("CvM: separated arms reject, and T matches a driver recount") {
    import spark.implicits._
    // pick 8 customers per arm by replaying the md5 rule, plant arm-0
    // spend far below arm-1 — maximal ECDF separation
    val ids = (1L to 400L)
    val a0 = ids.filter(armOfId(_) == 0L).take(8)
    val a1 = ids.filter(armOfId(_) == 1L).take(8)
    val orders = (a0.zipWithIndex.map { case (c, i) => (c, 10.0 + i) } ++
      a1.zipWithIndex.map { case (c, i) => (c, 1000.0 + i) })
      .zipWithIndex.map { case ((c, v), k) => (k.toLong, c, v) }
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    val dir = fixtureDir("orders" -> orders)
    val r = SparkEntry.queries("q_cramer_von_mises")(spark, dir).head()
    assert(r.getLong(0) === 8L && r.getLong(1) === 8L)
    // driver recount of Anderson's rank form on the planted data:
    // arm 0 occupies combined ranks 1..8, arm 1 ranks 9..16 ⇒ r − i = 0
    // for arm 0 and 8 for arm 1 ⇒ U = 8·0 + 8·(8·64) = 4096
    val n = 16.0
    val want = 4096.0 / (8.0 * 8.0 * n) - (4 * 64 - 1) / (6 * n)
    assert(math.abs(r.getDouble(2) - math.floor(want * 1e6 + 0.500001) / 1e6)
      < 1e-9, s"T=${r.getDouble(2)} want ~$want")
    assert(r.getLong(3) === 1L, "separated arms must reject")
  }

  test("G-test: a perfectly proportional table gives G = 0, dof exact") {
    import spark.implicits._
    // counts 10/20/30/60: every E = O exactly ⇒ every ln term is ln(1)
    val rows = Seq.fill(10)(("1-URGENT", "F")) ++ Seq.fill(20)(("1-URGENT", "O")) ++
      Seq.fill(30)(("5-LOW", "F")) ++ Seq.fill(60)(("5-LOW", "O"))
    val orders = rows.zipWithIndex
      .map { case ((p, st), i) => (i.toLong, p, st, 100.0) }
      .toDF("o_orderkey", "o_orderpriority", "o_orderstatus", "o_totalprice")
    val r = SparkEntry.queries("q_g_test")(spark, fixtureDir("orders" -> orders))
      .head()
    assert(r.getLong(0) === 120L && r.getLong(1) === 4L)
    assert(r.getDouble(2) === 0.0, s"proportional table: G=0: $r")
    assert(r.getLong(3) === 1L)
    assert(r.getLong(4) === 0L)
    // real data: G and chi2 agree on the same contingency to first order
    val g = SparkEntry.queries("q_g_test")(spark, sf).head()
    val c = SparkEntry.queries("q_chi_square")(spark, sf).head()
    assert(g.getLong(3) === c.getLong(3), "same dof as chi-square")
    assert(g.getDouble(2) >= 0.0)
  }

  test("odds ratio: hand 2x2 and zero-cell abstention") {
    import spark.implicits._
    def mk(rows: Seq[(String, Double)]) = fixtureDir("orders" ->
      rows.zipWithIndex.map { case ((p, v), i) => (i.toLong, p, v) }
        .toDF("o_orderkey", "o_orderpriority", "o_totalprice"))
    // a=8 b=2 c=4 d=6 ⇒ OR = 48/8 = 6
    val hand = Seq.fill(8)(("1-URGENT", 250000.0)) ++
      Seq.fill(2)(("1-URGENT", 100.0)) ++
      Seq.fill(4)(("5-LOW", 250000.0)) ++ Seq.fill(6)(("5-LOW", 100.0))
    val r = SparkEntry.queries("q_odds_ratio")(spark, mk(hand)).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((8L, 2L, 4L, 6L)))
    assert(r.getDouble(4) === 6.0)
    assert(r.getDouble(5) < 6.0 && r.getDouble(6) > 6.0, "CI brackets OR")
    // zero cell ⇒ NULL OR/CI, assoc 0
    val zc = Seq.fill(5)(("1-URGENT", 250000.0)) ++
      Seq.fill(4)(("5-LOW", 250000.0)) ++ Seq.fill(6)(("5-LOW", 100.0))
    val rz = SparkEntry.queries("q_odds_ratio")(spark, mk(zc)).head()
    assert(rz.isNullAt(4) && rz.isNullAt(5) && rz.isNullAt(6))
    assert(rz.getLong(7) === 0L)
  }

  test("poisson rate: planted 5x rate gap on known arms is significant") {
    import spark.implicits._
    val ids = (1L to 600L)
    val a0 = ids.filter(armOfId(_) == 0L).take(40)
    val a1 = ids.filter(armOfId(_) == 1L).take(40)
    // arm 0 users purchase 5 times, arm 1 once
    val ev = (a0.flatMap(u => (1 to 5).map(k => (u, s"$u-$k"))) ++
      a1.map(u => (u, s"$u-1")))
      .zipWithIndex.map { case ((u, _), i) => (u, i.toLong, "purchase",
        1_700_000_000L * 1_000_000_000L) }
      .toDF("user_id", "event_id", "event_type", "ts")
    val r = SparkEntry.queries("q_poisson_rate")(spark, fixtureDir("events" -> ev))
      .head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((200L, 40L, 40L, 40L)))
    assert(r.getDouble(4) === 5.0 && r.getDouble(5) === 1.0)
    assert(r.getLong(7) === 1L, s"5x rate gap must reject: $r")
  }

  test("SPRT: all-convert stream accepts H1 at n=9, none-convert H0 at n=21") {
    import spark.implicits._
    def mk(conv: Boolean) = fixtureDir("events" ->
      (1L to 60L).map(u => (u, u, if (conv) "purchase" else "view",
        1_700_000_000L * 1_000_000_000L, 1.0))
        .toDF("user_id", "event_id", "event_type", "ts", "value"))
    // every step adds ln(1.4): crosses +ln19 at ceil(2.9444/0.33647) = 9
    val r1 = SparkEntry.queries("q_sprt")(spark, mk(conv = true)).head()
    assert(r1.getLong(0) === 60L && r1.getLong(1) === 60L)
    assert(r1.getLong(2) === 9L && r1.getString(3) === "accept_h1")
    // every step adds ln(0.65/0.75): crosses -ln19 at ceil(2.9444/0.14310) = 21
    val r0 = SparkEntry.queries("q_sprt")(spark, mk(conv = false)).head()
    assert(r0.getLong(1) === 0L)
    assert(r0.getLong(2) === 21L && r0.getString(3) === "accept_h0")
  }

  test("Cochran-Armitage: planted monotone trend rejects, flat doesn't, " +
      "degenerate abstains") {
    import spark.implicits._
    def mk(tiers: Seq[(String, Int, Int)]) = fixtureDir("orders" ->
      tiers.flatMap { case (p, nHv, nLo) =>
        Seq.fill(nHv)((p, 250000.0)) ++ Seq.fill(nLo)((p, 100.0))
      }.zipWithIndex.map { case ((p, v), i) => (i.toLong, p, v) }
        .toDF("o_orderkey", "o_orderpriority", "o_totalprice"))
    // high-value rate rises monotonically with the tier score 1→5
    val trend = mk(Seq(("1-URGENT", 2, 18), ("2-HIGH", 6, 14),
      ("3-MEDIUM", 10, 10), ("4-NOT SPECIFIED", 14, 6), ("5-LOW", 18, 2)))
    val rt = SparkEntry.queries("q_cochran_armitage")(spark, trend).head()
    assert(rt.getLong(0) === 100L && rt.getLong(2) === 5L)
    assert(rt.getDouble(4) > 1.96 && rt.getLong(5) === 1L,
      s"monotone trend must reject: $rt")
    // identical rates in every tier: z = 0 exactly
    val flat = mk((1 to 5).map(k => (s"$k-X", 5, 15)))
    val rf = SparkEntry.queries("q_cochran_armitage")(spark, flat).head()
    assert(rf.getDouble(4) === 0.0 && rf.getLong(5) === 0L)
    // every order high-value: pbar = 1 ⇒ variance 0 ⇒ abstain
    val const = mk((1 to 5).map(k => (s"$k-X", 10, 0)))
    val rc = SparkEntry.queries("q_cochran_armitage")(spark, const).head()
    assert(rc.isNullAt(4) && rc.getLong(5) === 0L)
  }

  test("Bayes A/B: lopsided arms are decisive, identical arms sit at 0.5") {
    import spark.implicits._
    val ids = (1L to 2000L)
    val a0 = ids.filter(armOfId(_) == 0L).take(50)
    val a1 = ids.filter(armOfId(_) == 1L).take(50)
    def mk(convA: Int, convB: Int) = fixtureDir("events" ->
      (a0.zipWithIndex.map { case (u, i) =>
        (u, u, if (i < convA) "purchase" else "view") } ++
       a1.zipWithIndex.map { case (u, i) =>
        (u, u, if (i < convB) "purchase" else "view") })
        .map { case (u, e, t0) => (u, e, t0, 1_700_000_000L * 1_000_000_000L) }
        .toDF("user_id", "event_id", "event_type", "ts"))
    val lop = SparkEntry.queries("q_bayes_ab")(spark, mk(5, 40)).head()
    assert((lop.getLong(0), lop.getLong(1), lop.getLong(2), lop.getLong(3))
      === ((50L, 5L, 50L, 40L)))
    assert(lop.getDouble(4) > 0.95 && lop.getLong(5) === 1L, s"$lop")
    val even = SparkEntry.queries("q_bayes_ab")(spark, mk(20, 20)).head()
    assert(math.abs(even.getDouble(4) - 0.5) <= 1e-5,
      s"identical posteriors ⇒ exactly 1/2: $even")
    assert(even.getLong(5) === 0L)
  }

  test("Hodges-Lehmann: a planted +$70 daily shift is recovered exactly, " +
      "outlier-immune") {
    import spark.implicits._
    def mk(y97: Seq[Double], y98: Seq[Double]) = fixtureDir("orders" ->
      (y97.zipWithIndex.map { case (v, i) =>
        (java.sql.Timestamp.valueOf(java.time.LocalDate.of(1997, 1, 1)
          .plusDays(i.toLong).atStartOfDay()), v) } ++
       y98.zipWithIndex.map { case (v, i) =>
        (java.sql.Timestamp.valueOf(java.time.LocalDate.of(1998, 1, 1)
          .plusDays(i.toLong).atStartOfDay()), v) })
        .zipWithIndex.map { case ((d, v), i) => (i.toLong, d, v) }
        .toDF("o_orderkey", "o_orderdate", "o_totalprice"))
    val base = (0 until 30).map(i => 100.0 + (i % 10))
    val dir = mk(base, base.map(_ + 70.0))
    val r = SparkEntry.queries("q_hodges_lehmann")(spark, dir).head()
    assert(r.getLong(0) === 30L && r.getLong(1) === 30L &&
      r.getLong(2) === 900L)
    assert(r.getDouble(3) === 70.0, s"pure shift recovered exactly: $r")
    // one 1000x blowout day in 1998 cannot move the median of pair diffs
    val dirty = mk(base, base.map(_ + 70.0).updated(0, 200000.0))
    val rd = SparkEntry.queries("q_hodges_lehmann")(spark, dirty).head()
    assert(math.abs(rd.getDouble(3) - 70.0) <= 1.0,
      s"HL must shrug off the outlier: $rd")
  }

  test("CEM: a planted per-stratum treatment effect is recovered; unmatched strata prune") {
    import spark.implicits._
    val armOf = pmod(conv(substring(
      md5(col("c_custkey").cast("string").cast("binary")), 1, 4), 16, 10)
      .cast("long"), lit(2L))
    // 3 strata of 40 customers; stratum 2 holds NO treated arm members
    // by construction (we filter them out) so it must prune entirely
    val cust = (0 until 120).map(i =>
      (i.toLong, i % 3, if (i % 2 == 0) "AUTO" else "AUTO"))
      .toDF("c_custkey", "c_nationkey", "c_mktsegment")
      .withColumn("g", armOf)
      .where(!(col("c_nationkey") === 2 && col("g") === 0L))
      .drop("g")
    val dir = java.nio.file.Files.createTempDirectory("graft_cem").toString
    cust.write.parquet(s"$dir/customer.parquet")
    // outcome: every customer gets (nation + 1) orders; treated (arm 0)
    // get +5 — a constant within-stratum effect, so ATT = 5 exactly
    val orders = cust.withColumn("g", armOf)
      .select(col("c_custkey"), (col("c_nationkey") + 1 +
        when(col("g") === 0L, 5).otherwise(0)).cast("int").as("n"))
      .select(col("c_custkey"), explode(sequence(lit(1), col("n"))).as("i"))
      .select(monotonically_increasing_id().as("o_orderkey"),
        col("c_custkey").as("o_custkey"),
        lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")).as("o_orderdate"),
        lit(100.0).as("o_totalprice"))
    orders.write.parquet(s"$dir/orders.parquet")
    val r = SparkEntry.queries("q_cem")(spark, dir).head
    assert(r.getLong(0) === 2L, s"stratum 2 must prune: $r")
    assert(r.getLong(4) > 0L, "pruned control census must count stratum 2")
    assert(math.abs(r.getDouble(5) - 5.0) < 1e-6,
      s"constant +5 effect recovered exactly: $r")
  }

  test("TOST: the honest A/A split is equivalent; a planted +$200 shift is not") {
    import spark.implicits._
    val armOf = pmod(conv(substring(
      md5(col("user_id").cast("string").cast("binary")), 1, 4), 16, 10)
      .cast("long"), lit(2L))
    def mk(shift: Double) = fixtureDir("events" ->
      (1L to 200L).flatMap(u => Seq((u, 100.0 + (u % 7)), (u, 102.0 + (u % 5))))
        .toDF("user_id", "value")
        .withColumn("value", col("value") +
          when(armOf === 0L, lit(shift)).otherwise(lit(0.0)))
        .withColumn("event_type", lit("purchase"))
        .withColumn("event_id", monotonically_increasing_id())
        // Sources.table("events") converts a nanos BIGINT ts column
        .withColumn("ts", lit(1_700_000_000L) * lit(1_000_000_000L)))
    val aa = SparkEntry.queries("q_tost_equivalence")(spark, mk(0.0)).head
    assert(aa.getLong(0) + aa.getLong(1) === 200L)
    assert(aa.getLong(6) === 1L, s"A/A within ±$$50 must be equivalent: $aa")
    val shifted = SparkEntry.queries("q_tost_equivalence")(spark, mk(200.0)).head
    assert(shifted.getLong(6) === 0L,
      s"+$$200 exceeds the ±$$50 margin: $shifted")
    assert(shifted.getDouble(5) < 0, "z_high must go negative on the shift")
  }

  test("EB shrinkage: homogeneous groups collapse to the grand mean; " +
      "strong separation keeps raw means") {
    import spark.implicits._
    def mk(rev: (Int, Int) => Double) = fixtureDir("orders" ->
      (for (p <- 0 until 3; i <- 0 until 40) yield
        (p * 1000L + i, s"$p-PRIO", rev(p, i)))
        .toDF("o_orderkey", "o_orderpriority", "o_totalprice"))
    // identical values everywhere: σ²_w = 0, τ² = 0 ⇒ B = 1 (coalesced)
    // and every shrunk mean IS the grand mean
    val flat = SparkEntry.queries("q_eb_shrinkage")(spark,
      mk((_, _) => 100.0)).collect()
    flat.foreach { r =>
      assert(r.getDouble(2) === 100.0 && r.getDouble(3) === 100.0)
      assert(r.getDouble(4) === 1.0 && r.getDouble(5) === 0.0, s"$r")
    }
    // group means 100/10100/20100 with ±$1 within-noise: τ² dwarfs σ²_w/n
    // ⇒ B ≈ 0 and the shrunk means hug the raw ones
    val sep = SparkEntry.queries("q_eb_shrinkage")(spark,
      mk((p, i) => 100.0 + p * 10000.0 + (i % 3))).collect()
    sep.foreach { r =>
      assert(r.getDouble(4) < 0.01, s"separation ⇒ tiny shrink weight: $r")
      assert(math.abs(r.getDouble(3) - r.getDouble(2)) < 20.0,
        s"shrunk must hug raw: $r")
    }
  }

  test("Friedman: a flat series gives chi2 = 0; a within-week winner weekday rejects") {
    import spark.implicits._
    def mk(rev: Int => Double) = fixtureDir("orders" ->
      (0 until 140).map(i => (i.toLong,
        java.sql.Timestamp.valueOf(java.time.LocalDate.of(1995, 1, 1)
          .plusDays(i.toLong).atStartOfDay()), rev(i)))
        .toDF("o_orderkey", "o_orderdate", "o_totalprice"))
    // all-equal days: every midrank is 4, R_j = 4b ⇒ χ²_F = 0 exactly
    val flat = SparkEntry.queries("q_friedman")(spark, mk(_ => 100.0)).head
    assert(flat.getLong(0) === 20L && flat.getLong(1) === 7L)
    assert(flat.getDouble(2) === 0.0 && flat.getLong(3) === 0L, s"$flat")
    // weekday 0 tops EVERY week even though week levels drift wildly —
    // exactly the within-block effect Friedman sees and Kruskal can miss
    val win = SparkEntry.queries("q_friedman")(spark,
      mk(i => (i / 7) * 1000.0 + (if (i % 7 == 0) 500.0 else (i % 7) * 10.0)))
      .head
    assert(win.getDouble(2) > 12.591587 && win.getLong(3) === 1L, s"$win")
  }

  test("Page trend: perfect weekday agreement hits the closed-form L; flat weeks sit at E[L]") {
    import spark.implicits._
    def mk(rev: Int => Double) = fixtureDir("orders" ->
      (0 until 21).map(i => (i.toLong,
        java.sql.Timestamp.valueOf(java.time.LocalDate.of(1995, 1, 1)
          .plusDays(i.toLong).atStartOfDay()), rev(i)))
        .toDF("o_orderkey", "o_orderdate", "o_totalprice"))
    // within every week revenue rises with the weekday index ⇒ each
    // week's ranks are exactly 1..7 in weekday order: L = 3·Σm² = 420,
    // E[L] = 3·7·64/4 = 336, Var = 3·18816/144 = 392
    val up = SparkEntry.queries("q_page_trend")(spark,
      mk(i => 100.0 + (i % 7) * 10.0 + (i / 7))).head
    assert(up.getLong(0) === 3L && up.getLong(1) === 7L)
    assert(up.getDouble(2) === 420.0 && up.getDouble(3) === 336.0, s"$up")
    val z = (420.0 - 336.0) / math.sqrt(392.0)
    assert(up.getDouble(4) ===
      math.floor(z * 1000000.0 + 0.500001) / 1000000.0, s"$up")
    assert(up.getLong(5) === 1L, s"perfect order must reject: $up")
    // flat weeks: every midrank is 4 ⇒ L = E[L] exactly, z = 0
    val flat = SparkEntry.queries("q_page_trend")(spark, mk(_ => 100.0)).head
    assert(flat.getDouble(2) === 336.0 && flat.getDouble(4) === 0.0 &&
      flat.getLong(5) === 0L, s"$flat")
  }

  test("Goodman-Kruskal gamma / Somers' d: hand-counted concordance with both tie margins") {
    import spark.implicits._
    def mk(rows: (Double, Double)*) = fixtureDir("lineitem" ->
      rows.toSeq.toDF("l_quantity", "l_discount"))
    // cells (q,d,n): (1,1,2), (2,1,1), (2,2,1) ⇒ C = 2, D = 0, T_y = 2
    // (cross-q discount ties), T_x = 1 (within-q pair): γ = 1,
    // d_yx = 2/4, d_xy = 2/3
    val r = SparkEntry.queries("q_gk_gamma")(spark, mk(
      (1.0, 0.01), (1.0, 0.01), (2.0, 0.01), (2.0, 0.02))).head
    assert(r.getLong(0) === 4L && r.getLong(1) === 3L)
    assert(r.getLong(2) === 2L && r.getLong(3) === 0L, s"$r")
    assert(r.getDouble(4) === 1.0, s"gamma: $r")
    assert(r.getDouble(5) === 0.5, s"d_yx: $r")
    assert(r.getDouble(6) ===
      math.floor(2.0 / 3.0 * 1000000.0 + 0.500001) / 1000000.0, s"d_xy: $r")
    // perfect anti-concordance flips every sign
    val rev = SparkEntry.queries("q_gk_gamma")(spark, mk(
      (1.0, 0.03), (2.0, 0.02), (3.0, 0.01))).head
    assert(rev.getDouble(4) === -1.0 && rev.getDouble(5) === -1.0, s"$rev")
  }

  test("Ansari-Bradley: middle-concentrated group hits the closed-form moments and reads smaller scale") {
    import spark.implicits._
    def mk(rows: (String, Double)*) = fixtureDir("orders" ->
      rows.zipWithIndex.map { case ((p, v), i) => ((i + 1) * 20L, p, v) }
        .toDF("o_orderkey", "o_orderpriority", "o_totalprice"))
    // g0 = {1, 4}, urgent g1 = {2, 3}: scores a(R) = min(R, 5−R) =
    // {1,2,2,1} ⇒ AB = 4, E = 2·6/4 = 3, Var = 2·2·6·2/(48·3) = 1/3
    val small = SparkEntry.queries("q_ansari_bradley")(spark, mk(
      "3-MEDIUM" -> 1.0, "1-URGENT" -> 2.0,
      "1-URGENT" -> 3.0, "3-MEDIUM" -> 4.0)).head
    assert(small.getLong(0) === 2L && small.getLong(1) === 2L)
    assert(small.getDouble(2) === 4.0 && small.getDouble(3) === 3.0, s"$small")
    val z = (4.0 - 3.0) / math.sqrt(2.0 * 2.0 * (4.0 + 2.0) * (4.0 - 2.0) /
      (48.0 * (4.0 - 1.0)))
    assert(small.getDouble(4) ===
      math.floor(z * 1000000.0 + 0.500001) / 1000000.0, s"$small")
    assert(small.getLong(5) === 0L, s"n = 4 cannot reject: $small")
    // 10 urgent values packed in the middle of 10 tail values: AB = 80
    // vs E = 55 ⇒ z ≈ 3.79, scale difference detected
    val wide = SparkEntry.queries("q_ansari_bradley")(spark, mk(
      ((1 to 5) ++ (16 to 20)).map(v => "3-MEDIUM" -> v.toDouble) ++
        (6 to 15).map(v => "1-URGENT" -> v.toDouble): _*)).head
    assert(wide.getDouble(2) === 80.0 && wide.getDouble(3) === 55.0, s"$wide")
    assert(wide.getLong(5) === 1L, s"packed middle must reject: $wide")
  }

  test("Jonckheere-Terpstra: perfectly ordered groups hit the closed form; all-tied frame sits at E[J]") {
    import spark.implicits._
    def mk(vals: (String, Double)*) = fixtureDir("orders" ->
      vals.zipWithIndex.map { case ((p, v), i) => ((i + 1) * 20L, p, v) }
        .toDF("o_orderkey", "o_orderpriority", "o_totalprice"))
    // three groups of 2, all later-group values above all earlier-group
    // ones: J = 3 pairs × 4 = 12, E[J] = (36−12)/4 = 6,
    // Var = (36·15 − 3·4·7)/72 = 456/72
    val up = SparkEntry.queries("q_jonckheere")(spark, mk(
      "1-URGENT" -> 10.0, "1-URGENT" -> 20.0,
      "2-HIGH" -> 30.0, "2-HIGH" -> 40.0,
      "3-MEDIUM" -> 50.0, "3-MEDIUM" -> 60.0)).head
    assert(up.getLong(0) === 6L && up.getLong(1) === 3L)
    assert(up.getDouble(2) === 12.0 && up.getDouble(3) === 6.0, s"$up")
    val varJ = (36.0 * 15.0 - 84.0) / 72.0
    val z = (24.0 - 12.0) / (2.0 * math.sqrt(varJ))
    assert(up.getDouble(4) ===
      math.floor(z * 1000000.0 + 0.500001) / 1000000.0, s"$up")
    assert(up.getLong(5) === 1L, s"perfect ordering must reject: $up")
    // every value identical: all dominance is ties at ½ ⇒ J = E[J], z = 0
    val flat = SparkEntry.queries("q_jonckheere")(spark, mk(
      "1-URGENT" -> 10.0, "1-URGENT" -> 10.0,
      "2-HIGH" -> 10.0, "2-HIGH" -> 10.0,
      "3-MEDIUM" -> 10.0, "3-MEDIUM" -> 10.0)).head
    assert(flat.getDouble(2) === flat.getDouble(3) &&
      flat.getDouble(4) === 0.0 && flat.getLong(5) === 0L, s"$flat")
  }

  test("Brunner-Munzel: interleaved two-by-two groups hit the hand-worked W, p-hat, df") {
    import spark.implicits._
    // g0 = {10, 30} (3-MEDIUM), g1 = {20, 40} (1-URGENT): combined
    // midranks g0 {1,3} / g1 {2,4} ⇒ p̂ = 0.75, S₁² = S₂² = 0.5,
    // W = 1/√2, Satterthwaite df = 2
    val dir = fixtureDir("orders" ->
      Seq((20L, "3-MEDIUM", 10.0), (40L, "3-MEDIUM", 30.0),
          (60L, "1-URGENT", 20.0), (80L, "1-URGENT", 40.0))
        .toDF("o_orderkey", "o_orderpriority", "o_totalprice"))
    val r = SparkEntry.queries("q_brunner_munzel")(spark, dir).head
    assert(r.getLong(0) === 2L && r.getLong(1) === 2L)
    assert(r.getDouble(2) === 0.75, s"p_hat: $r")
    assert(r.getDouble(3) ===
      math.floor(1.0 / math.sqrt(2.0) * 1000000.0 + 0.500001) / 1000000.0,
      s"w: $r")
    assert(r.getDouble(4) === 2.0, s"df: $r")
    assert(r.getLong(5) === 0L, s"$r")
    // a single-member group sits under the n >= 2 floor → abstains
    val tiny = fixtureDir("orders" ->
      Seq((20L, "3-MEDIUM", 10.0), (40L, "1-URGENT", 20.0),
          (60L, "1-URGENT", 30.0))
        .toDF("o_orderkey", "o_orderpriority", "o_totalprice"))
    val ra = SparkEntry.queries("q_brunner_munzel")(spark, tiny).head
    assert(ra.getLong(0) === 1L && ra.isNullAt(2) && ra.isNullAt(3) &&
      ra.getLong(5) === 0L, s"$ra")
  }

  test("Kruskal-Wallis: flat series gives H = 0 with tie-corrected abstention; " +
      "a planted weekday shift rejects") {
    import spark.implicits._
    def mk(rev: Int => Double) = fixtureDir("orders" ->
      (0 until 140).map(i => (i.toLong,
        java.sql.Timestamp.valueOf(java.time.LocalDate.of(1995, 1, 1)
          .plusDays(i.toLong).atStartOfDay()), rev(i)))
        .toDF("o_orderkey", "o_orderdate", "o_totalprice"))
    // all days equal: every midrank is (N+1)/2 ⇒ H = 0 exactly; the tie
    // correction divides by zero ⇒ abstain NULL, reject 0
    val flat = SparkEntry.queries("q_kruskal_wallis")(spark, mk(_ => 100.0)).head
    assert(flat.getLong(0) === 140L && flat.getLong(1) === 7L)
    assert(flat.getDouble(2) === 0.0, s"flat H: $flat")
    assert(flat.isNullAt(3) && flat.getLong(4) === 0L)
    // weekday 0 (i % 7 == 0, anchor = 1995-01-01) pays 10x: distribution
    // shift concentrated in one group ⇒ reject
    val shifted = SparkEntry.queries("q_kruskal_wallis")(spark,
      mk(i => if (i % 7 == 0) 1000.0 else 100.0 + (i % 5))).head
    assert(shifted.getDouble(3) > 12.591587, s"planted shift must reject: $shifted")
    assert(shifted.getLong(4) === 1L)
  }

  test("Cliff's delta: total dominance reads +1/large, identical years 0/negligible") {
    import spark.implicits._
    def mk(y97: Int => Double, y98: Int => Double) = fixtureDir("orders" ->
      ((0 until 30).map(i => (i.toLong,
        java.sql.Timestamp.valueOf(java.time.LocalDate.of(1997, 1, 1)
          .plusDays(i.toLong).atStartOfDay()), y97(i))) ++
       (0 until 30).map(i => (100L + i,
        java.sql.Timestamp.valueOf(java.time.LocalDate.of(1998, 1, 1)
          .plusDays(i.toLong).atStartOfDay()), y98(i))))
        .toDF("o_orderkey", "o_orderdate", "o_totalprice"))
    val dom = SparkEntry.queries("q_cliffs_delta")(spark,
      mk(i => 100.0 + i, i => 1000.0 + i)).head
    assert(dom.getLong(0) === 30L && dom.getLong(1) === 30L)
    assert(dom.getLong(2) === 900L && dom.getLong(3) === 0L)
    assert(dom.getDouble(4) === 1.0 && dom.getString(5) === "large")
    val same = SparkEntry.queries("q_cliffs_delta")(spark,
      mk(i => 100.0 + i, i => 100.0 + i)).head
    // identical multisets: #(a>b) == #(a<b) by symmetry ⇒ δ = 0
    assert(same.getDouble(4) === 0.0 && same.getString(5) === "negligible")
  }

  test("Mood's median: a balanced weekly pattern gives chi2 = 0; " +
      "one always-above weekday rejects") {
    import spark.implicits._
    def mk(rev: Int => Double) = fixtureDir("orders" ->
      (0 until 70).map(i => (i.toLong,
        java.sql.Timestamp.valueOf(java.time.LocalDate.of(1995, 1, 1)
          .plusDays(i.toLong).atStartOfDay()), rev(i)))
        .toDF("o_orderkey", "o_orderdate", "o_totalprice"))
    // alternate weeks at $100/$200 for every weekday: each weekday is
    // half above the $150 median ⇒ every cell hits its expectation
    val bal = SparkEntry.queries("q_mood_median")(spark,
      mk(i => if ((i / 7) % 2 == 0) 100.0 else 200.0)).head
    assert(bal.getLong(0) === 70L && bal.getLong(1) === 7L)
    assert(bal.getDouble(2) === 0.0, s"balanced chi2: $bal")
    assert(bal.getLong(3) === 0L)
    // weekday 0 always above, the rest alternating ⇒ concentrated table
    val skew = SparkEntry.queries("q_mood_median")(spark,
      mk(i => if (i % 7 == 0) 300.0
        else if ((i / 7) % 2 == 0) 100.0 else 200.0)).head
    assert(skew.getDouble(2) > 12.591587, s"planted weekday must reject: $skew")
    assert(skew.getLong(3) === 1L)
  }

  test("permutation test: zero diffs give p = 1; a constant planted shift rejects") {
    import spark.implicits._
    def mk(shift: Double) = fixtureDir("orders" ->
      ((0 until 50).map(i => (i.toLong,
        java.sql.Timestamp.valueOf(java.time.LocalDate.of(1997, 3, 1)
          .plusDays(i.toLong).atStartOfDay()), 100.0 + (i % 9))) ++
       (0 until 50).map(i => (100L + i,
        java.sql.Timestamp.valueOf(java.time.LocalDate.of(1998, 3, 1)
          .plusDays(i.toLong).atStartOfDay()), 100.0 + (i % 9) + shift)))
        .toDF("o_orderkey", "o_orderdate", "o_totalprice"))
    // identical paired days: S_obs = 0, every permuted |S_p| >= 0 ⇒ the
    // exact p-value is (K+1)/(K+1) = 1
    val nul = SparkEntry.queries("q_permutation_test")(spark, mk(0.0)).head
    assert(nul.getLong(0) === 50L && nul.getLong(1) === 200L)
    assert(nul.getDouble(2) === 0.0)
    assert(nul.getDouble(3) === 1.0 && nul.getLong(4) === 0L)
    // constant +$10 on every pair: |S_p| = |S_obs| requires ALL 50 md5
    // sign bits equal — no permutation achieves it ⇒ p = 1/201
    val shift = SparkEntry.queries("q_permutation_test")(spark, mk(10.0)).head
    assert(shift.getDouble(2) === 10.0)
    assert(math.abs(shift.getDouble(3) - 1.0 / 201.0) < 1e-6, s"p: $shift")
    assert(shift.getLong(4) === 1L)
  }

  test("Hotelling T2: a joint mean shift on known arms rejects; A/A stays calm") {
    import spark.implicits._
    val ids = (1L to 3000L)
    val a0 = ids.filter(armOfId(_) == 0L).take(60)
    val a1 = ids.filter(armOfId(_) == 1L).take(60)
    // arm 0: 2/3 orders of ~$1000; arm 1: 4/5 orders of ~$3000 — the
    // within-arm alternation keeps the pooled covariance NONSINGULAR
    // (constant per-arm counts would zero wff and null the statistic)
    def orders(custs: Seq[Long], kBase: Int, base: Double) =
      custs.zipWithIndex.flatMap { case (c, j) =>
        (1 to (kBase + j % 2)).map(i =>
          (c * 100 + i, c, base + j % 5 * 10.0 + i)) }
    val dir = fixtureDir("orders" ->
      (orders(a0, 2, 1000.0) ++ orders(a1, 4, 3000.0))
        .toDF("o_orderkey", "o_custkey", "o_totalprice"))
    val r = SparkEntry.queries("q_hotelling")(spark, dir).head()
    assert(r.getLong(0) === 60L && r.getLong(1) === 60L)
    assert(r.getDouble(2) === -2.0, "order-count gap is exactly -2")
    assert(r.getDouble(5) > 3.0 && r.getLong(6) === 1L,
      s"joint shift must reject: $r")
  }

  test("Bartlett: planted unequal spreads reject; a degenerate cell abstains") {
    import spark.implicits._
    def mk(groups: Seq[(String, Seq[Double])]) = fixtureDir("orders" ->
      groups.flatMap { case (p, vs) => vs.map(v => (p, v)) }
        .zipWithIndex.map { case ((p, v), i) => (i.toLong, p, v) }
        .toDF("o_orderkey", "o_orderpriority", "o_totalprice"))
    // tight vs wide spread, same means
    val spread = mk(Seq(
      ("1-URGENT", (1 to 40).map(i => 1000.0 + (i % 3))),
      ("5-LOW", (1 to 40).map(i => 1000.0 + (i % 21) * 50.0))))
    val rs = SparkEntry.queries("q_bartlett")(spark, spread).head()
    assert(rs.getLong(1) === 2L && rs.getLong(3) === 1L)
    assert(rs.getDouble(2) > 9.49 && rs.getLong(4) === 1L,
      s"50x spread ratio must reject: $rs")
    // one constant group: whole test abstains
    val degen = mk(Seq(
      ("1-URGENT", Seq.fill(20)(1000.0)),
      ("5-LOW", (1 to 20).map(i => 1000.0 + i * 10.0))))
    val rd = SparkEntry.queries("q_bartlett")(spark, degen).head()
    assert(rd.isNullAt(2) && rd.getLong(4) === 0L, s"$rd")
  }

  test("Anderson-Darling: uniform spend rejects normality, constant abstains") {
    import spark.implicits._
    def mk(vals: Seq[Double]) = fixtureDir("orders" ->
      vals.zipWithIndex.map { case (v, i) => (i.toLong, i.toLong + 1L, v) }
        .toDF("o_orderkey", "o_custkey", "o_totalprice"))
    // one order per customer, uniformly spread spend — far from normal in
    // the tails, and n=200 gives A*2 plenty of power
    val uni = (1 to 200).map(i => 100.0 * i)
    val r = SparkEntry.queries("q_anderson_darling")(spark, mk(uni)).head()
    assert(r.getLong(0) === 200L)
    assert(r.getDouble(3) > 0.0, "A2 is positive")
    assert(r.getLong(5) === (if (r.getDouble(4) > 0.787) 1L else 0L))
    assert(r.getDouble(4) > 0.787 && r.getLong(5) === 1L,
      s"uniform data must reject normality: $r")
    // constant spend: sd = 0 ⇒ z NULL ⇒ the whole statistic abstains
    val c = SparkEntry.queries("q_anderson_darling")(
      spark, mk(Seq.fill(50)(500.0))).head()
    assert(c.isNullAt(3) && c.isNullAt(4) && c.getLong(5) === 0L, s"$c")
  }

  // ---- r10 degenerate-value guards (SURVEY §2.13) --------------------------

  test("spearman/partial_corr: constant columns abstain NULL, never NaN") {
    import spark.implicits._
    // l_quantity constant ⇒ zero rank variance ⇒ the clamped den is 0 and
    // rho abstains with NULL (the guard tests the raw factors, so neither
    // engine ever evaluates sqrt on a rounding-negative argument)
    val li = (1L to 60L).map(k => (k * 20L, 5.0, 7.77, 0.04))
      .toDF("l_orderkey", "l_quantity", "l_extendedprice", "l_discount")
    val dir = fixtureDir("lineitem" -> li)
    val rs = SparkEntry.queries("q_spearman")(spark, dir).head()
    assert(rs.isNullAt(1), s"constant x must abstain: $rs")
    val rp = SparkEntry.queries("q_partial_corr")(spark, dir).head()
    // every pairwise correlation has a zero-variance side ⇒ all NULL
    (1 to 4).foreach(i => assert(rp.isNullAt(i), s"col $i of $rp"))
  }

  test("burstiness: a perfectly periodic user reads B = -1 exactly") {
    import spark.implicits._
    // constant 1-hour gaps: sd = 0 via the clamped moment difference
    // (n·g² ≈ 2.6e20 is far past 2^53 — the raw double subtraction is
    // exactly the rounding-negative case the clamp absorbs), so
    // B = (sd−μ)/(sd+μ) = −1 and nothing NaNs/errors on either engine
    val t0 = java.sql.Timestamp.valueOf("2000-01-01 00:00:00")
    val ev = (0 until 24).map { i =>
      (7L, i.toLong, new java.sql.Timestamp(t0.getTime + i * 3600L * 1000L),
        "view", 1.0)
    }.toDF("user_id", "event_id", "ts", "event_type", "value")
    val dir = fixtureDir("events" -> ev)
    val r = SparkEntry.queries("q_burstiness")(spark, dir).head()
    assert(r.getLong(1) === 23L)
    assert(r.getDouble(3) === 0.0, s"constant gaps have sd 0: $r")
    assert(r.getDouble(4) === -1.0, s"periodic user is maximally regular: $r")
  }

  // ---- q_beta_binomial -------------------------------------------------------

  test("beta-binomial: the 5-for-5 customer stops outranking the 90-for-100 one") {
    import spark.implicits._
    def orders(ck: Long, n: Int, k: Int, base: Int) =
      (0 until n).map(i => (ck * 1000 + i,
        java.sql.Timestamp.valueOf("2020-06-01 00:00:00"), 100.0, ck,
        if (i < k) "1-URGENT" else "3-MEDIUM"))
    // population: 50 customers, 10 orders each, rates spread over
    // {0.2 .. 0.8} -> a real Beta prior; plus the two contenders
    val rows = (1L to 50L).flatMap(ck =>
      orders(ck, 10, 2 + (ck % 7).toInt, 0)) ++
      orders(900L, 5, 5, 0) ++ orders(901L, 100, 90, 0)
    val df = rows.toDF("o_orderkey", "o_orderdate", "o_totalprice",
      "o_custkey", "o_orderpriority")
    val dir = fixtureDir("orders" -> df)
    val out = SparkEntry.queries("q_beta_binomial")(spark, dir).collect()
    assert(out.length === 10)
    val byCk = out.map(r => r.getLong(0) -> r).toMap
    assert(byCk.contains(900L) && byCk.contains(901L),
      s"both contenders rank in the top 10: ${out.toSeq}")
    val (a, b) = (byCk(900L), byCk(901L))
    assert(a.getDouble(3) === 1.0 && b.getDouble(3) === 0.9, "raw rates")
    assert(b.getDouble(4) > a.getDouble(4),
      s"evidence must beat a perfect small sample: ${a} vs ${b}")
    // shrinkage direction: every shrunk rate sits between its raw rate
    // and the prior mean alpha/(alpha+beta)
    val mu = a.getDouble(5) / (a.getDouble(5) + a.getDouble(6))
    out.foreach { r =>
      val (raw, sh) = (r.getDouble(3), r.getDouble(4))
      assert((sh >= mu - 1e-6 && sh <= raw + 1e-6) ||
        (sh <= mu + 1e-6 && sh >= raw - 1e-6),
        s"shrunk must sit between raw and the prior mean: $r mu=$mu")
    }
  }

  test("beta-binomial abstains when every rate is identical (zero variance)") {
    import spark.implicits._
    val rows = (1L to 20L).flatMap(ck => (0 until 10).map(i =>
      (ck * 1000 + i, java.sql.Timestamp.valueOf("2020-06-01 00:00:00"),
        100.0, ck, if (i < 5) "1-URGENT" else "3-MEDIUM")))
    val df = rows.toDF("o_orderkey", "o_orderdate", "o_totalprice",
      "o_custkey", "o_orderpriority")
    val out = SparkEntry.queries("q_beta_binomial")(
      spark, fixtureDir("orders" -> df)).collect()
    assert(out.length === 10)
    assert(out.forall(r => r.isNullAt(4) && r.isNullAt(5) && r.isNullAt(6)),
      s"MoM collapse must abstain: ${out.toSeq}")
    assert(out.map(_.getLong(0)).toSeq === (1L to 10L).toSeq,
      "NULLS LAST + custkey tie-break")
  }

  // ---- q_dcor ---------------------------------------------------------------

  test("dcor: an exactly linear x-y relation scores 1, a constant series abstains") {
    import spark.implicits._
    // day i carries i orders of $100 each: x = 10000·i cents, y = i —
    // perfectly linear, so distance correlation must be exactly 1 (every
    // |Δx| = 10000·|Δy|, all three moments share the scale factor)
    val lin = (1 to 40).flatMap { i =>
      (0 until i).map { k =>
        (i.toLong * 1000 + k, java.sql.Timestamp.valueOf(
          java.time.LocalDate.of(2020, 1, 1).plusDays(i.toLong)
            .atStartOfDay()), 100.0)
      }
    }.toDF("o_orderkey", "o_orderdate", "o_totalprice")
    val r = SparkEntry.queries("q_dcor")(spark, fixtureDir("orders" -> lin)).head
    assert(r.getLong(0) === 40L && r.getLong(1) === 1600L)
    assert(r.getDouble(2) === 1.0, s"linear dependence must score 1: $r")

    // constant series: every pairwise distance is 0 ⇒ zero distance
    // variance ⇒ NULL abstention (not 0/0)
    val const = (1 to 10).map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(java.time.LocalDate.of(2020, 1, 1)
        .plusDays(i.toLong).atStartOfDay()), 100.0)
    }.toDF("o_orderkey", "o_orderdate", "o_totalprice")
    val rc = SparkEntry.queries("q_dcor")(spark, fixtureDir("orders" -> const)).head
    assert(rc.isNullAt(2), s"constant series must abstain: $rc")
  }

  test("dcor: driver replay on a planted nonlinear fixture, bounded in (0,1]") {
    import spark.implicits._
    // y ~ |i − 20|-shaped order counts against monotone revenue: Pearson
    // would sit near 0; dcor must see the dependence. Replay the exact
    // formula driver-side from the same integer census.
    val rows = (1 to 40).flatMap { i =>
      val cnt = 1 + math.abs(i - 20)
      (0 until cnt).map { k =>
        (i.toLong * 1000 + k, java.sql.Timestamp.valueOf(
          java.time.LocalDate.of(2020, 1, 1).plusDays(i.toLong)
            .atStartOfDay()), i * 10.0)
      }
    }.toDF("o_orderkey", "o_orderdate", "o_totalprice")
    val r = SparkEntry.queries("q_dcor")(spark, fixtureDir("orders" -> rows)).head
    val xs = (1 to 40).map(i => (1 + math.abs(i - 20)).toLong * i * 1000L)
    val ys = (1 to 40).map(i => (1 + math.abs(i - 20)).toLong)
    val n = 40
    def census(v: Seq[Long]) = for (i <- 0 until n; j <- 0 until n)
      yield math.abs(v(i) - v(j))
    val (dx, dy) = (census(xs), census(ys))
    def rowSums(d: Seq[Long]) = (0 until n).map(i =>
      (0 until n).map(j => d(i * n + j)).sum)
    val (ax, ay) = (rowSums(dx), rowSums(dy))
    val n2 = n.toDouble * n; val n3 = n2 * n
    def mom(p: Seq[Long], q: Seq[Long]) =
      p.zip(q).map { case (u, v) => BigInt(u) * BigInt(v) }.sum.toDouble
    val dcov2 = mom(dx, dy) / n2 + (dx.sum.toDouble / n2) * (dy.sum.toDouble / n2) -
      2.0 * mom(ax, ay) / n3
    val dvx = mom(dx, dx) / n2 + (dx.sum.toDouble / n2) * (dx.sum.toDouble / n2) -
      2.0 * mom(ax, ax) / n3
    val dvy = mom(dy, dy) / n2 + (dy.sum.toDouble / n2) * (dy.sum.toDouble / n2) -
      2.0 * mom(ay, ay) / n3
    val want = math.sqrt(math.max(dcov2, 0.0) / math.sqrt(dvx * dvy))
    assert(math.abs(r.getDouble(2) - want) < 1e-5,
      s"dcor replay: ${r.getDouble(2)} vs $want")
    assert(r.getDouble(2) > 0.3 && r.getDouble(2) <= 1.0,
      s"V-shaped dependence must register: $r")
  }

  test("q_dcor plan: broadcast pair census, no sort-merge join") {
    val p = plan("q_dcor")
    assert(!p.contains("SortMergeJoin"), s"census must broadcast:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"expected a broadcast census:\n$p")
  }

  // ---- q_cmh ----------------------------------------------------------------

  test("q_cmh: two identical strata replay the closed-form MH compose") {
    import spark.implicits._
    // each stratum holds the 2×2 (a,b,c,d) = (10,20,30,40): per-stratum
    // OR = 400/600 = 2/3 and so is ORmh exactly; E = 30·40/100 = 12 per
    // stratum, V = 30·70·40·60/(100²·99) = 56/11; χ² = (20−24)²/(112/11)
    // = 11/7 ≈ 1.5714 — not significant
    def stratum(ck: Long) = {
      def mk(urgent: Boolean, hv: Boolean, n: Int) =
        (0 until n).map(_ => (ck, if (urgent) "1-URGENT" else "5-LOW",
          if (hv) 300000.0 else 100000.0))
      mk(true, true, 10) ++ mk(true, false, 20) ++
        mk(false, true, 30) ++ mk(false, false, 40)
    }
    val orders = (stratum(1L) ++ stratum(2L)).zipWithIndex.map {
      case ((ck, p, tp), i) => (i.toLong, ck, p, tp)
    }.toDF("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
    val cust = Seq((1L, "S1"), (2L, "S2")).toDF("c_custkey", "c_mktsegment")
    val dir = fixtureDir("orders" -> orders, "customer" -> cust)
    val r = SparkEntry.queries("q_cmh")(spark, dir).head()
    assert(r.getLong(0) === 2L && r.getLong(1) === 20L)
    assert(r.getDouble(2) === 24.0, s"sum_e: $r")
    assert(r.getDouble(3) === math.floor(112.0 / 11.0 * 1e6 + 0.500001) / 1e6,
      s"sum_v: $r")
    assert(r.getDouble(4) === math.floor(11.0 / 7.0 * 1e4 + 0.500001) / 1e4,
      s"cmh_chi2: $r")
    assert(r.getDouble(5) === 0.666667, s"or_mh: $r")
    assert(r.getLong(6) === 0L, "11/7 is below the 5% critical")
  }

  test("q_dispersion: planted (0,4) counts hit D = 4 exactly; equal counts score 0") {
    import spark.implicits._
    // user 1: four purchases, user 2: none ⇒ mean 2, var (16−8)/1 = 8,
    // D = 4, z = 3·√(1/2) ≈ 2.12 ⇒ overdispersed
    val ev = (Seq.fill(4)((1L, "purchase")) :+ (2L, "view"))
      .toDF("user_id", "event_type")
      .withColumn("ts", lit(1_700_000_000L) * lit(1_000_000_000L))
    val dir = fixtureDir("events" -> ev)
    val r = SparkEntry.queries("q_dispersion")(spark, dir).head()
    assert(r.getLong(0) === 2L && r.getLong(1) === 4L)
    assert(r.getDouble(2) === 2.0 && r.getDouble(3) === 8.0)
    assert(r.getDouble(4) === 4.0, s"dispersion: $r")
    assert(r.getDouble(5) ===
      math.floor(3.0 * math.sqrt(1.0 / 2.0) * 1e6 + 0.500001) / 1e6)
    assert(r.getLong(6) === 1L)
    // two users with identical counts: var 0 ⇒ D = 0, z < 0 ⇒ flag 0
    val eq = Seq((1L, "purchase"), (2L, "purchase"))
      .toDF("user_id", "event_type")
      .withColumn("ts", lit(1_700_000_000L) * lit(1_000_000_000L))
    val r2 = SparkEntry.queries("q_dispersion")(spark, fixtureDir("events" -> eq))
      .head()
    assert(r2.getDouble(4) === 0.0 && r2.getLong(6) === 0L, s"$r2")
  }

  test("q_cmh on real data: strata cover segments, OR positive, flag consistent") {
    val r = SparkEntry.queries("q_cmh")(spark, sf).head()
    assert(r.getLong(0) === 5L, "five market segments")
    assert(r.getLong(1) >= 0L && r.getDouble(2) >= 0.0 && r.getDouble(3) >= 0.0)
    assert(!r.isNullAt(5) && r.getDouble(5) > 0.0, s"or_mh: $r")
    assert(r.getLong(6) === (if (r.getDouble(4) > 3.8415) 1L else 0L))
  }
}
