package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSpec {

  private lazy val docs = {
    import spark.implicits._
    Seq(
      (0L, "the quick brown fox, jumps over the lazy dog!", "en"),
      (1L, "a b c", "en"),
      (2L, "word", "en"))
      .toDF("doc_id", "text", "lang")
      .withColumn("source", lit("t")).withColumn("n_chars", length(col("text")))
  }

  test("hapax rate and Simpson diversity match a driver recount on a tiny corpus") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_hapax").toString
    // source 's': tokens a×3 b×2 c×1 d×1 → vocab 4, hapax 2, dis 1, N 7;
    // Simpson λ = (3·2 + 2·1 + 0 + 0)/(7·6) = 8/42
    Seq((0L, "a a b c", "s"), (1L, "a b d", "s"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    val h = graft.SparkEntry.queries("q_hapax_rate")(spark, dir).head
    assert(h.getLong(1) === 7L && h.getLong(2) === 4L)
    assert(h.getLong(3) === 2L && h.getLong(4) === 1L)
    assert(math.abs(h.getDouble(5) - 0.5) < 1e-9, s"hapax share: $h")
    val s = graft.SparkEntry.queries("q_simpson_diversity")(spark, dir).head
    assert(s.getLong(1) === 7L && s.getLong(2) === 4L)
    assert(math.abs(s.getDouble(3) - 8.0 / 42.0) < 1e-6, s"simpson: $s")
    assert(math.abs(s.getDouble(4) - math.floor(42.0 / 8.0 * 100 + 0.500001) / 100)
      < 1e-9, s"inverse: $s")
    // Yule's K on the same census: Σf² = 9+4+1+1 = 15, N = 7 ⇒
    // K = 10⁴·(15−7)/49
    val y = graft.SparkEntry.queries("q_yule_k")(spark, dir).head
    assert(y.getLong(1) === 7L && y.getLong(2) === 4L && y.getLong(3) === 15L)
    assert(y.getDouble(4) ===
      math.floor(10000.0 * 8.0 / 49.0 * 1e4 + 0.500001) / 1e4, s"yule: $y")
  }

  test("KL divergence vs corpus: two planted sources hit the hand-computed term sums") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_kl").toString
    // s1: a×2 b×1 (N=3); s2: a×1 c×1 (N=2); corpus: a×3 b×1 c×1 (N=5)
    Seq((0L, "a a b", "s1"), (1L, "a c", "s2"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    val rows = graft.SparkEntry.queries("q_kl_divergence")(spark, dir)
      .collect().map(r => r.getString(0) -> r).toMap
    def r6(x: Double): Double =
      math.floor(x * 1000000.0 + 0.500001) / 1000000.0
    // term-ordered (a, then b/c) ln-term sums, replicated op-for-op
    val kl1 = (2.0 / 3.0) * math.log((2.0 / 3.0) / (3.0 / 5.0)) +
      (1.0 / 3.0) * math.log((1.0 / 3.0) / (1.0 / 5.0))
    val kl2 = (1.0 / 2.0) * math.log((1.0 / 2.0) / (3.0 / 5.0)) +
      (1.0 / 2.0) * math.log((1.0 / 2.0) / (1.0 / 5.0))
    assert(rows("s1").getLong(1) === 2L && rows("s1").getLong(2) === 3L)
    assert(rows("s1").getDouble(3) === r6(kl1), s"${rows("s1")}")
    assert(rows("s2").getDouble(3) === r6(kl2), s"${rows("s2")}")
    // both supports cover a + one hapax: 4/5 of corpus mass
    assert(rows("s1").getDouble(4) === 0.8 && rows("s2").getDouble(4) === 0.8)
    // a source identical to the corpus has KL exactly 0 (single source)
    val dir2 = java.nio.file.Files.createTempDirectory("graft_kl0").toString
    Seq((0L, "a a b", "only"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir2/documents.parquet")
    val solo = graft.SparkEntry.queries("q_kl_divergence")(spark, dir2).head
    assert(solo.getDouble(3) === 0.0 && solo.getDouble(4) === 1.0, s"$solo")
  }

  test("readability: hand-counted words/sentences/syllables hit both scores") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_fre").toString
    // 6 words, 2 sentence runs, 6 vowel groups ⇒ W/S = 3, Syl/W = 1:
    // FRE = 206.835 − 1.015·3 − 84.6 = 119.19, FKGL = 1.17 + 11.8 − 15.59
    Seq((0L, "The cat sat. The cat ran!", "s"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    val r = graft.SparkEntry.queries("q_readability")(spark, dir).head
    assert(r.getLong(1) === 1L && r.getLong(2) === 6L &&
      r.getLong(3) === 2L && r.getLong(4) === 6L, s"censuses: $r")
    assert(r.getDouble(5) === 119.19, s"flesch: $r")
    assert(r.getDouble(6) === -2.62, s"fk grade: $r")
  }

  test("duplicate 8-gram spans and Kish ESS follow their closed forms") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dng").toString
    // two 9-token docs sharing their first 8-gram; the trailing 8-grams
    // differ — per doc: 2 grams, 1 duplicated ⇒ share 0.5
    Seq((0L, "a b c d e f g h i", "s"), (1L, "a b c d e f g h z", "s"),
        (2L, "too short", "s"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    val d = graft.SparkEntry.queries("q_dup_ngram_spans")(spark, dir).head
    assert(d.getLong(1) === 2L, s"the 2-token doc holds no 8-gram: $d")
    assert(d.getLong(2) === 4L && d.getLong(3) === 2L)
    assert(d.getDouble(4) === 0.5, s"dup share: $d")
    val e = graft.SparkEntry.queries("q_ess_weights")(spark, dir).head
    // weights = n_chars (17, 17, 9): ESS = 43^2/(289+289+81)
    assert(e.getLong(1) === 3L && e.getLong(2) === 43L)
    val ess = 43.0 * 43.0 / 659.0
    assert(e.getDouble(3) === math.floor(ess * 100 + 0.500001) / 100, s"$e")
    assert(e.getDouble(4) === math.floor(ess / 3.0 * 1e6 + 0.500001) / 1e6)
  }

  test("textStats counts chars, tokens, bpe-ish tokens, punctuation") {
    val r = TextOps.textStats(docs).orderBy("doc_id").collect()
    assert(r(0).getAs[Long]("char_len") == 45L)
    assert(r(0).getAs[Long]("n_tokens") == 9L)
    assert(r(0).getAs[Long]("n_bpe_tokens") == 11L)  // 9 words + ',' + '!'
    assert(r(0).getAs[Long]("n_punct") == 2L)
    assert(r(1).getAs[Long]("n_tokens") == 3L)
    assert(r(2).getAs[Long]("n_tokens") == 1L)
  }

  test("qualityScore: stopword ratio and gates") {
    val r = TextOps.qualityScore(docs).orderBy("doc_id").collect()
    // doc 0 tokens: the quick brown fox, jumps over the lazy dog! → 'the' ×2
    assert(r(0).getAs[Long]("n_stopwords") == 2L)
    assert(math.abs(r(0).getAs[Double]("stop_ratio") - 2.0 / 9) < 1e-9)
    assert(r(0).getAs[Long]("quality_ok") == 1L)
    assert(r(2).getAs[Long]("quality_ok") == 0L)  // 1 token, 4 chars
  }

  test("fingerprint: deterministic, subset-stable under winnowing") {
    val f1 = TextOps.fingerprint(docs).orderBy("doc_id").collect()
    val f2 = TextOps.fingerprint(docs).orderBy("doc_id").collect()
    assert(f1.map(_.getSeq[Long](1)).toSeq == f2.map(_.getSeq[Long](1)).toSeq)
    // identical prefix docs share fingerprints: winnowing guarantees overlap
    import spark.implicits._
    val pair = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (11L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"))
      .toDF("doc_id", "text")
    val fps = TextOps.fingerprint(pair).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert((fps(10L) & fps(11L)).nonEmpty)
  }

  test("native winnow_fp kernel matches the HOF composition exactly") {
    // same xxhash64 seed-42 k-gram hashes, same window mins — the kernel is
    // a drop-in replacement, verified on real corpus text
    val corpus = spark.read.parquet(s"${graft.TestData.Sf0001}/documents.parquet")
    val native = TextOps.fingerprint(corpus).orderBy("doc_id").collect()
    val hof = TextOps.fingerprintHof(corpus).orderBy("doc_id").collect()
    assert(native.length == hof.length && native.length > 0)
    native.zip(hof).foreach { case (n, h) =>
      assert(n.getLong(0) == h.getLong(0))
      assert(n.getSeq[Long](1) == h.getSeq[Long](1), s"doc ${n.getLong(0)} differs")
    }
  }

  test("langId returns one prediction per doc from the label set") {
    val out = TextOps.langId(docs, docs).collect()
    assert(out.length == 3)
    val langs = docs.select("lang").distinct().collect().map(_.getString(0)).toSet
    out.foreach(r => assert(langs.contains(r.getAs[String]("lang_pred"))))
  }

  test("model-scoring langId matches the join-based formulation on real docs") {
    val corpus = graft.io.Sources.table(spark, graft.TestData.Sf0001, "documents")
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang_pred")).toMap
    val model = asMap(TextOps.langId(corpus, corpus))
    val joined = asMap(TextOps.langIdJoin(corpus, corpus))
    assert(model.keySet == joined.keySet)
    val diffs = model.keys.filter(k => model(k) != joined(k))
    assert(diffs.isEmpty, s"predictions differ for docs: ${diffs.take(5)}")
  }

  test("langId honors a non-default n-gram width (model vs join parity at n=4)") {
    val corpus = graft.io.Sources.table(spark, graft.TestData.Sf0001, "documents")
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang_pred")).toMap
    val model = asMap(TextOps.langId(corpus, corpus, n = 4))
    val joined = asMap(TextOps.langIdJoin(corpus, corpus, n = 4))
    assert(model.nonEmpty, "n=4 scoring must not silently return empty")
    assert(model == joined, "n=4 predictions must match the join form")
  }

  test("redactPii scrubs every planted pattern and leaves clean text alone") {
    import spark.implicits._
    val docs = Seq(
      (1L, "mail me at jo.ann+x@sub.example.co.uk thanks"),
      (2L, "call +4915123456789 or 10.0.42.7 tonight"),
      (3L, "card 4242424242424242 on file"),
      (4L, "nothing sensitive here at all")).toDF("doc_id", "text")
    val out = TextOps.redactPii(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "mail me at <EMAIL> thanks")
    assert(out(2L) == "call <PHONE> or <IP> tonight")
    assert(out(3L) == "card <CARD> on file")
    assert(out(4L) == "nothing sensitive here at all")
    val counts = docs.select(col("doc_id"), TextOps.piiCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == Map(1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 0L))
  }

  test("piiCount equals the replacements redactPii performs on overlapping matches") {
    import spark.implicits._
    // a 16-digit run inside an email local-part: the email replace consumes
    // it, so only ONE redaction happens — raw-pattern counting would say 2
    val docs = Seq(
      (1L, "pay x4242424242424242@bank.example.com today"),
      // ip-shaped string inside the phone digits? the '+' run is matched
      // first; the residual text has no ip left
      (2L, "dial +19216801001234 now")).toDF("doc_id", "text")
    val counts = docs.select(col("doc_id"), TextOps.piiCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == Map(1L -> 1L, 2L -> 1L),
      s"audit count must match performed redactions, got $counts")
    val redacted = TextOps.redactPii(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(redacted(1L) == "pay <EMAIL> today")
    assert(redacted(2L) == "dial <PHONE> now")
  }

  test("lmScore: hand-computed smoothing on a tiny corpus, unseen floor") {
    import spark.implicits._
    val train = Seq((0L, "aaab")).toDF("doc_id", "text") // grams: aaa, aab → N=2, V=2
    val docs = Seq((1L, "aaa"), (2L, "zzz")).toDF("doc_id", "text")
    val out = TextOps.lmScore(docs, train).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // "aaa": one gram, c=1 → ln(2) − ln(4) = −ln 2
    assert(out(1L)._1 == 1L)
    assert(math.abs(out(1L)._2 - (math.log(2) - math.log(4))) < 1e-12)
    // unseen-only doc scores exactly −ln(N+V): the smoothing floor
    assert(math.abs(out(2L)._2 - (-math.log(4))) < 1e-12)
  }

  test("lmScore kernel matches the join-based formulation on real docs") {
    val d = graft.io.Sources.table(spark, graft.TestData.Sf0001, "documents")
    val train = d.where(col("doc_id") % 10 < 8)
    val kernel = TextOps.lmScore(d, train)
    // built-ins-only cross-check: explode grams, left-join the profile,
    // same decomposition Σ ln(c+1) − L·ln(N+V)
    val prof = train.select(explode(TextOps.charNgrams(col("text"))).as("g"))
      .groupBy("g").agg(count(lit(1)).as("c"))
    val (nTot, vTot) = {
      val r = prof.agg(sum("c"), count(lit(1))).head(); (r.getLong(0), r.getLong(1))
    }
    val joined = d.select(col("doc_id"), explode(TextOps.charNgrams(col("text"))).as("g"))
      .join(prof, Seq("g"), "left")
      .groupBy("doc_id")
      .agg(sum(log(coalesce(col("c"), lit(0L)) + 1.0)).as("s"), count(lit(1)).as("l"))
      .select(col("doc_id"),
        ((col("s") - col("l") * math.log((nTot + vTot).toDouble)) / col("l")).as("ref"))
    val delta = kernel.join(joined, "doc_id")
      .agg(max(abs(col("avg_logprob") - col("ref")))).head().getDouble(0)
    assert(delta < 1e-9, s"kernel diverges from join form: max |d| = $delta")
  }

  test("lmScore is a shuffle-free projection") {
    import spark.implicits._
    val d = Seq((0L, "the quick brown fox"), (1L, "lazy dog sleeps")).toDF("doc_id", "text")
    val scored = TextOps.lmScore(d, d)
    val plan = scored.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"LM scoring must not shuffle:\n$plan")
    assert(scored.count() == 2)
  }

  test("decontaminate flags exactly the docs sharing an n-gram with the benchmark") {
    import spark.implicits._
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "clean words only nothing shared with anything benchmarked here"),
      // full 8-gram of the benchmark embedded mid-document
      (2L, "prefix alpha beta gamma delta epsilon zeta eta theta suffix"),
      // 7-token overlap only — below the n=8 window, must NOT flag
      (3L, "alpha beta gamma delta epsilon zeta eta mismatch"))
      .toDF("doc_id", "text")
    val flags = TextOps.decontaminate(corpus, bench, n = 8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flags == Map(1L -> 0L, 2L -> 1L, 3L -> 0L))
  }

  test("packSequences fills per-partition packs by starting offset, never globally") {
    import spark.implicits._
    // 3 docs of 4 tokens in one source: budget 8 → offsets 0,4,8 → packs 0,0,1
    val docs = Seq(
      (1L, "a b c d", "s1"), (2L, "e f g h", "s1"), (3L, "i j k l", "s1"),
      (4L, "m n o p", "s2")).toDF("doc_id", "text", "source")
    val packs = TextOps.packSequences(docs, budget = 8).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("pack_id"))).toMap
    assert(packs == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 0L),
      s"unexpected packing: $packs")
  }

  // ---- BPE train + apply ---------------------------------------------------

  test("trainBpe hand-trace: merge order, tie-break, and exact segmentation") {
    import spark.implicits._
    // corpus: aaab ×3, aab ×1 → pair counts (a,a)=7, (a,b)=4 ⇒ merge 1 =
    // (a,a); round 2 ties (aa,a)=3 with (a,b)=3 ⇒ lexicographic smallest
    // (a,b) wins; round 3 fuses (aa,ab)
    val docs = (Seq.fill(3)("aaab") :+ "aab").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val model = TextOps.trainBpe(docs, numMerges = 3)
    assert(model.merges.toSeq === Seq(("a", "a"), ("a", "b"), ("aa", "ab")))
    assert(model.segmentWord("aaab").toSeq === Seq("aaab"))
    assert(model.segmentWord("aab").toSeq === Seq("aa", "b"))
    assert(model.segmentWord("ba").toSeq === Seq("b", "a")) // no applicable merge
    assert(model.tokenCount(
      org.apache.spark.unsafe.types.UTF8String.fromString("aaab aab")) === 3L)
  }

  test("trainBpe maxVocabWords cap: no-op when vocab fits, head-equivalent beyond") {
    import spark.implicits._
    val docs = (Seq.fill(3)("aaab") :+ "aab").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    // vocab = {aaab, aab} fits in any K ≥ 2 → the prune is a provable no-op
    val uncapped = TextOps.trainBpe(docs, numMerges = 3)
    val roomy = TextOps.trainBpe(docs, numMerges = 3, maxVocabWords = 2)
    assert(roomy.merges.toSeq === uncapped.merges.toSeq)
    // head-heavy fixture with vocab = 4 > K = 2: the cap must keep the
    // top-2 by (count desc, word) — {xxxy ×5, xxy ×4} — and train merges
    // identical to a corpus containing ONLY that frequency head
    val heavy = (Seq.fill(5)("xxxy") ++ Seq.fill(4)("xxy") ++
        Seq.fill(2)("zz") :+ "qq").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val capped = TextOps.trainBpe(heavy, numMerges = 3, maxVocabWords = 2)
    val headOnly = (Seq.fill(5)("xxxy") ++ Seq.fill(4)("xxy")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val fromHead = TextOps.trainBpe(headOnly, numMerges = 3)
    assert(capped.merges.toSeq === fromHead.merges.toSeq,
      s"capped ${capped.merges.toSeq} vs head ${fromHead.merges.toSeq}")
    // the zz/qq tail must be invisible: no merge touches z or q
    assert(!capped.merges.exists { case (a, b) =>
      (a + b).exists(c => c == 'z' || c == 'q') })
    intercept[IllegalArgumentException] {
      TextOps.trainBpe(docs, numMerges = 1, maxVocabWords = 0)
    }
  }

  test("BPE kernel matches the driver apply on real docs; merges are monotone") {
    val docs = graft.io.Sources.table(spark, graft.TestData.Sf0001, "documents")
      .limit(50)
    val m20 = TextOps.trainBpe(docs, numMerges = 20)
    val viaKernel = TextOps.bpeTokenCounts(docs, m20)
      .select("doc_id", "n_subwords").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val texts = docs.select("doc_id", "text").collect()
    texts.foreach { r =>
      val want = m20.tokenCount(
        org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(1)))
      assert(viaKernel(r.getLong(0)) === want, s"doc ${r.getLong(0)}")
    }
    // a superset merge list can only fuse further: first-K ranks are an
    // identical prefix, so per-doc counts are monotone non-increasing in K
    val m5 = TextOps.trainBpe(docs, numMerges = 5)
    val via5 = TextOps.bpeTokenCounts(docs, m5)
      .select("doc_id", "n_subwords").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    viaKernel.foreach { case (id, n20) =>
      assert(n20 <= via5(id), s"doc $id: 20 merges produced MORE tokens than 5")
    }
  }

  test("q_bpe_tokenize plan: one shuffle-free scan — no explode, no hash exchange") {
    spark.catalog.clearCache()
    val p = graft.SparkEntry.queries("q_bpe_tokenize")(spark, graft.TestData.Sf0001)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Generate"), s"corpus must not explode into words:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"scoring must be shuffle-free (dump sort aside):\n$p")
  }

  // ---- dsirSelect ----------------------------------------------------------

  private def dsirCorpus = {
    import spark.implicits._
    // ten target-like docs, ten far-from-target docs, distinct texts
    ((1L to 10L).map(i => (i, s"alpha beta gamma $i")) ++
      (11L to 20L).map(i => (i, s"zq xv wk jr $i")))
      .toDF("doc_id", "text")
  }

  test("dsirSelect: llr separates target-like docs; k over corpus returns all") {
    val docs = dsirCorpus
    val target = docs.where(col("doc_id") <= 10L)
    val all = TextOps.dsirSelect(docs, target, k = 100).collect()
    assert(all.length === 20)
    val llr = all.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val worstTarget = (1L to 10L).map(llr).min
    val bestOther = (11L to 20L).map(llr).max
    assert(worstTarget > bestOther,
      s"target-like docs must out-score: min-target $worstTarget ≤ max-other $bestOther")
  }

  test("dsirSelect is deterministic, partition-invariant, and k-monotone") {
    val docs = dsirCorpus
    val target = docs.where(col("doc_id") <= 10L)
    def ids(d: org.apache.spark.sql.DataFrame, k: Int) =
      TextOps.dsirSelect(d, target, k).collect().map(_.getLong(0)).toSet
    val k5 = ids(docs, 5)
    assert(k5 === ids(docs.repartition(7), 5), "selection must be content-addressed")
    // Gumbel top-k with fixed keys: a larger draw extends, never replaces
    assert(k5.subsetOf(ids(docs, 9)))
  }

  test("q_dsir_select plan: broadcast kernels, TakeOrdered heap, join-free") {
    spark.catalog.clearCache()
    val p = graft.SparkEntry.queries("q_dsir_select")(spark, graft.TestData.Sf0001)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"dsir scoring must not join:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"selection must be a distributed k-heap, not a global sort:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"scoring must be shuffle-free:\n$p")
  }

  // ---- q_zipf --------------------------------------------------------------

  test("zipf fit: an exact power law recovers slope -1 with r2 = 1") {
    import spark.implicits._
    // frequencies 720/k for k = 1..6 are all integers, so ln f is EXACTLY
    // ln 720 - 1 * ln rank and the OLS fit is closed-form
    val text = (1 to 6).flatMap(k => Seq.fill(720 / k)(s"t$k")).mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft_zipf").toString
    Seq((0L, text, "en", "s0", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val r = graft.SparkEntry.queries("q_zipf")(spark, dir).head
    assert(r.getLong(0) === 6L && r.getLong(1) === 6L)
    assert(math.abs(r.getDouble(2) - (-1.0)) < 1e-3, s"slope ${r.getDouble(2)}")
    assert(math.abs(r.getDouble(3) - math.log(720.0)) < 1e-3,
      s"intercept ${r.getDouble(3)} != ln 720")
    assert(math.abs(r.getDouble(4) - 1.0) < 1e-6, s"r2 ${r.getDouble(4)}")
  }

  test("q_zipf plan: TakeOrdered head, no global sort of the vocab") {
    spark.catalog.clearCache()
    val p = graft.SparkEntry.queries("q_zipf")(spark, graft.TestData.Sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"top-1000 head must be a distributed heap:\n$p")
  }

  // ---- q_dup_rate_by_source -------------------------------------------------

  test("dup-rate scorecard: cross-source copies charge the copier, not the origin") {
    import spark.implicits._
    // srcA: 3 originals; srcB: 2 verbatim copies of A's first doc + 1
    // original — the copies charge srcB (global min-id keeper is in A)
    val docs = Seq(
      (1L, "alpha text", "srcA"), (2L, "beta text", "srcA"),
      (3L, "gamma text", "srcA"),
      (10L, "alpha text", "srcB"), (11L, "alpha text", "srcB"),
      (12L, "delta text", "srcB"))
      .toDF("doc_id", "text", "source")
    val dir = java.nio.file.Files.createTempDirectory("graft_dup").toString
    docs.write.parquet(s"$dir/documents.parquet")
    val rows = graft.SparkEntry.queries("q_dup_rate_by_source")(spark, dir)
      .collect().map(r => r.getString(0) -> r).toMap
    val a = rows("srcA"); val b = rows("srcB")
    assert(a.getLong(1) === 3L && a.getLong(3) === 0L &&
      a.getDouble(4) === 1.0, s"origin keeps everything: $a")
    assert(b.getLong(1) === 3L && b.getLong(2) === 2L &&
      b.getLong(3) === 2L, s"both copies charge srcB: $b")
    def r6d(x: Double) = math.floor(x * 1e6 + 0.500001) / 1e6
    assert(b.getDouble(4) === r6d(1.0 / 3.0))
  }

  // ---- q_term_burstiness ----------------------------------------------------

  test("term burstiness: a clumping term disperses, a uniform term approaches Poisson") {
    import spark.implicits._
    // "spam" appears 10× in each of 2 docs (clumped); "the" once in each
    // of 20 docs (uniform): with N = 20, dispersion(spam) = (100·2/20 −
    // 1²)/1 = 9, dispersion(the) = (20/20 − 1²)/1 = 0
    val docs = (0 until 20).map { i =>
      val text = if (i < 2) ("spam " * 10).trim + " the" else "the filler words"
      (i.toLong, text)
    }.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_burst").toString
    docs.write.parquet(s"$dir/documents.parquet")
    val rows = graft.SparkEntry.queries("q_term_burstiness")(spark, dir)
      .collect().map(r => r.getString(0) -> r).toMap
    val spam = rows("spam")
    assert(spam.getLong(1) === 2L && spam.getLong(2) === 20L)
    assert(spam.getDouble(3) === 1.0 && spam.getDouble(4) === 9.0)
    assert(spam.getLong(5) === 1L, s"clumping must flag bursty: $spam")
    val the = rows("the")
    assert(the.getLong(1) === 20L && the.getDouble(4) === 0.0)
    assert(the.getLong(5) === 0L, s"uniform term is not bursty: $the")
  }

  // ---- q_collocation_pmi ----------------------------------------------------

  test("collocation PMI: a deterministic bigram corpus scores the exact closed form") {
    import spark.implicits._
    // "a b" ×4 and "c d" ×2 as separate docs: N = 12 tokens, Nb = 6
    // bigrams; PMI(a,b) = ln(4·12²/(6·4·4)) = ln 6
    val docs = (Seq.fill(4)("a b") ++ Seq.fill(2)("c d")).zipWithIndex
      .map { case (t0, i) => (i.toLong, t0) }.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_pmi").toString
    docs.write.parquet(s"$dir/documents.parquet")
    val rows = graft.SparkEntry.queries("q_collocation_pmi")(spark, dir)
      .collect()
    assert(rows.length === 2)
    val ab = rows.find(r => r.getString(0) == "a").get
    assert(ab.getLong(2) === 4L && ab.getLong(3) === 4L && ab.getLong(4) === 4L)
    def r6d(x: Double) = math.floor(x * 1e6 + 0.500001) / 1e6
    assert(ab.getDouble(5) === r6d(math.log(6.0)), s"PMI(a,b) = ln 6: $ab")
    val cd = rows.find(r => r.getString(0) == "c").get
    assert(cd.getDouble(5) === r6d(math.log(12.0)), s"PMI(c,d) = ln 12: $cd")
  }

  test("collocation PMI on real data: 20 rows, support-ordered, counts consistent") {
    val rows = graft.SparkEntry.queries("q_collocation_pmi")(
      spark, graft.TestData.Sf0001).collect()
    assert(rows.length === 20)
    val supports = rows.map(_.getLong(2)).toSeq
    assert(supports.sliding(2).forall(p => p(0) >= p(1)), "support-ordered")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(3) && r.getLong(2) <= r.getLong(4),
        s"pair support cannot exceed either unigram count: $r")
    }
  }

  // ---- q_rake_keywords ------------------------------------------------------

  test("RAKE: closed-form phrases, deg/freq scores, the >4-word cap, ordering") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_rake").toString
    // doc 0 splits at ',' then at stopwords 'of'/'and' into phrases
    // [deep learning][deep networks][fast learning]; doc 1 at 'is' into
    // [deep learning]x2; doc 2 is a 5-word stopword-free run -> dropped
    // whole by the 4-word cap (neither phrase nor word stats)
    Seq(
      (0L, "deep learning of deep networks, and fast learning", "s"),
      (1L, "deep learning is deep learning", "s"),
      (2L, "one two three four five", "s"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    val out = graft.SparkEntry.queries("q_rake_keywords")(spark, dir).collect()
    // word stats: deep f4 d8, learning f4 d8, networks f1 d2, fast f1 d2
    // -> every word scores 2.0, every 2-word phrase 4.0
    assert(out.map(_.getString(0)).toSeq ===
      Seq("deep learning", "deep networks", "fast learning"),
      s"phrase set + (score, n_occ, phrase) order: ${out.toSeq}")
    assert(out.forall(_.getDouble(3) === 4.0), s"deg/freq algebra: ${out.toSeq}")
    val byPhrase = out.map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(byPhrase("deep learning") === 3L, "three instances across docs")
    assert(out.forall(_.getLong(1) === 2L))
    assert(!out.exists(_.getString(0).contains("one")),
      "the 5-word run must be dropped by the cap")
  }

  // ---- q_ppl_buckets --------------------------------------------------------

  test("ppl buckets: tertiles partition each source with NTILE sizes and ordered scores") {
    val sf = graft.TestData.Sf0001
    val out = graft.SparkEntry.queries("q_ppl_buckets")(spark, sf).collect()
    assert(out.nonEmpty)
    val bySource = out.groupBy(_.getString(0))
    val docTotals = graft.io.Sources.table(spark, sf, "documents")
      .groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    bySource.foreach { case (src, rows) =>
      // partition: bucket sizes sum to the source's doc count and differ
      // by at most 1 (the NTILE contract ntileOf re-derives)
      val sizes = rows.map(_.getLong(2))
      assert(sizes.sum === docTotals(src), s"$src buckets must partition")
      if (rows.length == 3)
        assert(sizes.max - sizes.min <= 1, s"$src NTILE sizes: ${sizes.toSeq}")
      // order: head's worst score is no worse than middle's best, etc.
      val byB = rows.map(r => r.getString(1) -> r).toMap
      for ((hi, lo) <- Seq("head" -> "middle", "middle" -> "tail"))
        (byB.get(hi), byB.get(lo)) match {
          case (Some(h), Some(l)) =>
            assert(h.getDouble(4) >= l.getDouble(5),
              s"$src: $hi min_lp must be >= $lo max_lp")
            assert(h.getDouble(3) >= l.getDouble(3),
              s"$src: $hi mean must be >= $lo mean")
          case _ => ()
        }
      // mean sits inside [min, max]
      rows.foreach(r => assert(
        r.getDouble(3) >= r.getDouble(4) - 1e-9 &&
          r.getDouble(3) <= r.getDouble(5) + 1e-9,
        s"mean outside [min,max]: $r"))
    }
  }

  test("q_ppl_buckets plan: no small-key Window over the data-sized frame") {
    // the PlanSpec r11 gate shape: a Window may be (a) multi-key — the
    // (source, bucket) ranking window — or (b) single-key over an
    // Aggregate-bounded child (the offsets frame); a single-key Window
    // directly over the data-sized frame is the hot-lane shape NTILE
    // over 'source' would have planned
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate => LAggregate, Window => LWindow}
    val lp = graft.SparkEntry.queries("q_ppl_buckets")(
      spark, graft.TestData.Sf0001).queryExecution.optimizedPlan
    val hot = lp.collect {
      case w: LWindow if w.partitionSpec.size < 2 &&
        w.child.collectFirst { case a: LAggregate => a }.isEmpty => w
    }
    assert(hot.isEmpty, s"hot-lane Window shape: $hot")
  }
}
