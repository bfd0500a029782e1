package graft.operators

import graft.{SparkSpec, SparkEntry}
import org.apache.spark.sql.functions._

/** Semantic invariants + plan-shape gates for the curation operator family
  * (Curation.scala). The DuckDB hash gate pins exact values; these tests
  * pin the properties that make the answers RIGHT (coverage, exact strata
  * arithmetic, bucket monotonicity, dedup idempotence) and the plan shapes
  * that make them scale (shuffle counts, no global-order window, broadcast
  * of the stats row).
  */
class CurationSpec extends SparkSpec {

  private val sf = graft.TestData.Sf0001

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  private def plan(name: String): String = {
    spark.catalog.clearCache()
    run(name).queryExecution.executedPlan.toString
  }

  // ---- q_doc_chunk --------------------------------------------------------

  test("doc_chunk covers every token exactly: stride arithmetic, no gaps") {
    val docs = graft.io.Sources.table(spark, sf, "documents")
      .select(col("doc_id"),
        size(graft.text.TextOps.tokens(col("text"))).as("n"))
    val chunks = run("q_doc_chunk")
    val joined = chunks.groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        max(col("chunk_start") + col("chunk_len") - 1).as("last_tok"),
        min("chunk_start").as("first_tok"))
      .join(docs, "doc_id")
    // chunk count = ceil(n / stride); chunks start at 1 and the last chunk
    // reaches exactly token n — full coverage, no overshoot
    val bad = joined.where(
      col("n_chunks") =!= ceil(col("n").cast("double") / Curation.ChunkStride).cast("long") ||
      col("first_tok") =!= 1L || col("last_tok") =!= col("n")).count()
    assert(bad === 0)
    // every full chunk is exactly ChunkSize tokens of text
    val full = chunks.where(col("chunk_len") === Curation.ChunkSize)
      .where(size(split(col("chunk_text"), " ")) =!= Curation.ChunkSize).count()
    assert(full === 0)
  }

  test("doc_chunk plan has zero shuffles (pure scan + generate)") {
    val p = plan("q_doc_chunk")
    // the trailing orderBy is the only Exchange (range, for the oracle's
    // deterministic dump); the chunking itself must not shuffle
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1, s"chunking shuffled:\n$p")
    assert(p.contains("Generate"), s"expected explode Generate:\n$p")
  }

  // ---- q_stratified_sample ------------------------------------------------

  test("stratified sample draws EXACTLY ceil(f*n) per stratum") {
    val docs = graft.io.Sources.table(spark, sf, "documents")
    val perSrc = docs.groupBy("source").agg(count(lit(1)).as("n"))
    val got = run("q_stratified_sample").groupBy("source")
      .agg(count(lit(1)).as("k"))
    val bad = got.join(perSrc, "source")
      .where(col("k") =!= ceil(col("n") * Curation.StratFraction).cast("long"))
      .count()
    assert(bad === 0)
  }

  test("stratified sample: one shuffle, shared window partition spec") {
    val p = plan("q_stratified_sample")
    // hashpartitioning(source) once for both window functions + the final
    // range exchange for orderBy — anything more means the two windows
    // stopped sharing their Exchange
    val hashEx = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(hashEx === 1, s"expected 1 hash exchange, got $hashEx:\n$p")
  }

  // ---- q_quantile_bucket --------------------------------------------------

  test("quantile buckets are monotone, complete, and roughly balanced") {
    val rows = run("q_quantile_bucket").collect()
    val buckets = rows.map(_.getLong(0))
    assert(buckets.toSeq === buckets.sorted.toSeq && buckets.forall(b => b >= 1 && b <= 10))
    // monotone value ranges: bucket i's max <= bucket i+1's min
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(3) <= b.getLong(2),
        s"bucket ranges overlap: ${a.getLong(0)} max=${a.getLong(3)} vs ${b.getLong(0)} min=${b.getLong(2)}")
      case _ => ()
    }
    val total = rows.map(_.getLong(1)).sum
    val docs = graft.io.Sources.table(spark, sf, "documents").count()
    assert(total === docs)
  }

  test("quantile bucket plan broadcasts the cut row — no global-order window") {
    val p = plan("q_quantile_bucket")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"cuts not broadcast:\n$p")
    assert(!p.contains("Window"), s"ntile-style global window crept in:\n$p")
  }

  // ---- q_bm25 -------------------------------------------------------------

  test("bm25: zero-match docs score 0, term-bearing docs score positive") {
    val d = graft.io.Sources.table(spark, sf, "documents")
      .select(col("doc_id"),
        graft.text.TextOps.tokens(lower(col("text"))).as("toks"))
      .select(col("doc_id"),
        Curation.Bm25Terms.map(t =>
          array_contains(col("toks"), t).cast("int")).reduce(_ + _).as("hits"))
    val joined = run("q_bm25").join(d, "doc_id")
    assert(joined.where(col("hits") === 0 && col("bm25") =!= 0.0).count() === 0)
    assert(joined.where(col("hits") > 0 && col("bm25") <= 0.0).count() === 0)
    // idf is positive for non-degenerate df, so every score is finite >= 0
    assert(joined.where(col("bm25") < 0.0 || isnan(col("bm25"))).count() === 0)
  }

  test("bm25 plan: stats reduce to one broadcast row, no row-expanding join") {
    val p = plan("q_bm25")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"corpus stats not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected shuffle join:\n$p")
  }

  // ---- q_vocab_growth -----------------------------------------------------

  test("vocab growth: ttr in (0,1], distinct <= total, all sources present") {
    val rows = run("q_vocab_growth").collect()
    val nSources = graft.io.Sources.table(spark, sf, "documents")
      .select("source").distinct().count()
    assert(rows.length.toLong === nSources)
    rows.foreach { r =>
      val (tok, term, ttr) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(term <= tok && ttr > 0.0 && ttr <= 1.0, s"bad row $r")
    }
  }

  // ---- q_column_profile ---------------------------------------------------

  test("column profile: sane bounds, loud failure on unknown column") {
    val rows = run("q_column_profile").collect()
    assert(rows.length === 6)
    rows.foreach { r =>
      val (n, nn, nd) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nn >= 0 && nn <= n && nd >= 1 && nd <= n, s"bad profile row $r")
      // values render as strings (shared profile schema) — non-null here
      // because orders has no all-null column
      assert(!r.isNullAt(4) && !r.isNullAt(5), s"null min/max in $r")
    }
    val e = intercept[IllegalArgumentException] {
      Profile.columnProfile(
        graft.io.Sources.table(spark, sf, "orders"), Seq("no_such_col"))
    }
    assert(e.getMessage.contains("no_such_col"))
  }

  test("column profile plan: narrow pruned scans, hash-aggregated distincts") {
    val p = plan("q_column_profile")
    // each distinct branch must scan ONLY its own column (columnar
    // pruning makes N+1 scans cost one wide scan's bytes) — a branch
    // reading two columns means pruning broke
    val perColumn = p.linesIterator
      .filter(_.contains("ReadSchema: struct<o_"))
      .count(s => s.substring(s.indexOf("struct<")).count(_ == ':') == 1)
    assert(perColumn >= 6, s"distinct branches read unpruned columns:\n$p")
    // the r6 regression this shape replaced: a multi-distinct Expand whose
    // string min/max buffers forced SortAggregate over 19-col tuples
    // (measured 3× at sf0.1) — neither node may reappear
    assert(!p.contains("Expand"), s"multi-distinct Expand came back:\n$p")
    // keyless SortAggregate (the widths pass: string min/max buffers, one
    // row per partition) is harmless; a KEYED one means the distinct
    // branches fell out of HashAggregate again
    assert(!"SortAggregate\\(key=\\[[^\\]]".r.findFirstIn(p).isDefined,
      s"keyed aggregation left HashAggregate:\n$p")
  }

  // ---- q_semdedup ---------------------------------------------------------

  test("semdedup: kept/dropped partition the corpus, contract flags hold") {
    import graft.similarity.Ann
    val emb = graft.io.Sources.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val planted = emb.where(col("vec_id") % 7 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val corpus = emb.unionByName(planted)
    val (assigned, dropped) = Ann.semDedupParts(corpus, nlist = 8)
    val kept = assigned.join(dropped, Seq("vec_id"), "left_anti")
    // partition: every corpus row is kept xor dropped (dropped ⊆ corpus)
    assert(kept.count() + dropped.count() === corpus.count())
    assert(dropped.join(corpus, Seq("vec_id"), "left_anti").count() === 0)
    // every planted copy has its identical original (lower id, same cell,
    // cos = 1) — all must drop; survivors are non-empty
    assert(kept.where(col("vec_id") >= 1000000L).count() === 0)
    assert(kept.count() > 0)
    // the full envelope row
    val r = run("q_semdedup").collect()
    assert(r.length === 1)
    assert(r(0).getLong(0) > r(0).getLong(1) && r(0).getLong(1) > 0)
    assert(r(0).getLong(2) === 1L, "planted copy survived")
    assert(r(0).getLong(3) === 1L, "same-cell duplicate pair kept")
  }

  test("semdedup plan: cell equi-join only, no cartesian product") {
    val p = plan("q_semdedup")
    assert(!p.contains("CartesianProduct"), s"cross join crept in:\n$p")
  }

  // ---- q_dedup_keep_best --------------------------------------------------

  test("keep-best keeps exactly one doc per content hash, highest quality") {
    val out = run("q_dedup_keep_best")
    val docs = graft.io.Sources.table(spark, sf, "documents")
    // planted exact copy: every cluster has >= 2 members, keeper count ==
    // distinct text count, and every keeper is an ORIGINAL id (the copy at
    // +1e6 has identical n_chars and loses the doc_id tiebreak)
    assert(out.count() === docs.select(md5(col("text"))).distinct().count())
    assert(out.where(col("doc_id") >= 1000000L).count() === 0)
    // idempotence: re-deduping the keepers' texts changes nothing
    val keeperTexts = out.join(docs, "doc_id").select(md5(col("text")).as("h"))
    assert(keeperTexts.distinct().count() === keeperTexts.count())
  }

  // ---- q_bpe_pairs --------------------------------------------------------

  test("bpe pairs: counts match a driver recount, order deterministic") {
    val out = run("q_bpe_pairs").collect()
    assert(out.length === 20)
    // descending by count, pair-string tiebreak
    out.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(1) > b.getLong(1) ||
        (a.getLong(1) == b.getLong(1) && a.getString(0) < b.getString(0)))
    }
    // driver brute force over the tiny corpus
    val texts = graft.io.Sources.table(spark, sf, "documents")
      .select(lower(col("text"))).collect().map(_.getString(0))
    val counts = scala.collection.mutable.Map.empty[String, Long]
    texts.foreach { t =>
      val toks = t.trim.split("\\s+")
      toks.sliding(2).filter(_.length == 2)
        .foreach(p => counts(p.mkString(" ")) = counts.getOrElse(p.mkString(" "), 0L) + 1)
    }
    out.foreach(r => assert(counts(r.getString(0)) === r.getLong(1),
      s"count mismatch for pair '${r.getString(0)}'"))
    // the emitted 20 really are the global maxima
    val floor20 = out.map(_.getLong(1)).min
    assert(counts.values.count(_ > floor20) < 20)
  }

  test("bpe pairs plan: no shuffle before the pair aggregate's partial side") {
    val p = plan("q_bpe_pairs")
    // scan → generate(explode) → partial agg must happen before the single
    // hash Exchange; top-k must be TakeOrdered, not Sort+Limit
    assert(p.contains("TakeOrderedAndProject"), s"global sort for top-k:\n$p")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx <= 1, s"pair counting shuffled more than once:\n$p")
  }

  // ---- q_dataset_card -----------------------------------------------------

  test("dataset card: shares sum to 1, totals conserved") {
    val rows = run("q_dataset_card").collect()
    assert(rows.nonEmpty)
    val shareSum = rows.map(_.getDouble(5)).sum
    assert(math.abs(shareSum - 1.0) < 1e-2, s"token shares sum to $shareSum")
    val nDocs = rows.map(_.getLong(1)).sum
    assert(nDocs === graft.io.Sources.table(spark, sf, "documents").count())
    rows.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1), "fewer tokens than docs")
      assert(r.getLong(3) >= 1)
    }
  }

  test("dataset card plan: no explode, token counts ride size()") {
    val p = plan("q_dataset_card")
    assert(!p.contains("Generate"), s"token counting exploded the corpus:\n$p")
  }

  // ---- q_source_overlap ---------------------------------------------------

  test("source overlap: union sketch identity and estimator contract") {
    val r = run("q_source_overlap").collect().head
    val (nUnion, nInter) = (r.getLong(0), r.getLong(1))
    assert(nUnion > 0 && nInter >= 0 && nInter <= nUnion)
    assert(r.getLong(3) === 1L, "minhash-union estimate strayed from exact")
    // union-sketch identity: a source unioned with ITSELF estimates J=1
    // (elementwise min of identical signatures ⇒ every lane agrees)
    import org.apache.spark.sql.functions._
    val d = graft.io.Sources.table(spark, sf, "documents")
      .where(col("source") === "src0")
    val lanes = d.select(
        posexplode(call_function("minhash_sig", col("text"), lit(3), lit(64)))
          .as(Seq("pos", "h")))
      .groupBy("pos").agg(min(col("h")).as("h0"), min(col("h")).as("h1"))
    val self = lanes.agg(avg((col("h0") === col("h1")).cast("double")))
      .head().getDouble(0)
    assert(self === 1.0)
  }

  // ---- q_corpus_pipeline --------------------------------------------------

  test("corpus pipeline: stage arithmetic conserved, stages fuse into 2 shuffles") {
    val rows = run("q_corpus_pipeline").collect()
    assert(rows.nonEmpty)
    val docs = graft.io.Sources.table(spark, sf, "documents")
    // pipeline output counts == the independently-computed stage chain
    val expect = docs
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
      .where(col("rn") === 1 && col("n_chars") >= 100).count()
    assert(rows.map(_.getLong(2)).sum === expect)
    // both splits present, every shard non-empty
    assert(rows.map(_.getString(0)).distinct.sorted.toSeq === Seq("train", "val"))
    rows.foreach(r => assert(r.getLong(2) > 0 && r.getLong(3) >= r.getLong(2)))

    // plan: dedup window + report aggregate = exactly two hash Exchanges;
    // dedup/filter/split fuse into the window pass (no extra shuffle)
    val p = plan("q_corpus_pipeline")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx <= 2, s"pipeline stages failed to fuse:\n$p")
    assert(!p.contains("Join"), s"unexpected join in the pipeline:\n$p")
  }

  // ---- q_vocab_coverage ---------------------------------------------------

  test("vocab coverage: conserved totals, coverage bounds, top-N dominance") {
    val r = run("q_vocab_coverage").collect().head
    val (nTerms, nTokens, cov) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    assert(nTerms > 0 && nTokens >= nTerms)
    assert(cov > 0.0 && cov <= 1.0)
    // the top-1000 must cover at least the uniform share (Zipf ⇒ far more)
    if (nTerms > 1000)
      assert(cov > 1000.0 / nTerms, "top-1000 coverage below uniform share")
    val directTokens = graft.io.Sources.table(spark, sf, "documents")
      .select(explode(graft.text.TextOps.tokens(lower(col("text")))).as("t"))
      .count()
    assert(nTokens === directTokens)
  }

  // ---- q_hybrid_search ----------------------------------------------------

  test("hybrid search: rank bounds, lexical+vector agreement boosts fusion") {
    val rows = run("q_hybrid_search").collect()
    assert(rows.length === 20)
    rows.foreach { r =>
      assert(r.getLong(0) != 0L, "query doc must not match itself")
      assert(r.getLong(1) >= 0 && r.getLong(1) <= 50)
      assert(r.getLong(2) >= 0 && r.getLong(2) <= 50)
      assert(r.getLong(1) > 0 || r.getLong(2) > 0)
    }
    val rrfs = rows.map(_.getDouble(3))
    assert(rrfs.zip(rrfs.tail).forall { case (x, y) => x >= y }, "not sorted")
    // a doc in BOTH lists outranks one in neither; max possible = 2/(60+1)
    assert(rrfs.head <= 2.0 / 61 + 1e-6)
  }

  test("hybrid search plan: TakeOrdered rankings, join-free fusion") {
    val p = plan("q_hybrid_search")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected distributed top-k heaps:\n$p")
    // the only SMJ-eligible join is doc⋈vector on the id; fusion itself
    // must stay union+groupBy (no full-outer join node above the rankings)
    assert(!p.contains("FullOuter"), s"fusion regressed to a full-outer join:\n$p")
  }

  // ---- q_line_dedup -------------------------------------------------------

  test("line dedup: planted prefix copies fully collapse, originals survive") {
    val out = run("q_line_dedup").cache()
    try {
      // every planted doc (32-token prefix at doc_id+1e6) duplicates the
      // original's leading blocks exactly → keep-first must drop them all
      val planted = out.where(col("doc_id") >= 1000000L)
      assert(planted.count() > 0)
      val badPlanted = planted.where(col("kept_blocks") =!= 0L ||
        col("dedup_text") =!= lit("")).count()
      assert(badPlanted === 0, "a planted duplicate block survived dedup")
      // conservation: total kept blocks == global distinct block count
      val toks = graft.text.TextOps.tokens(col("text"))
      val base = graft.io.Sources.table(spark, sf, "documents")
      val allBlocks = base.select(col("text"))
        .unionByName(base.select(concat_ws(" ",
          slice(toks, lit(1), lit(2 * Curation.LineBlock))).as("text")))
        .select(explode(sequence(lit(1),
          size(toks), lit(Curation.LineBlock))).as("start"), toks.as("toks"))
        .select(concat_ws(" ",
          slice(col("toks"), col("start"), lit(Curation.LineBlock))).as("b"))
      val distinctBlocks = allBlocks.distinct().count()
      val kept = out.agg(sum("kept_blocks")).head.getLong(0)
      assert(kept === distinctBlocks,
        s"kept=$kept != distinct=$distinctBlocks — first-occurrence selection lost or double-kept a block")
      // a fully-kept doc reassembles to its normalized text verbatim
      val full = out.where(col("kept_blocks") === col("n_blocks"))
        .join(base, "doc_id")
        .where(col("dedup_text") =!= concat_ws(" ",
          graft.text.TextOps.tokens(col("text"))))
        .count()
      assert(full === 0, "reassembly reordered or dropped surviving blocks")
    } finally out.unpersist()
  }

  // ---- q_zorder -----------------------------------------------------------

  test("zorder: every file bounded in BOTH dimensions — the skipping property") {
    val rows = run("q_zorder").collect()
    assert(rows.nonEmpty && rows.length <= 16)
    val total = rows.map(_.getLong(1)).sum
    val liCount = graft.io.Sources.table(spark, sf, "lineitem").count()
    assert(total === liCount, "every row must land in exactly one file")
    rows.foreach { r =>
      val fid = r.getLong(0)
      assert(fid >= 0 && fid < 16)
      // top-4-z-bit files pin 2 high bits per dimension → span ≤ 2^8 cells
      assert(r.getLong(6) <= 256, s"file $fid x_span ${r.getLong(6)} > 256")
      assert(r.getLong(7) <= 256, s"file $fid y_span ${r.getLong(7)} > 256")
    }
    // localization: min-max normalization guarantees the GLOBAL grid spans
    // the full 1024 cells in each dimension, so ≤256-cell files mean every
    // file covers ≤¼ of each axis — a selective predicate on either column
    // skips ≥¾ of the files' ranges
    val globalX = rows.map(_.getLong(3)).max - rows.map(_.getLong(2)).min + 1
    val globalY = rows.map(_.getLong(5)).max - rows.map(_.getLong(4)).min + 1
    assert(globalX > 3 * rows.map(_.getLong(6)).max,
      s"files do not localize x: global $globalX vs worst file ${rows.map(_.getLong(6)).max}")
    assert(globalY > 3 * rows.map(_.getLong(7)).max,
      s"files do not localize y: global $globalY vs worst file ${rows.map(_.getLong(7)).max}")
  }

  test("zorder plan: broadcast bounds, one aggregation shuffle, codegen z") {
    val p = plan("q_zorder")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"bounds must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"bounds join regressed:\n$p")
    // grid+interleave is pure projection: only the groupBy(file_id) hash
    // exchange and the final tiny sort shuffle
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 1,
      s"unexpected extra hash shuffle:\n$p")
  }

  test("line dedup plan: hash-keyed window, no join, bounded exchanges") {
    val p = plan("q_line_dedup")
    // global first-occurrence is a window over md5(block), NOT a self-join:
    // the plan must be join-free end to end
    assert(!p.contains("Join"), s"line dedup regressed to a join:\n$p")
    // block window + doc reassembly + final orderBy — 3 Exchanges max
    assert(p.linesIterator.count(_.contains("Exchange")) <= 3,
      s"unexpected extra shuffle:\n$p")
  }

  // ---- q_url_normalize ------------------------------------------------------

  test("URL canonicalization strips every clutter class and conserves docs") {
    val docs = graft.io.Sources.table(spark, sf, "documents")
    val rows = graft.SparkEntry.queries("q_url_normalize")(spark, sf).collect()
    rows.foreach { r =>
      val u = r.getString(0)
      assert(u == u.toLowerCase, s"uppercase survived: $u")
      assert(!u.contains("#") && !u.contains("utm_") && !u.contains(":443")
        && !u.endsWith("/"), s"clutter survived: $u")
      assert(u.startsWith("https://www.shop"), s"unexpected shape: $u")
    }
    assert(rows.map(_.getLong(1)).sum === docs.count(),
      "every document lands in exactly one canonical group")
  }

  test("URL variants 350 ids apart collapse to one canonical group") {
    import spark.implicits._
    // 1 and 351 agree mod 7 and mod 50 (same host+path) and both carry a
    // fragment (mod 5 = 1) that differs by full doc_id → two distinct raw
    // urls, ONE canonical group
    val dir = java.nio.file.Files
      .createTempDirectory("graft_url_fixture").toString
    Seq(1L, 351L).toDF("doc_id").write.parquet(s"$dir/documents.parquet")
    val rows = graft.SparkEntry.queries("q_url_normalize")(spark, dir).collect()
    assert(rows.length === 1, s"want one group: ${rows.toSeq}")
    assert(rows.head.getString(0) === "https://www.shop1.example.com/item/1")
    assert(rows.head.getLong(1) === 2L && rows.head.getLong(2) === 2L
      && rows.head.getLong(3) === 1L)
  }

  // ---- q_gopher_rules -----------------------------------------------------

  test("Gopher rules: each planted violation trips exactly its own flag") {
    import spark.implicits._
    // a clean 60-word doc that passes everything: mean word length 4.3,
    // two distinct stopwords (the, a), all-alphabetic
    val clean = (("the quick brown fox jumps over a lazy sleeping hound " * 6).trim)
    val docs = Seq(
      (1L, clean),                                   // keep = 1
      (2L, "too few words here"),                    // word count
      (3L, ("aa " * 60).trim),                       // mean len 2 + 1 stopword
      (4L, (("word## " * 60).trim)),                 // symbol ratio 2/1 per word
      (5L, clean.split(" ").map("- " + _).mkString("\n")), // all bullet lines
      (6L, clean + "\nthis line trails off...\nand so does this one..."),
      (7L, (("123 456 " * 30).trim)))                // alpha ratio 0
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_gopher_fixture").toString
    docs.write.parquet(s"$dir/documents.parquet")
    val out = graft.SparkEntry.queries("q_gopher_rules")(spark, dir)
      .collect().map(r => r.getLong(0) -> r).toMap
    def flags(id: Long): Seq[Long] = (2 to 8).map(out(id).getLong(_))
    assert(flags(1L) === Seq(1L, 1L, 1L, 1L, 1L, 1L, 1L)
      && out(1L).getLong(9) === 1L, s"clean doc must keep: ${out(1L)}")
    assert(out(2L).getLong(2) === 0L, "short doc fails word count")
    assert(out(3L).getLong(3) === 0L && out(3L).getLong(8) === 0L,
      "uniform 2-char words fail mean length and distinct stopwords")
    assert(out(4L).getLong(4) === 0L, "hash-dense doc fails symbol ratio")
    assert(out(5L).getLong(5) === 0L, "all-bullet doc fails bullet ratio")
    assert(out(6L).getLong(6) === 0L, "2 of 3 trailing-... lines fail 0.3")
    assert(out(7L).getLong(7) === 0L, "numeric doc fails alpha-word ratio")
    out.values.foreach { r =>
      assert(r.getLong(9) === (2 to 8).map(r.getLong(_)).product,
        s"keep must be the conjunction: $r")
    }
  }

  test("Gopher rules on real data: flags boolean, keep is the conjunction") {
    val rows = run("q_gopher_rules").collect()
    assert(rows.length ===
      graft.io.Sources.table(spark, sf, "documents").count())
    rows.foreach { r =>
      (2 to 9).foreach(i => assert(r.getLong(i) === 0L || r.getLong(i) === 1L))
      assert(r.getLong(9) === (2 to 8).map(r.getLong(_)).product)
    }
  }

  test("k-anonymity audit: planted small cell trips the gate with exact tallies") {
    import spark.implicits._
    val rows =
      (1 to 6).map(i => (i.toLong, 1, "AUTOMOBILE")) ++
        (7 to 12).map(i => (i.toLong, 2, "MACHINERY")) ++
        Seq((13L, 3, "BUILDING"), (14L, 3, "BUILDING"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_kanon_fixture").toString
    rows.toDF("c_custkey", "c_nationkey", "c_mktsegment")
      .write.parquet(s"$dir/customer.parquet")
    val r = graft.SparkEntry.queries("q_kanonymity")(spark, dir).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((3L, 14L, 2L)))
    assert(r.getLong(3) === 1L && r.getLong(4) === 2L)
    assert(r.getDouble(5) === math.floor(2.0 / 14 * 1e6 + 0.500001) / 1e6)
    assert(r.getLong(6) === 0L, "min cell 2 < 5 must fail the gate")
    // pad the small cell to 5 → the gate passes
    val ok = rows ++ Seq((15L, 3, "BUILDING"), (16L, 3, "BUILDING"),
      (17L, 3, "BUILDING"))
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft_kanon_fixture2").toString
    ok.toDF("c_custkey", "c_nationkey", "c_mktsegment")
      .write.parquet(s"$dir2/customer.parquet")
    val r2 = graft.SparkEntry.queries("q_kanonymity")(spark, dir2).head()
    assert(r2.getLong(6) === 1L && r2.getLong(3) === 0L
      && r2.getDouble(5) === 0.0, s"$r2")
  }

  test("t-closeness: identical cell distributions pass; an all-top-band cell fails") {
    import spark.implicits._
    // two QI cells, two $1000 bands; balanced: every cell mirrors the
    // global 50/50 band split ⇒ every cumulative difference is 0
    def mk(rows: Seq[(Long, Int, String, Double)]) = {
      val dir = java.nio.file.Files.createTempDirectory("graft_tclose").toString
      rows.toDF("c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal")
        .write.parquet(s"$dir/customer.parquet")
      dir
    }
    val balanced = (0 until 8).map(i =>
      (i.toLong, i % 2, "AUTO", if (i < 4) 500.0 else 1500.0))
    val rb = graft.SparkEntry.queries("q_t_closeness")(spark, mk(balanced)).head
    assert(rb.getLong(0) === 2L && rb.getLong(1) === 8L)
    assert(rb.getDouble(2) === 0.0 && rb.getLong(3) === 0L)
    assert(rb.getLong(4) === 1L, s"balanced must be t-close: $rb")
    // nation 1 holds ONLY top-band balances while the population is
    // 25/75: both cells sit 0.25 from the global split ⇒ release fails
    val skewed = (0 until 4).map(i => (i.toLong, 0, "AUTO",
        if (i < 2) 500.0 else 1500.0)) ++
      (4 until 8).map(i => (i.toLong, 1, "AUTO", 1500.0))
    val rs = graft.SparkEntry.queries("q_t_closeness")(spark, mk(skewed)).head
    assert(rs.getDouble(2) > 0.2 && rs.getLong(3) >= 1L)
    assert(rs.getLong(4) === 0L, s"skewed cell must fail: $rs")
  }

  test("DP counts: bounded content-addressed noise, deterministic across runs") {
    val a = run("q_dp_counts").collect()
    val b = run("q_dp_counts").collect()
    assert(a.map(_.toString).toSeq === b.map(_.toString).toSeq,
      "content-addressed noise must replay identically")
    a.foreach { r =>
      val (t0, n0) = (r.getLong(1).toDouble, r.getDouble(2))
      // Lap(1/eps=1) at the md5 uniform: |noise| = |ln(1-2|c|)| ≤ ~22
      // for any 32-bit u; generous bound
      assert(math.abs(n0 - t0) < 25.0, s"noise out of range: $r")
      assert(r.getDouble(3) === 1.0)
    }
  }

  test("Gopher plan: projection-only scoring — no exchange before the dump sort") {
    val p = plan("q_gopher_rules")
    assert(!p.contains("Exchange hashpartitioning"),
      s"per-doc rule scoring must not shuffle:\n$p")
    assert(!p.contains("Join"), s"rule scoring is join-free:\n$p")
  }

  test("count-min: never undercounts, and a driver replay pins the planted estimate") {
    import spark.implicits._
    // 4000 distinct one-event users force collisions in the 512-wide rows;
    // user 1 gets 50 events — the estimate must be ≥ 50 and must equal
    // the min over its 4 replayed cells exactly
    val rows = (0 until 50).map(i => (100000L + i, 1L)) ++
      (0 until 4000).map(i => (200000L + i, 10L + i))
    val dir = java.nio.file.Files.createTempDirectory("graft_cms").toString
    rows.toDF("event_id", "user_id")
      .withColumn("ts", (lit(1_700_000_000L) + col("event_id")) * lit(1_000_000_000L))
      .withColumn("event_type", lit("view")).withColumn("value", lit(1.0))
      .withColumn("props", lit("{}"))
      .write.parquet(s"$dir/events.parquet")
    val out = graft.SparkEntry.queries("q_count_min")(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.keySet === Set(1L, 2L, 3L, 4L, 5L))
    out.values.foreach(r => assert(r.getLong(3) === 1L,
      s"CMS may never undercount: $r"))
    assert(out(1L).getLong(1) === 50L)
    // driver replay of the sketch for probe 1
    val P = 2147483647L; val W = 512L
    val as = Seq(1103515245L, 2654435761L, 1597334677L, 805306457L)
    val bs = Seq(12345L, 97L, 1299709L, 40503L)
    val users = rows.map(_._2)
    val want = (0 until 4).map { r =>
      val c1 = ((1L * as(r) + bs(r)) % P) % W
      users.count(u => ((u * as(r) + bs(r)) % P) % W == c1).toLong
    }.min
    assert(out(1L).getLong(2) === want, "estimate = min over replayed cells")
  }

  test("alpha sampling: flattens toward uniform, preserves order, epochs favor small sources") {
    val rows = run("q_alpha_sampling").collect()
    assert(rows.length > 1)
    val byTok = rows.sortBy(_.getLong(2))
    // probability mass sums to 1 (within per-row rounding)
    val mass = rows.map(_.getDouble(4)).sum
    assert(math.abs(mass - 1.0) < 1e-4 * rows.length)
    // α < 1 compresses: the sampled share of the SMALLEST source rises,
    // the largest falls, and relative order is preserved
    assert(byTok.head.getDouble(4) > byTok.head.getDouble(3),
      "smallest source must be up-sampled")
    assert(byTok.last.getDouble(4) < byTok.last.getDouble(3),
      "largest source must be down-sampled")
    assert(byTok.map(_.getDouble(4)).toSeq.sliding(2).forall(p => p(0) <= p(1) + 1e-9),
      "p_alpha preserves the size order")
    // effective epochs decrease with source size
    assert(byTok.head.getDouble(5) > byTok.last.getDouble(5))
  }

  test("custom HLL: raw-regime accuracy on 20k planted distincts, register census") {
    import spark.implicits._
    val rows = (0 until 20000).map(i => (i.toLong, 1000L + i))
    val dir = java.nio.file.Files.createTempDirectory("graft_hll").toString
    rows.toDF("event_id", "user_id")
      .withColumn("ts", (lit(1_700_000_000L) + col("event_id")) * lit(1_000_000_000L))
      .withColumn("event_type", lit("view")).withColumn("value", lit(1.0))
      .withColumn("props", lit("{}"))
      .write.parquet(s"$dir/events.parquet")
    val r = graft.SparkEntry.queries("q_hll_custom")(spark, dir).head()
    assert(r.getLong(0) === 20000L)
    assert(r.getLong(1) + r.getLong(2) === 256L, "register census")
    assert(r.getLong(2) === 0L, "20k distincts must hit all 256 registers")
    assert(r.getLong(5) === 1L,
      s"estimate ${r.getDouble(3)} must land within 3σ of 20000")
    assert(r.getDouble(4) === r.getDouble(4) && r.getDouble(4) < 0.195)
  }

  test("custom HLL duplicates are invisible: estimate depends only on the distinct set") {
    import spark.implicits._
    def mk(rows: Seq[(Long, Long)]) = {
      val dir = java.nio.file.Files.createTempDirectory("graft_hll2").toString
      rows.toDF("event_id", "user_id")
        .withColumn("ts", (lit(1_700_000_000L) + col("event_id")) * lit(1_000_000_000L))
        .withColumn("event_type", lit("view")).withColumn("value", lit(1.0))
        .withColumn("props", lit("{}"))
        .write.parquet(s"$dir/events.parquet")
      graft.SparkEntry.queries("q_hll_custom")(spark, dir).head()
    }
    val once = mk((0 until 500).map(i => (i.toLong, i.toLong)))
    val tripled = mk((0 until 1500).map(i => (i.toLong, (i % 500).toLong)))
    assert(once.getDouble(3) === tripled.getDouble(3),
      "multiplicity must not move a distinct-count sketch")
    assert(once.getLong(1) === tripled.getLong(1))
  }

  test("l-diversity audit: a uniform cell passes, a single-band cell trips both gates") {
    import spark.implicits._
    // cell (1, AUTOMOBILE): 9 rows over 3 balanced $1000-bands → distinct
    // l = 3, entropy-l = exp(ln 3) = 3 exactly; cell (2, MACHINERY): 8 rows
    // all in ONE band → distinct l = 1, entropy-l = 1 — k-anonymous at
    // k = 5 yet fully disclosing, the exact case l-diversity exists for.
    val rows =
      (0 until 9).map(i => (i.toLong, 1, "AUTOMOBILE", 500.0 + 1000.0 * (i % 3))) ++
        (0 until 8).map(i => (100L + i, 2, "MACHINERY", 2500.0))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ldiv_fixture").toString
    rows.toDF("c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal")
      .write.parquet(s"$dir/customer.parquet")
    val r = graft.SparkEntry.queries("q_l_diversity")(spark, dir).head()
    assert((r.getLong(0), r.getLong(1)) === ((2L, 17L)))
    assert(r.getLong(2) === 1L, s"MACHINERY cell has one band: $r")
    assert(r.getDouble(3) === 1.0, s"entropy-l of a point mass is 1: $r")
    assert(r.getLong(4) === 1L && r.getLong(5) === 1L, s"$r")
    assert(r.getLong(6) === 0L, "single-band cell must fail the release")
    // drop the disclosing cell → the balanced cell alone passes at l = 3
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft_ldiv_fixture2").toString
    rows.take(9).toDF("c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal")
      .write.parquet(s"$dir2/customer.parquet")
    val r2 = graft.SparkEntry.queries("q_l_diversity")(spark, dir2).head()
    assert(r2.getLong(2) === 3L && r2.getDouble(3) === 3.0, s"$r2")
    assert(r2.getLong(6) === 1L, s"balanced cell must pass: $r2")
  }

  test("l-diversity on real data: audit scalars internally consistent") {
    val r = run("q_l_diversity").head()
    val total = graft.io.Sources.table(spark, sf, "customer").count()
    assert(r.getLong(1) === total)
    assert(r.getLong(2) >= 1L && r.getDouble(3) >= 1.0)
    assert(r.getDouble(3) <= r.getLong(2).toDouble + 1e-9,
      "entropy-l never exceeds distinct-l")
    assert(r.getLong(6) ===
      (if (r.getLong(2) >= 3L && r.getDouble(3) >= 3.0) 1L else 0L))
  }

  // ---- r10 corpus scorecards ----------------------------------------------

  private def docsFixture(rows: Seq[(Long, String, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cur_fix").toString
    rows.map { case (id, txt, src) => (id, txt, "en", src, txt.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("dup cluster stats: planted 3+2+1 copies give the exact histogram") {
    val dir = docsFixture(Seq(
      (1L, "alpha beta", "s"), (2L, "alpha beta", "s"), (3L, "alpha beta", "s"),
      (4L, "gamma delta", "s"), (5L, "gamma delta", "s"),
      (6L, "epsilon", "s")))
    val rows = SparkEntry.queries("q_dup_cluster_stats")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows === Map(1L -> (1L, 1L), 2L -> (1L, 2L), 3L -> (1L, 3L)))
    val head = SparkEntry.queries("q_dup_cluster_stats")(spark, dir).head()
    assert(head.getDouble(3) === 2.0, "6 docs / 3 distinct = dup factor 2")
    assert(head.getDouble(4) === 0.5, "3 of 6 docs are excess copies")
  }

  test("token fertility: hand corpus gives exact word/subword ratios") {
    // "ab cd, 12" per doc: 3 words; bpe-ish = ab, cd, ',', 12 = 4 subwords
    val dir = docsFixture(Seq((1L, "ab cd, 12", "s"), (2L, "ab cd, 12", "s")))
    val r = SparkEntry.queries("q_token_fertility")(spark, dir).head()
    assert(r.getLong(1) === 2L && r.getLong(3) === 6L && r.getLong(4) === 8L)
    assert(r.getDouble(5) === 1.3333, s"fertility r4(8/6): $r")
    // chars_per_token = 18 / 8 = 2.25 exactly
    assert(r.getDouble(6) === 2.25)
  }

  test("ngram novelty: disjoint sources are fully novel, shared grams are not") {
    val eight = "t1 t2 t3 t4 t5 t6 t7 t8"
    val dir = docsFixture(Seq(
      (1L, eight, "srcA"), (2L, eight, "srcB"),         // shared gram
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8", "srcA")))         // unique to A
    val rows = SparkEntry.queries("q_ngram_novelty")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(rows("srcA") === ((2L, 1L, 0.5)))
    assert(rows("srcB") === ((1L, 0L, 0.0)))
  }

  test("charclass profile: a crafted doc yields exact densities") {
    // 10 chars: "abc 12 .x?" → letters 4, digits 2, space 2, punct 2
    val dir = docsFixture(Seq((1L, "abc 12 .x?", "s")))
    val r = SparkEntry.queries("q_charclass_profile")(spark, dir).head()
    assert(r.getLong(2) === 10L)
    assert(r.getDouble(3) === 400.0 && r.getDouble(4) === 200.0)
    assert(r.getDouble(5) === 200.0 && r.getDouble(6) === 200.0)
  }

  // ---- q_minmax_prune -------------------------------------------------------

  test("minmax prune: clustering the predicate column is what makes files skippable") {
    val out = run("q_minmax_prune").collect()
    assert(out.length === 2)
    val byLayout = out.map(r => r.getString(0) -> r).toMap
    val (nat, cl) = (byLayout("natural"), byLayout("clustered_pk"))
    Seq(nat, cl).foreach { r =>
      assert(r.getLong(1) === 16L && r.getLong(2) === 256L, s"census: $r")
    }
    assert(cl.getDouble(4) >= 0.8,
      s"narrow predicates on a clustered column must prune most files: $cl")
    assert(nat.getDouble(4) <= cl.getDouble(4),
      s"natural layout cannot out-prune the clustered one: $nat vs $cl")
    // uncorrelated arrival order leaves every file spanning ~the whole
    // partkey domain: essentially nothing skips
    assert(nat.getDouble(4) < 0.2, s"natural layout should barely skip: $nat")
  }

  test("minmax prune: when arrival order IS the predicate order both layouts skip alike") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_prune").toString
    // pk == ok: the natural (orderkey-binned) layout is already clustered
    (0L until 1600L).map(i => (i, i, 1L))
      .toDF("l_orderkey", "l_partkey", "l_suppkey")
      .write.parquet(s"$dir/lineitem.parquet")
    val out = SparkEntry.queries("q_minmax_prune")(spark, dir).collect()
    val byLayout = out.map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(byLayout("natural") === byLayout("clustered_pk"),
      s"identical key order must give identical pruning: $byLayout")
    assert(byLayout("natural") >= 0.8, s"clustered arrival must prune: $byLayout")
  }
}
