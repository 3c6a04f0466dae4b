package graft

import org.apache.spark.sql.functions._
import graft.api.{toDf, DataTable}
import graft.operators.{Bm25, Dedup, RangeJoin, Sampling}

/** Round-6 pipeline operators: balanced stratified sampling, banded
  * interval join, benchmark decontamination, BM25 scoring. */
class PipelineOpsSuite extends SparkSpec {

  test("stratifiedTopN keeps exactly n per stratum (all of smaller strata)") {
    val df = toDf(spark)(
      "id" -> (0 until 100),
      "g" -> (0 until 100).map(i => if (i < 90) "big" else "small")).df
    val out = Sampling.stratifiedTopN(df, "id", "g", n = 12)
    val counts = out.groupBy("g").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("big" -> 12L, "small" -> 10L))
    // deterministic: the same rows come back on a fresh evaluation
    val again = Sampling.stratifiedTopN(df, "id", "g", n = 12)
    assert(colLongs(DataTable(out).arrange("id"), "id") ==
      colLongs(DataTable(again).arrange("id"), "id"))
  }

  test("stratifiedTopN rank filter qualifies for WindowGroupLimit pushdown") {
    val df = toDf(spark)("id" -> (0 until 100), "g" -> Seq.fill(100)("x")).df
    val plan = Sampling.stratifiedTopN(df, "id", "g", 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"))
  }

  test("intervalJoin matches brute force on [start,end), every match once") {
    val left = toDf(spark)("t" -> Seq(0L, 5L, 10L, 99L, 100L, 250L, 999L)).df
    val right = toDf(spark)(
      "iv" -> Seq(0L, 1L, 2L, 3L),
      "s" -> Seq(0L, 90L, 100L, 500L),
      "e" -> Seq(10L, 100L, 300L, 500L)).df
    val got = RangeJoin.intervalJoin(left, "t", right, "s", "e", binWidth = 64L)
      .select("t", "iv").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq.sorted
    val want = left.crossJoin(right)
      .filter(col("t") >= col("s") && col("t") < col("e"))
      .select("t", "iv").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq.sorted
    assert(got == want)
    // an interval spanning several bins still yields each match ONCE
    assert(got.size == got.distinct.size)
    // empty interval (e == s) matches nothing; end is exclusive
    assert(!got.exists(_._2 == 3L))
    assert(got.contains((100L, 2L)) && !got.contains((100L, 1L)))
  }

  test("intervalJoin plans as a hash join on the bin, never a cartesian") {
    val left = toDf(spark)("t" -> (0L until 50L)).df
    val right = toDf(spark)("iv" -> Seq(0L, 1L),
      "s" -> Seq(0L, 25L), "e" -> Seq(10L, 40L)).df
    val plan = RangeJoin.intervalJoin(left, "t", right, "s", "e", 8L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("decontaminate drops docs sharing a word n-gram with the benchmark") {
    val corpus = toDf(spark)(
      "id" -> Seq(1, 2, 3),
      "text" -> Seq(
        "the quick brown fox jumps over the lazy dog",
        "completely unrelated content about spark plans here",
        "tiny doc")).df // < n tokens: whole text is the single shingle
    val bench = toDf(spark)(
      "id" -> Seq(10, 11),
      "text" -> Seq(
        "we saw the quick brown fox jumps over a fence",
        "tiny doc")).df
    val out = Dedup.decontaminate(corpus, bench, "text", "id", n = 5)
    assert(colLongs(DataTable(out).arrange("id"), "id") == Seq(2L))
  }

  test("decontaminate with a disjoint benchmark keeps the corpus intact") {
    val corpus = toDf(spark)(
      "id" -> Seq(1, 2), "text" -> Seq("alpha beta gamma", "delta epsilon")).df
    val bench = toDf(spark)(
      "id" -> Seq(9), "text" -> Seq("zeta eta theta iota kappa lambda")).df
    val out = Dedup.decontaminate(corpus, bench, "text", "id", n = 3)
    assert(colLongs(DataTable(out).arrange("id"), "id") == Seq(1L, 2L))
  }

  test("decontaminate fast path: one scan, no join, parity with join path") {
    val docs = graft.sources.Tables.df(spark, "/root/testdata/sf0.001", "documents")
    val bench = docs.filter(col("doc_id") % 10 === 0)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val fast = Dedup.decontaminate(corpus, bench, "text", "doc_id", n = 5)
    // maxSetShingles = 0: any non-empty bench overflows → join fallback
    val slow = Dedup.decontaminate(corpus, bench, "text", "doc_id", n = 5,
      maxSetShingles = 0)
    val a = fast.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val b = slow.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(a == b, "fast/fallback divergence")
    assert(a.nonEmpty && a.size < corpus.count(),
      "fixture should drop some docs and keep some")
    // the fast path is a single codegen'd scan: no join, no shuffle
    val plan = fast.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"fast path still joins:\n$plan")
    assert(!plan.contains("Exchange"), s"fast path shuffles:\n$plan")
    assert(plan.contains("any_shingle_in_set"), plan)
    val spans = fast.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w }
    assert(spans.nonEmpty, s"filter not inside WholeStageCodegen:\n$plan")
  }

  test("contaminationScore counts per-doc bench overlap, tiers agree") {
    // corpus doc 1 shares the 3-gram "a b c" with the bench; doc 2 is
    // clean; doc 3 is null text → (0, 0, false), not a dropped row
    val corpus = toDf(spark)(
      "doc_id" -> Seq(1L, 2L, 3L),
      "text" -> Seq("a b c d", "x y z w", null)).df
    val bench = toDf(spark)("doc_id" -> Seq(10L),
      "text" -> Seq("q a b c r")).df
    def run(cap: Int) = Dedup.contaminationScore(corpus, bench,
      "text", "doc_id", n = 3, maxSetShingles = cap)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSeq
    val fast = run(2000000)
    // doc 1: shingles {a b c, b c d} → 1 hit; doc 2: 2 shingles, 0 hits
    assert(fast == Seq((1L, 2L, 1L, true), (2L, 2L, 0L, false),
      (3L, 0L, 0L, false)))
    assert(run(0) == fast, "relational tier must equal the kernel tier")
  }

  test("contaminationScore fast path: scan-local, codegen'd membership count") {
    val docs = graft.sources.Tables.df(spark, "/root/testdata/sf0.001", "documents")
    val bench = docs.filter(col("doc_id") % 10 === 0)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val fast = Dedup.contaminationScore(corpus, bench, "text", "doc_id", n = 5)
    val slow = Dedup.contaminationScore(corpus, bench, "text", "doc_id", n = 5,
      maxSetShingles = 0)
    val a = fast.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    val b = slow.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(a == b, "fast/fallback divergence on the real corpus")
    assert(a.exists(_._3 > 0) && a.exists(_._3 == 0),
      "fixture should mix contaminated and clean docs")
    val plan = fast.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"fast path still joins:\n$plan")
    assert(!plan.contains("Exchange"), s"fast path shuffles:\n$plan")
    assert(plan.contains("sorted_membership_count"), plan)
  }

  test("exactIncremental drops known fingerprints, dedups within the batch") {
    val corpus = toDf(spark)(
      "doc_id" -> Seq(1, 2),
      "text" -> Seq("dup one", "other doc")).df
    val batch = toDf(spark)(
      "doc_id" -> Seq(10, 11, 12, 13),
      "text" -> Seq(
        "  DUP   one ",   // normalizes to the corpus dup → dropped
        "fresh text",
        "fresh  TEXT",    // in-batch dup of 11 → keep-first
        "brand new")).df
    val out = Dedup.exactIncremental(batch, corpus, "text", "doc_id")
    assert(out.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(11L, 13L))
  }

  test("minhashIncremental screens near-dups of the corpus, then within batch") {
    // word-soup docs: batch 10 shares ~all shingles with corpus 1 (one
    // token changed -> est-Jaccard high), 11 is fresh, 12 is a near-dup
    // of 11 (in-batch greedy drops the larger id), 13 is fresh
    val mk = (s: Seq[String]) => s.mkString(" ")
    val base = (1 to 30).map(i => s"tok$i")
    val corpus = toDf(spark)(
      "doc_id" -> Seq(1, 2),
      "text" -> Seq(mk(base), mk(base.map(t => t + "x")))).df
    val fresh = (1 to 30).map(i => s"new$i")
    val batch = toDf(spark)(
      "doc_id" -> Seq(10, 11, 12, 13),
      "text" -> Seq(
        mk(base.updated(29, "changed")),   // near-dup of corpus 1 → screened
        mk(fresh),                          // fresh → kept
        mk(fresh.updated(29, "altered")),   // near-dup of 11 → greedy drop
        mk((1 to 30).map(i => s"zz$i")))).df
    val out = Dedup.minhashIncremental(batch, corpus, "text", "doc_id",
      minEstJaccard = 0.5)
    assert(out.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(11L, 13L))
  }

  test("simhashIncremental screens Hamming-near batch docs, then within batch") {
    // the minhashIncremental scenario on the Hamming metric: one token
    // changed in a 30-token doc flips few simhash bits
    val mk = (s: Seq[String]) => s.mkString(" ")
    val base = (1 to 30).map(i => s"tok$i")
    val corpus = toDf(spark)(
      "doc_id" -> Seq(1),
      "text" -> Seq(mk(base))).df
    val fresh = (1 to 30).map(i => s"new$i")
    val batch = toDf(spark)(
      "doc_id" -> Seq(10, 11, 12),
      "text" -> Seq(
        mk(base.updated(29, "changed")),  // near corpus 1 → screened
        mk(fresh),                        // fresh → kept
        mk(fresh.updated(29, "altered")))).df // near 11 → greedy drop
    val out = Dedup.simhashIncremental(batch, corpus, "text", "doc_id",
      maxHamming = 12)
    assert(out.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(11L))
  }

  test("simhashIncremental: a single stored doc still screens (size-1 bucket)") {
    val corpus = toDf(spark)(
      "doc_id" -> Seq(1),
      "text" -> Seq((1 to 30).map(i => s"tok$i").mkString(" "))).df
    val store = Dedup.simhashChunkRows(corpus, "text", "doc_id")
    val batch = toDf(spark)(
      "doc_id" -> Seq(10, 11),
      "text" -> Seq(
        (1 to 30).map(i => s"tok$i").mkString(" "), // exact twin → screened
        (1 to 30).map(i => s"qq$i").mkString(" "))).df
    val out = Dedup.simhashIncrementalAgainstChunks(batch, "text", "doc_id",
      store, maxHamming = 8)
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(11L))
  }

  test("minhashIncrementalAgainstBands: a single stored doc still screens") {
    // one corpus doc -> every band bucket has ONE member; the capped
    // bucket agg must keep size-1 buckets (the batch variant's >= 2
    // lower bound would silently never screen against a 1-doc store)
    val corpus = toDf(spark)(
      "doc_id" -> Seq(1),
      "text" -> Seq((1 to 30).map(i => s"tok$i").mkString(" "))).df
    val store = Dedup.minhashBandRows(corpus, "text", "doc_id")
    val batch = toDf(spark)(
      "doc_id" -> Seq(10, 11),
      "text" -> Seq(
        (1 to 30).map(i => s"tok$i").mkString(" "), // exact twin → screened
        (1 to 30).map(i => s"qq$i").mkString(" "))).df
    val out = Dedup.minhashIncrementalAgainstBands(batch, "text", "doc_id", store)
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(11L))
  }

  test("decontaminateBloom: no false negatives, over-drop bounded by fpp") {
    val docs = graft.sources.Tables.df(spark, "/root/testdata/sf0.001", "documents")
    val bench = docs.filter(col("doc_id") % 10 === 0)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val exact = ids(Dedup.decontaminate(corpus, bench, "text", "doc_id", n = 5))
    val bloom = ids(Dedup.decontaminateBloom(corpus, bench, "text", "doc_id",
      n = 5, expectedShingles = 100000L, fpp = 0.001))
    // survivors of the bloom path ⊆ exact survivors (never keeps a truly
    // contaminated doc), and the over-drop is tiny at this fpp
    assert(bloom.subsetOf(exact), "bloom kept a contaminated doc (false negative)")
    assert((exact.size - bloom.size) <= math.max(2, exact.size / 100),
      s"over-drop too large: exact=${exact.size} bloom=${bloom.size}")
    // stateless projection: no join, no shuffle
    val plan = Dedup.decontaminateBloom(corpus, bench, "text", "doc_id", n = 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Exchange"), plan)
  }

  test("substringDupStats counts windows shared with ANY other document") {
    val docs = toDf(spark)(
      "id" -> Seq(1, 2, 3),
      "text" -> Seq(
        "a b c d e f",      // windows: [a b c], [b c d], [c d e], [d e f]
        "x y z b c d",      // shares [b c d] with doc 1
        "totally different here")).df // < n? 3 tokens = n → one window
    val got = Dedup.substringDupStats(docs, "text", "id", n = 3)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(
      (1L, 4L, 1L),   // 4 windows, [b c d] shared
      (2L, 4L, 1L),
      (3L, 1L, 0L)))
  }

  test("substringDupStats fast path: scan-local phase 2, parity with join fallback") {
    val docs = graft.sources.Tables.df(spark, "/root/testdata/sf0.001", "documents")
    val fast = Dedup.substringDupStats(docs, "text", "doc_id", n = 5)
    val slow = Dedup.substringDupStats(docs, "text", "doc_id", n = 5,
      maxSharedSet = 0) // any non-empty shared set overflows → join path
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val (a, b) = (rows(fast), rows(slow))
    assert(a == b, "fast/fallback divergence")
    assert(a.exists(_._3 > 0), "fixture should contain shared windows")
    // phase 2 of the fast path joins and shuffles nothing
    val plan = fast.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"fast path still joins:\n$plan")
    assert(!plan.contains("Exchange"), s"fast path shuffles:\n$plan")
    assert(plan.contains("sorted_membership_count"), plan)
  }

  test("exactIncrementalAgainstFps consumes a materialized fingerprint table") {
    val corpus = toDf(spark)(
      "doc_id" -> Seq(1, 2),
      "text" -> Seq("dup one", "other doc")).df
    val fps = corpus.select(graft.functions.TextFunctions
      .fingerprint(col("text")).as("known_fp"))
    val batch = toDf(spark)(
      "doc_id" -> Seq(10, 11),
      "text" -> Seq("  DUP   one ", "fresh text")).df
    val out = Dedup.exactIncrementalAgainstFps(
      batch, "text", "doc_id", fps, "known_fp")
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(11L))
    // and it equals the raw-corpus path
    val viaCorpus = Dedup.exactIncremental(batch, corpus, "text", "doc_id")
    assert(viaCorpus.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(11L))
  }

  test("sourceOverlapMatrix: unordered cells, diagonal, counts") {
    // srcA doc1 ≡ srcB doc2 (cross-source pair), srcA doc3 ≡ srcA doc4
    // (diagonal pair), doc5 unique in srcC (no cell at all)
    val base = (0 until 30).map(i => s"tok$i").mkString(" ")
    val other = (100 until 130).map(i => s"tok$i").mkString(" ")
    val df = toDf(spark)(
      "doc_id" -> Seq(1L, 2L, 3L, 4L, 5L),
      "src" -> Seq("srcB", "srcA", "srcA", "srcA", "srcC"),
      "text" -> Seq(base, base, other, other, "totally unrelated words here")).df
    val out = Dedup.sourceOverlapMatrix(df, "text", "doc_id", "src")
      .orderBy("source_a", "source_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getAs[Long]("n_pairs"),
        r.getAs[Long]("n_docs_a"), r.getAs[Long]("n_docs_b")))
    assert(out.toSeq == Seq(
      ("srcA", "srcA", 1L, 3L, 3L), // diagonal: in-source template reuse
      ("srcA", "srcB", 1L, 3L, 1L)  // cross-source, normalized a <= b
    ), out.mkString("; "))
  }

  test("minhashRecallEval: exact Jaccard truth, integer threshold, caught flags") {
    // doc 1 ≡ doc 2 (identical → Jaccard 1, LSH must catch), doc 3
    // shares a prefix with 1 (Jaccard < 0.5 → not truth), doc 4 disjoint
    val base = (0 until 30).map(i => s"tok$i").mkString(" ")
    val df = toDf(spark)(
      "doc_id" -> Seq(1L, 2L, 3L, 4L),
      "text" -> Seq(base, base,
        (0 until 8).map(i => s"tok$i").mkString(" ") + " zz yy xx ww vv uu",
        (100 until 130).map(i => s"other$i").mkString(" "))).df
    val out = Dedup.minhashRecallEval(df, "text", "doc_id")
      .orderBy("id_a", "id_b").collect()
    assert(out.length == 1, s"only the identical pair is truth: ${out.toSeq}")
    val r = out(0)
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(r.getAs[Long]("inter") == r.getAs[Long]("uni"),
      "identical docs: intersection == union")
    assert(r.getAs[Long]("caught") == 1L,
      "identical signatures must share every band bucket")
  }

  test("minhashRecallEval: truth rows all satisfy the integer tau bound") {
    val docs = graft.sources.Tables.df(spark, "/root/testdata/sf0.001", "documents")
    val out = Dedup.minhashRecallEval(docs, "text", "doc_id").collect()
    assert(out.nonEmpty, "sf0.001 corpus has known near-dup truth pairs")
    out.foreach { r =>
      assert(r.getAs[Long]("inter") * 100 >= 50 * r.getAs[Long]("uni"), s"$r")
      assert(Set(0L, 1L).contains(r.getAs[Long]("caught")), s"$r")
    }
    // the default config is known-good on this corpus: recall above zero
    assert(out.map(_.getAs[Long]("caught")).sum > 0)
  }

  test("jaccardSimilarityJoin: prefix-filtered plan equals the naive exact join") {
    // exactness claim: the rare-first prefix index may only PRUNE
    // non-qualifying pairs — every Jaccard >= tau pair must survive.
    // Brute force re-derived here from the same kernel shingle sets.
    import org.apache.spark.sql.graftshim.{DistinctShingleHashes, Shim}
    val docs = graft.sources.Tables.df(spark, "/root/testdata/sf0.001", "documents")
    val sh = docs.select(col("doc_id").as("id"),
      Shim.toColumn(DistinctShingleHashes(
        Shim.toExpression(col("text")), 3)).as("ss"))
    val ex = sh.select(col("id"), explode(col("ss")).as("h"))
    val naive = ex.select(col("id").as("id_a"), col("h"))
      .join(ex.select(col("id").as("id_b"), col("h")), Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
      .join(sh.select(col("id").as("id_a"), size(col("ss")).cast("long").as("na")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), size(col("ss")).cast("long").as("nb")), Seq("id_b"))
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      .filter(col("inter") * lit(100L) >= lit(50L) * col("uni"))
      .select("id_a", "id_b", "inter", "uni")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val pruned = Dedup.jaccardSimilarityJoin(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(naive.nonEmpty, "sf0.001 must contain qualifying pairs")
    assert(pruned == naive,
      s"missing=${(naive -- pruned).take(5)} extra=${(pruned -- naive).take(5)}")
  }

  test("jaccardSimilarityJoinAB equals the self-join's cross-parity subset") {
    // the AB form under the shared order must find exactly the
    // unordered pairs the self-join finds with one even and one odd id
    val docs = graft.sources.Tables.df(spark, "/root/testdata/sf0.001", "documents")
    val self = Dedup.jaccardSimilarityJoin(docs, "text", "doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .filter { case (a, b, _, _) => a % 2 != b % 2 }
      .map { case (a, b, i, u) => (math.min(a, b), math.max(a, b), i, u) }
      .toSet
    val ab = Dedup.jaccardSimilarityJoinAB(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1),
      "text", "doc_id")
      .collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)), r.getLong(2), r.getLong(3)))
      .toSet
    assert(self.nonEmpty, "sf0.001 must contain cross-parity pairs")
    assert(ab == self, s"missing=${(self -- ab).take(5)} extra=${(ab -- self).take(5)}")
  }

  test("jaccardSimilarityJoinAB: ids shared by both sides stay apart") {
    // doc_id 1 is on both sides with different (near-duplicate) texts.
    // Pooling the sides' shingles under one id changes the counts, and
    // a verify lookup by id alone matches both sides' rows for id 1 —
    // rows that pass the threshold too, so they show up as extra pairs
    import org.apache.spark.sql.graftshim.{DistinctShingleHashes, Shim}
    val x = (0 until 24).map(i => s"x$i").mkString(" ")
    val y = (0 until 24).map(i => s"y$i").mkString(" ")
    val left = toDf(spark)("doc_id" -> Seq(1L, 2L),
      "text" -> Seq(x, y)).df
    val right = toDf(spark)("doc_id" -> Seq(1L, 3L, 4L),
      "text" -> Seq(x + " extra", x + " more words", y + " tail")).df
    def sets(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
      Shim.toColumn(DistinctShingleHashes(Shim.toExpression(col("text")), 3)))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet)
    val naive = for {
      (a, sa) <- sets(left); (b, sb) <- sets(right)
      inter = (sa & sb).size.toLong; uni = (sa | sb).size.toLong
      if inter * 100 >= 50 * uni
    } yield (a, b, inter, uni)
    val got = Dedup.jaccardSimilarityJoinAB(left, right, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(naive.map(t => (t._1, t._2)).toSet == Set((1L, 1L), (1L, 3L), (2L, 4L)))
    assert(got.toSet == naive.toSet && got.length == naive.length,
      s"got ${got.toSeq} want ${naive.toSeq}")
  }

  test("jaccardSimilarityJoin: identical docs and sub-threshold docs behave") {
    val base = (0 until 30).map(i => s"tok$i").mkString(" ")
    val df = toDf(spark)(
      "doc_id" -> Seq(1L, 2L, 3L),
      "text" -> Seq(base, base, (100 until 130).map(i => s"x$i").mkString(" "))).df
    val out = Dedup.jaccardSimilarityJoin(df, "text", "doc_id").collect()
    assert(out.length == 1)
    assert(out(0).getLong(0) == 1L && out(0).getLong(1) == 2L)
    assert(out(0).getAs[Long]("inter") == out(0).getAs[Long]("uni"))
  }

  test("minhashPrecisionEval: candidates annotated with exact overlap, flags consistent") {
    val docs = graft.sources.Tables.df(spark, "/root/testdata/sf0.001", "documents")
    val out = Dedup.minhashPrecisionEval(docs, "text", "doc_id",
      minEstJaccard = 0.3).collect()
    assert(out.nonEmpty, "0.3 est cut must admit candidates on sf0.001")
    out.foreach { r =>
      val (inter, uni) = (r.getAs[Long]("inter"), r.getAs[Long]("uni"))
      assert(inter >= 0 && uni >= inter, s"$r")
      assert(r.getAs[Double]("est_jaccard") >= 0.3, s"$r")
      assert((r.getAs[Long]("is_true") == 1L) == (inter * 100 >= 50 * uni), s"$r")
    }
    // the eval pair is consistent: every RECALL-caught truth pair at the
    // same config appears as a true candidate here
    val recall = Dedup.minhashRecallEval(docs, "text", "doc_id",
      minEstJaccard = 0.3)
      .filter(col("caught") === 1L)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val trueCands = out.filter(_.getAs[Long]("is_true") == 1L)
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(recall.subsetOf(trueCands), s"caught truth ⊄ true candidates")
  }

  test("bm25 matches the hand-computed Okapi formula (micro-scaled)") {
    val df = toDf(spark)(
      "id" -> Seq(1, 2, 3),
      "text" -> Seq("a b a", "b c", "d")).df
    val got = Bm25.score(df, "id", "text", Seq("a", "c"))
      .collect()
      .map(r => (r.get(0).asInstanceOf[Number].longValue, r.getLong(1))).toMap
    // N=3, sumdl=6, avgdl=2; df(a)=1, df(c)=1; k1=1.2, b=0.75
    def part(tf: Double, dfT: Long, dl: Long): Double = {
      val n = 3L; val sumdl = 6L
      val avgdl = sumdl.toDouble / n
      val idf = math.log((n - dfT + 0.5) / (dfT + 0.5) + 1.0)
      (idf * (tf * 2.2)) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl)))
    }
    assert(got(1L) == math.round(part(2, 1, 3) * 1e6)) // "a b a": tf(a)=2
    assert(got(2L) == math.round((part(0, 1, 2) + part(1, 1, 2)) * 1e6))
    assert(got(3L) == 0L) // no query term
  }

  test("bm25 corpus stats are one scalar aggregate broadcast back (no shuffle of docs)") {
    val df = toDf(spark)("id" -> (0 until 64),
      "text" -> (0 until 64).map(i => s"w$i common term")).df
    val plan = Bm25.score(df, "id", "text", Seq("common"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"))
  }

  test("attribution join under heavy user skew stays an equi hash join (AQE-splittable)") {
    // One hot user owns >50% of both sides. The scale posture depends on
    // the batch plan staying an EQUI join keyed on user_id — that is the
    // shape AQE's skew-join splitting can rebalance at 100x — with the
    // time bound as a post-join filter, never a nested-loop/cartesian
    // whose hot-key task AQE cannot split. (A salted fallback exists as
    // innerJoinSalted if AQE were unavailable; attribution keeps the
    // plain equi join because OptimizeSkewedJoin handles it for free.)
    val n = 400
    val users = (0 until n).map(i => if (i % 2 == 0) "hot" else s"u${i % 7}")
    val events = toDf(spark)(
      "user_id" -> users,
      "event_type" -> (0 until n).map(i => if (i % 3 == 0) "purchase" else "click"),
      "event_id" -> (0 until n).map(_.toLong),
      "ts" -> (0 until n).map(i => i.toLong * 60L * 1000000000L) // ns, 1/min
    ).df
    val joined = graft.streaming.Streaming.attributionJoin(events, boundSec = 1800L)
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // equi join keyed on user_id: SMJ or shuffled hash, either is
    // AQE-skew-splittable; broadcast would also be fine at test size but
    // the key point is the join node carries user_id as an equi key
    val joinLine = plan.linesIterator.find(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin")).getOrElse(fail(s"no hash join in:\n$plan"))
    assert(joinLine.contains("user_id"), joinLine)
    // brute-force parity on the skewed fixture: every (click, purchase)
    // pair of one user within the trailing 1800s, inclusive lower edge
    val rows = users.zipWithIndex.map { case (u, i) =>
      (u, if (i % 3 == 0) "purchase" else "click", i.toLong, i.toLong * 60L)
    }
    val want = (for {
      (cu, ct, cid, cts) <- rows if ct == "click"
      (pu, pt, pid, pts) <- rows if pt == "purchase"
      if cu == pu && cts <= pts && cts > pts - 1800L
    } yield (cu, cid, pid)).sorted
    val got = joined.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(got == want)
  }

  test("containmentPairs flags subset duplication that Jaccard misses") {
    // doc 2 is doc 1's text quoted whole inside much more material:
    // Jaccard is low (big union) but containment of 1 in 2 is ~100%
    val core = (1 to 12).map(i => s"core$i").mkString(" ")
    val filler = (1 to 60).map(i => s"fill$i").mkString(" ")
    val docs = toDf(spark)(
      "doc_id" -> Seq(1, 2),
      "text" -> Seq(core, s"$filler $core")).df
    val out = Dedup.containmentPairs(docs, "text", "doc_id")
    val r = out.collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getLong(0) == 1L && row.getLong(1) == 2L)
    val (na, contA) = (row.getLong(3), row.getLong(5))
    assert(contA >= 90L, s"doc 1 nearly contained: cont_a_pct=$contA")
    // while plain Jaccard (inter/union) is below 20%
    val inter = row.getLong(2); val nb = row.getLong(4)
    assert(inter * 100 < 20 * (na + nb - inter))
  }
}
