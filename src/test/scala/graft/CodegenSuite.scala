package graft

import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.execution.{DeserializeToObjectExec, MapPartitionsExec,
  SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.graftshim.CollectTopN
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.operators.Dedup
import graft.sources.Tables

/** The custom Catalyst expressions must run INSIDE whole-stage codegen —
  * an expression that silently falls back to interpreted eval (codegen
  * exception -> CodegenFallback path) would pass correctness tests while
  * losing the entire point. Inputs come from parquet scans: literal or
  * LocalRelation inputs are constant-folded / evaluated at optimization
  * time (which itself exercises the interpreted eval path, covered in
  * MinHashExprSuite/VecExprSuite). */
class CodegenSuite extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** The spans of the plan as planned, or, once `df` ran under AQE, of
    * its final plan. */
  private def wholeStageSpans(df: org.apache.spark.sql.DataFrame) = {
    object H extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    H.collect(df.queryExecution.executedPlan) { case w: WholeStageCodegenExec => w }
  }

  test("MinHashSig projection compiles into a WholeStageCodegen span") {
    val docs = Tables.df(spark, sfDir, "documents")
    val sig = Dedup.withMinhashSignature(docs, "text").select("doc_id", "sig")
    assert(wholeStageSpans(sig).exists(_.toString.contains("minhash_sig")),
      s"minhash_sig not inside WholeStageCodegen:\n${sig.queryExecution.executedPlan}")
    assert(sig.limit(3).collect().length == 3)
  }

  test("VecDot compiles into a WholeStageCodegen span") {
    val emb = Tables.df(spark, sfDir, "embeddings")
    val out = emb.select(VectorFunctions.dot(col("embedding"), col("embedding")).as("d"))
    assert(wholeStageSpans(out).exists(_.toString.contains("vec_dot")),
      s"vec_dot not inside WholeStageCodegen:\n${out.queryExecution.executedPlan}")
    assert(out.limit(1).head().getDouble(0) > 0.0)
  }

  test("generated code COMPILES at runtime (no silent interpreter fallback)") {
    // A plan-level WholeStageCodegen span proves nothing about the
    // generated Java actually compiling: Janino failures are caught and
    // silently fall back to interpreted eval (this caught a real bug —
    // `GraftHash.MODULE$` isn't resolvable through the facade class, so
    // every projection with a graft kernel ran interpreted). CODEGEN_ONLY
    // turns that fallback into a hard error.
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val docs = Tables.df(spark, sfDir, "documents")
      val sig = Dedup.withMinhashSignature(docs, "text").select("doc_id", "sig")
      assert(sig.limit(3).collect().length == 3)
      val sh = docs.select(
        org.apache.spark.sql.graftshim.Shim.toColumn(
          org.apache.spark.sql.graftshim.SimHashText(
            org.apache.spark.sql.graftshim.Shim.toExpression(col("text")))).as("sh"))
      assert(sh.limit(3).collect().length == 3)
      val nfc = docs.select(
        org.apache.spark.sql.graftshim.Shim.toColumn(
          org.apache.spark.sql.graftshim.NfcNormalize(
            org.apache.spark.sql.graftshim.Shim.toExpression(col("text")))).as("n"))
      assert(nfc.limit(3).collect().length == 3)
      val smc = docs.select(
        org.apache.spark.sql.graftshim.Shim.toColumn(
          org.apache.spark.sql.graftshim.SortedMembershipCount(
            org.apache.spark.sql.graftshim.Shim.toExpression(
              org.apache.spark.sql.graftshim.Shim.toColumn(
                org.apache.spark.sql.graftshim.DistinctShingleHashes(
                  org.apache.spark.sql.graftshim.Shim.toExpression(col("text")),
                  5))),
            Array(1L, 2L, 3L))).as("c"))
      assert(smc.limit(3).collect().length == 3)
      val dfl = docs.select(
        org.apache.spark.sql.graftshim.Shim.toColumn(
          org.apache.spark.sql.graftshim.DeflateLen(
            org.apache.spark.sql.graftshim.Shim.toExpression(col("text")))).as("z"))
      assert(dfl.limit(3).collect().length == 3)
      val sph = docs.select(
        org.apache.spark.sql.graftshim.Shim.toColumn(
          org.apache.spark.sql.graftshim.ShinglePolyHashes(
            org.apache.spark.sql.graftshim.Shim.toExpression(col("text")),
            3, Dedup.P, Dedup.ShingleC)).as("h"))
      assert(sph.limit(3).collect().length == 3)
      val rep = docs.select(
        org.apache.spark.sql.graftshim.Shim.toColumn(
          org.apache.spark.sql.graftshim.NgramStats(
            org.apache.spark.sql.graftshim.Shim.toExpression(col("text")),
            2)).as("st"))
      assert(rep.limit(3).collect().length == 3)
      val rep14 = docs.select(
        org.apache.spark.sql.graftshim.Shim.toColumn(
          org.apache.spark.sql.graftshim.RepetitionStats(
            org.apache.spark.sql.graftshim.Shim.toExpression(col("text"))))
          .as("rs"))
      assert(rep14.limit(3).collect().length == 3)
      val dirty = docs.select(
        org.apache.spark.sql.graftshim.Shim.toColumn(
          org.apache.spark.sql.graftshim.AnyShingleInSet(
            org.apache.spark.sql.graftshim.Shim.toExpression(col("text")),
            5, Array(1L, 2L, 3L))).as("dirty"))
      assert(dirty.limit(3).collect().length == 3)
      val win = docs.select(
        graft.functions.TextFunctions.winnowFingerprints(col("text"), 5, 4).as("f"))
      assert(win.limit(3).collect().length == 3)
      val emb = Tables.df(spark, sfDir, "embeddings")
      val d = emb.select(VectorFunctions.dot(col("embedding"), col("embedding")).as("d"))
      assert(d.limit(1).head().getDouble(0) > 0.0)
      val c = emb.select(VectorFunctions.cosine(col("embedding"), col("embedding")).as("c"))
      assert(math.abs(c.limit(1).head().getDouble(0) - 1.0) < 1e-9)
      // the declarative product aggregate must also codegen end-to-end
      val p = graft.api.DataTable(docs).groupBy("lang")
        .summarize("p" -> graft.functions.Accumulators.productLong(
          (col("doc_id") % 7 + 1).cast("long")))
      assert(p.df.collect().length > 0)
    } finally {
      spark.conf.set("spark.sql.codegen.fallback", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("top-k plans a map-side CollectTopN partial below the exchange, no window") {
    // the Similarity top-k is one bounded aggregate: its partial runs
    // before the shuffle (≤ k rows per query leave each map task), and
    // no row-level window, typed mapPartitions or Row decoding remains
    // the sf0.001 scan is one split, whose single partition needs no
    // exchange at all: spread the corpus so the final merge is a shuffle
    val emb = Tables.df(spark, sfDir, "embeddings")
    val out = graft.operators.Similarity.bruteForceTopK(
      corpus = emb.repartition(3), queries = emb.filter(col("vec_id") === 0),
      vecCol = "embedding", idCol = "vec_id", queryIdCol = "vec_id", k = 5)
    val plan = out.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    def partialTopN(p: SparkPlan): Boolean = p match {
      case a: ObjectHashAggregateExec => a.aggregateExpressions.exists(e =>
        e.mode == Partial && e.aggregateFunction.isInstanceOf[CollectTopN])
      case _ => false
    }
    assert(plan.exists {
      case e: ShuffleExchangeExec => e.child.exists(partialTopN)
      case _ => false
    }, s"no CollectTopN partial below an exchange:\n$plan")
    assert(plan.find {
      case _: WindowExec | _: MapPartitionsExec | _: DeserializeToObjectExec => true
      case _ => false
    }.isEmpty, s"row-level window or typed operator left in the top-k:\n$plan")
    assert(out.count() == 5)
  }

  test("WinnowText compiles into a WholeStageCodegen span") {
    val docs = Tables.df(spark, sfDir, "documents")
    val out = docs.select(col("doc_id"),
      graft.functions.TextFunctions.winnowFingerprints(col("text"), 5, 4).as("f"))
    assert(wholeStageSpans(out).exists(_.toString.contains("winnow_fingerprints")),
      s"winnow_fingerprints not inside WholeStageCodegen:\n${out.queryExecution.executedPlan}")
    assert(out.limit(3).collect().length == 3)
  }

  test("kernel projections preserve parquet column pruning") {
    // a custom expression that hid its child from the optimizer would
    // force the scan to read every column; the winnow projection over
    // documents must prune the scan to exactly (doc_id, text)
    val docs = Tables.df(spark, sfDir, "documents")
    val out = docs.select(col("doc_id"),
      graft.functions.TextFunctions.winnowFingerprints(col("text"), 5, 4).as("f"))
    val scan = out.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(scan.contains("ReadSchema"), s"no file scan found:\n$scan")
    val readSchema = scan.replaceAll("(?s).*ReadSchema: struct<([^>]*)>.*", "$1")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"),
      s"pruned past needed columns: $readSchema")
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      s"kernel defeated column pruning — scan reads: $readSchema")
  }

  test("jaccardSimilarityJoin prunes every documents scan to (doc_id, text)") {
    // the join reads documents from several plan branches (kernel sets,
    // df index, prefix index) — each branch's scan must stay pruned
    val docs = Tables.df(spark, sfDir, "documents")
    val out = graft.operators.Dedup.jaccardSimilarityJoin(docs, "text", "doc_id")
    val scans = out.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).filter(_.contains("ReadSchema"))
    assert(scans.nonEmpty, "no file scans found")
    scans.foreach { s =>
      val readSchema = s.replaceAll("(?s).*ReadSchema: struct<([^>]*)>.*", "$1")
      assert(!readSchema.contains("lang") && !readSchema.contains("source") &&
        !readSchema.contains("n_chars"),
        s"a branch defeated column pruning — scan reads: $readSchema")
    }
  }

  test("exact Jaccard joins: one kernel branch per side, no kernel filter, no array_intersect") {
    // executed AQE-final plan at sf0.01. A plain explode gets an inferred
    // size(kernel) > 0 filter pushed below the kernel projection (the
    // kernel then runs three times per document); a df or verify branch
    // that does not share the one index exchange scans the kernel again
    import org.apache.spark.sql.catalyst.expressions.{ArrayIntersect, Expression}
    import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.graftshim.DistinctShingleHashes
    // every node that runs: query stages are entered, a reused exchange
    // is not (it re-reads another stage's output)
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case _: ReusedExchangeExec => Nil
      case o => o.children.flatMap(nodes)
    })
    def uses(p: SparkPlan)(f: Expression => Boolean): Boolean =
      p.expressions.exists(_.exists(f))
    val kernel = (e: Expression) => e.isInstanceOf[DistinctShingleHashes]
    val docs = Tables.df(spark, s"${new java.io.File(sfDir).getParent}/sf0.01", "documents")
    Seq(
      "self" -> (1, Dedup.jaccardSimilarityJoin(docs, "text", "doc_id")),
      "ab" -> (2, Dedup.jaccardSimilarityJoinAB(docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), "text", "doc_id"))
    ).foreach { case (name, (sides, out)) =>
      assert(out.collect().nonEmpty, s"$name: sf0.01 must contain pairs")
      val plan = out.queryExecution.executedPlan
      val ns = nodes(plan)
      assert(!ns.exists { case f: FilterExec => uses(f)(kernel); case _ => false },
        s"$name: a Filter evaluates the kernel:\n$plan")
      assert(ns.count(uses(_)(kernel)) == sides,
        s"$name: kernel must run in exactly $sides branch(es):\n$plan")
      assert(!ns.exists(uses(_)(_.isInstanceOf[ArrayIntersect])),
        s"$name: array_intersect left in the plan:\n$plan")
    }
  }

  test("SortedIntersectCount compiles into a WholeStageCodegen span") {
    import org.apache.spark.sql.graftshim.{DistinctShingleHashes, Shim, SortedIntersectCount}
    val docs = Tables.df(spark, sfDir, "documents")
    // a document's shingles vs those of its first 200 chars: overlapping
    def sets(text: org.apache.spark.sql.Column) =
      DistinctShingleHashes(Shim.toExpression(text), 2)
    val (full, head) = (sets(col("text")), sets(substring(col("text"), 1, 200)))
    val out = docs.select(col("doc_id"),
      Shim.toColumn(SortedIntersectCount(full, head)).as("c"),
      size(array_intersect(Shim.toColumn(full), Shim.toColumn(head))).cast("long").as("want"))
    assert(wholeStageSpans(out).exists(_.toString.contains("sorted_intersect_count")),
      s"sorted_intersect_count not inside WholeStageCodegen:\n${out.queryExecution.executedPlan}")
    // CODEGEN_ONLY: a Janino failure is an error, not a silent fallback
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val rows = out.collect()
      assert(rows.nonEmpty && rows.exists(_.getLong(1) > 0))
      rows.foreach(r => assert(r.getLong(1) == r.getLong(2), s"doc ${r.getLong(0)}"))
    } finally {
      spark.conf.set("spark.sql.codegen.fallback", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("SimHashText compiles into a WholeStageCodegen span") {
    val docs = Tables.df(spark, sfDir, "documents")
    val sigOnly = docs.select(
      org.apache.spark.sql.graftshim.Shim.toColumn(
        org.apache.spark.sql.graftshim.SimHashText(
          org.apache.spark.sql.graftshim.Shim.toExpression(col("text")))).as("sh"))
    assert(wholeStageSpans(sigOnly).exists(_.toString.contains("simhash48")),
      s"simhash48 not inside WholeStageCodegen:\n${sigOnly.queryExecution.executedPlan}")
    assert(sigOnly.limit(3).collect().length == 3)
  }

  test("InBucketPairs compiles into a WholeStageCodegen span") {
    import org.apache.spark.sql.graftshim.{InBucketPairs, Shim}
    val docs = Tables.df(spark, sfDir, "documents")
    val buckets = Dedup.cappedBuckets(Dedup.minhashBandRows(docs, "text", "doc_id"),
      Seq(col("band"), col("bhash")), struct(col("id"), col("sig")), 64)
    val out = buckets.select(explode(Shim.toColumn(InBucketPairs(Shim.toExpression(
      col("members"))))).as("p")).select(col("p.id_a"), col("p.id_b"))
    withCodegenOnly {
      val rows = out.collect()
      assert(rows.nonEmpty && rows.forall(r => r.getLong(0) < r.getLong(1)))
    }
    // the final adaptive plan: the span exists only once the stages ran
    assert(wholeStageSpans(out).exists(_.toString.contains("in_bucket_pairs")),
      s"in_bucket_pairs not inside WholeStageCodegen:\n${out.queryExecution.executedPlan}")
  }

  test("PositionalEqualCount compiles into a WholeStageCodegen span") {
    import org.apache.spark.sql.graftshim.{PositionalEqualCount, Shim}
    val docs = Tables.df(spark, sfDir, "documents")
    val sigs = Dedup.withMinhashSignature(docs, "text")
      .select(col("doc_id"), col("sig"),   // agrees on the first 12 positions
        concat(slice(col("sig"), 1, 12), reverse(slice(col("sig"), 13, 20))).as("rev"))
    val out = sigs.select(col("doc_id"),
      Shim.toColumn(new PositionalEqualCount(Shim.toExpression(col("sig")),
        Shim.toExpression(col("rev")))).as("c"))
    // the HOF in a frame of its own: in the same projection it would
    // pull the kernel out of codegen with it
    val want = sigs.select(col("doc_id"),
      size(filter(zip_with(col("sig"), col("rev"), (x, y) => x === y), e => e)).as("c"))
    assert(wholeStageSpans(out).exists(_.toString.contains("positional_equal_count")),
      s"positional_equal_count not inside WholeStageCodegen:\n${out.queryExecution.executedPlan}")
    withCodegenOnly {
      val got = out.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got.nonEmpty && got.values.forall(_ >= 12))
      assert(got == want.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap)
    }
  }

  test("PqCodes compiles into a WholeStageCodegen span") {
    import graft.operators.Similarity
    val emb = Tables.df(spark, sfDir, "embeddings")
    val books = Similarity.pqCodebooks(emb, "embedding", "vec_id", dim = 64)
    val out = Similarity.pqEncode(emb, "embedding", "vec_id", books)
    withCodegenOnly {
      val rows = out.collect()
      assert(rows.nonEmpty && rows.forall(_.getSeq[Int](1).forall(c => c >= 0 && c < 8)))
    }
    assert(wholeStageSpans(out).exists(_.toString.contains("pq_codes")),
      s"pq_codes not inside WholeStageCodegen:\n${out.queryExecution.executedPlan}")
    graft.operators.GlobalOps.releaseSnapshots()
  }

  /** Plan lint: the executed plans (eager driver collects included) of
    * each candidate, join and vector path hold no interpreted
    * (`CodegenFallback`) expression outside an aggregate function and no
    * `SortAggregate`. Either would split a stage and add generated
    * classes to every pass. */
  private def lint(name: String)(run: => Unit): Unit = {
    val plans = graft.CodegenCensus.capture(spark)(run)
    graft.operators.GlobalOps.releaseSnapshots()
    assert(plans.nonEmpty, s"$name: no executed plan captured")
    plans.foreach { p =>
      val c = graft.CodegenCensus.of(p)
      assert(c.fallbacks.isEmpty, s"$name: interpreted expressions ${c.fallbacks}:\n$p")
      assert(c.sortAggregates == 0, s"$name: SortAggregate in the plan:\n$p")
    }
  }

  test("plan lint: minhashCandidates and simhashCandidates stay compiled") {
    val docs = Tables.df(spark, sfDir, "documents")
    lint("minhashCandidates")(Dedup.minhashCandidates(docs, "text", "doc_id").collect())
    lint("simhashCandidates")(Dedup.simhashCandidates(docs, "text", "doc_id").collect())
  }

  test("plan lint: jaccardSimilarityJoin stays compiled") {
    val docs = Tables.df(spark, sfDir, "documents")
    lint("jaccardSimilarityJoin")(Dedup.jaccardSimilarityJoin(docs, "text", "doc_id").collect())
  }

  test("plan lint: pqCodebooks/pqEncode and bruteForceTopK stay compiled") {
    import graft.operators.Similarity
    val emb = Tables.df(spark, sfDir, "embeddings")
    lint("pqCodebooks/pqEncode") {
      val books = Similarity.pqCodebooks(emb, "embedding", "vec_id", dim = 64)
      Similarity.pqEncode(emb, "embedding", "vec_id", books).collect()
    }
    lint("bruteForceTopK")(Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") === 0),
      "embedding", "vec_id", "vec_id", k = 10).collect())
  }

  /** CODEGEN_ONLY: a Janino failure is an error, not a silent fallback. */
  private def withCodegenOnly(f: => Unit): Unit =
    withSQLConf("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(f)
}
