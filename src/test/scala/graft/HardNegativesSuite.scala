package graft
// (MMR re-rank pins live at the bottom of this suite — same
// broadcast-anchor ANN family)

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Hard-negative mining (Similarity.hardNegatives): label exclusion,
  * cosine ranking, determinism on ties. The q_hard_negatives oracle
  * pins the same semantics end-to-end against DuckDB. */
class HardNegativesSuite extends SparkSpec {

  // axis-aligned fixture: anchor 0 is +x with label 0; the only
  // different-label vectors are 2 (exactly +x, cos 1), 3 (diagonal,
  // cos √2/2) and 4 (+y, cos 0). Vector 1 shares label 0 and must
  // never surface, however similar.
  private def vecs = spark.sql(
    """SELECT * FROM VALUES
      |  (0L, array(1.0F, 0.0F), 0),
      |  (1L, array(0.9F, 0.1F), 0),
      |  (2L, array(2.0F, 0.0F), 1),
      |  (3L, array(1.0F, 1.0F), 1),
      |  (4L, array(0.0F, 1.0F), 2)
      |AS t(vec_id, embedding, label)""".stripMargin)

  test("ranks different-label vectors by cosine, same-label never surfaces") {
    val out = Similarity.hardNegatives(
      corpus = vecs, anchors = vecs.filter(col("vec_id") === 0),
      vecCol = "embedding", idCol = "vec_id", labelCol = "label", k = 10)
      .orderBy("rank").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(2L, 3L, 4L))
    assert(!out.map(_.getLong(1)).contains(1L), "same-label vector leaked")
    assert(out.map(_.getInt(3)).toSeq == Seq(1, 2, 3))
    // magnitude-invariant: vec 2 is anchor-parallel at 2x length, cos 1
    assert(math.abs(out(0).getDouble(2) - 1.0) < 1e-12)
  }

  test("k bounds each anchor's list; multiple anchors mine independently") {
    val out = Similarity.hardNegatives(
      corpus = vecs, anchors = vecs.filter(col("vec_id") <= 2),
      vecCol = "embedding", idCol = "vec_id", labelCol = "label", k = 2)
      .collect()
    val byAnchor = out.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(byAnchor.keySet == Set(0L, 1L, 2L))
    assert(byAnchor.values.forall(_ == 2), s"k=2 per anchor: $byAnchor")
    // anchor 2 (label 1) mines from labels {0, 2}: best is the parallel
    // label-0 pair, never its own-label diagonal vec 3
    val a2 = out.filter(_.getLong(0) == 2L).sortBy(_.getInt(3)).map(_.getLong(1))
    assert(a2.toSeq == Seq(0L, 1L))
  }

  test("cosine ties break on vec_id ascending (deterministic replay)") {
    // two identical different-label vectors tie at cos 1 against the
    // anchor; rank order must be id order
    val tied = spark.sql(
      """SELECT * FROM VALUES
        |  (0L, array(1.0F, 0.0F), 0),
        |  (5L, array(1.0F, 0.0F), 1),
        |  (6L, array(1.0F, 0.0F), 1)
        |AS t(vec_id, embedding, label)""".stripMargin)
    val out = Similarity.hardNegatives(
      corpus = tied, anchors = tied.filter(col("vec_id") === 0),
      vecCol = "embedding", idCol = "vec_id", labelCol = "label", k = 2)
      .orderBy("rank").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(5L, 6L))
  }

  test("mmrRerank diversifies: the near-copy loses to the diverse candidate") {
    // query 0 = [1,0]; rel order: 1 (.9138) > 2 (.9100) > 3 (.9085), so
    // plain top-2 keeps the near-copies {1, 2}. But sim(2,1) ~ 1.0 while
    // sim(3,1) ~ 0.66: at λ=0.5 step 2 scores 2 at ~-0.045 and 3 at
    // ~+0.124 — MMR must take the diverse 3.
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (0L, array(1.0F, 0.0F)),
        |  (1L, array(0.9F, 0.4F)),
        |  (2L, array(0.9F, 0.41F)),
        |  (3L, array(0.87F, -0.4F))
        |AS t(vec_id, embedding)""".stripMargin)
    val out = Similarity.mmrRerank(df, df.filter(col("vec_id") === 0),
      "embedding", "vec_id", "vec_id", candidates = 3, k = 2, lambda = 0.5)
      .orderBy("mmr_rank").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(1L, 3L),
      "step 1 takes the best-rel copy; step 2 must skip its near-copy")
  }

  test("mmrRerank: ranks are 1..k per query; ties pick the smallest id") {
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (0L, array(1.0F, 0.0F)),
        |  (7L, array(0.5F, 0.5F)),
        |  (5L, array(0.5F, 0.5F)),
        |  (9L, array(0.0F, 1.0F))
        |AS t(vec_id, embedding)""".stripMargin)
    val out = Similarity.mmrRerank(df, df.filter(col("vec_id") === 0),
      "embedding", "vec_id", "vec_id", candidates = 3, k = 3, lambda = 0.5)
      .orderBy("mmr_rank").collect()
    assert(out.map(_.getInt(2)).toSeq == Seq(1, 2, 3))
    // 5 and 7 are identical vectors: the first pick must be id 5
    assert(out.head.getLong(1) == 5L)
  }

  test("kCenter: farthest-point order, seed = smallest id, k past corpus exhausts") {
    // seed 0 (+x); farthest from it is the antipode 3 (cos −1); then
    // the orthogonal 2 (max-cos 0 to {+x, −x}) beats near-copy 1
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (0L, array(1.0F, 0.0F, 0.0F)),
        |  (1L, array(0.99F, 0.1F, 0.0F)),
        |  (2L, array(0.0F, 1.0F, 0.0F)),
        |  (3L, array(-1.0F, 0.0F, 0.0F))
        |AS t(vec_id, embedding)""".stripMargin)
    val got = graft.operators.Similarity.kCenter(df, "embedding", "vec_id", k = 4)
      .orderBy("step").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((0L, 1L), (3L, 2L), (2L, 3L), (1L, 4L)), got.toString)
    // k beyond the corpus: every point selected once, then stop
    val all = graft.operators.Similarity.kCenter(df, "embedding", "vec_id", k = 10)
    assert(all.count() == 4L)
    // empty corpus: empty selection, correct schema
    val none = graft.operators.Similarity.kCenter(
      df.filter(col("vec_id") < 0), "embedding", "vec_id", k = 3)
    assert(none.count() == 0L && none.columns.toSeq == Seq("vec_id", "step"))
  }

  test("kCenter at k=64: carried running max-cos ≡ per-round recompute (bit-exact)") {
    // the r17 rewrite carries __mc across rounds (one new cosine per
    // round) instead of re-deriving every selected center's cosine each
    // round; max over doubles reassociates exactly, so the greedy
    // sequence must be IDENTICAL to the quadratic recompute at any k —
    // pinned here against a test-local recompute reference running the
    // same Spark cosine kernel
    import spark.implicits._
    val df = (0L until 120L).map(i =>
      (i, Array.tabulate(8)(d => math.sin(i * 31 + d * 11))))
      .toDF("vec_id", "embedding")
    val k = 64
    // bounded-footprint pin (VERDICT r17 #6): at most two rounds of
    // localCheckpoint blocks may coexist DURING the call, and NONE may
    // remain after it — the per-round free must not wait for driver GC
    val beforeRdds = spark.sparkContext.getPersistentRDDs.keySet
    val got = graft.operators.Similarity.kCenter(df, "embedding", "vec_id", k)
      .orderBy("step").collect().map(_.getLong(0)).toSeq
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- beforeRdds
    assert(leaked.isEmpty, s"kCenter leaked persisted RDDs: $leaked")
    // reference: the pre-r17 shape — every round recomputes max-cos
    // over ALL selected centers as literal expressions
    val e = df.select(col("vec_id"),
      expr("transform(embedding, x -> cast(x as double))").as("v"))
    def cosRef(c: Array[Double]): Column =
      graft.functions.VectorFunctions.cosine(col("v"),
        array(c.toIndexedSeq.map(lit): _*))
    val refSel = scala.collection.mutable.ArrayBuffer(
      0L -> e.orderBy("vec_id").limit(1).collect()(0).getSeq[Double](1).toArray)
    while (refSel.length < k) {
      val mc = refSel.map { case (_, c) => cosRef(c) }.reduce(greatest(_, _))
      val nxt = e.filter(!col("vec_id").isin(refSel.toSeq.map(_._1): _*))
        .select(col("vec_id"), col("v"), mc.as("__mc"))
        .orderBy(col("__mc").asc, col("vec_id").asc).limit(1).collect()(0)
      refSel += ((nxt.getLong(0), nxt.getSeq[Double](1).toArray))
    }
    assert(got == refSel.map(_._1).toSeq)
  }

  test("kCenter reliable path: identical selection, checkpoint dir left empty") {
    // with a checkpoint dir configured the per-round truncation goes
    // through reliable checkpoint(); the selection must be identical to
    // the localCheckpoint path, every superseded round's checkpoint DIR
    // must be deleted as the loop advances (VERDICT r18 #6 — no
    // reliance on spark.cleaner.referenceTracking.cleanCheckpoints),
    // and the final round's dir must be deleted on return
    import spark.implicits._
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "suite precondition: no ckpt dir")
    // k = 20 > CarriedTierMinK so the carried/truncating tier runs
    val df = (0L until 40L).map(i =>
      (i, Array.tabulate(6)(d => math.sin(i * 17 + d * 7))))
      .toDF("vec_id", "embedding")
    val baseline = graft.operators.Similarity
      .kCenter(df, "embedding", "vec_id", k = 20)
      .orderBy("step").collect().map(_.getLong(0)).toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft_kc_ckpt")
    sc.setCheckpointDir(dir.toString)
    try {
      val before = sc.getPersistentRDDs.keySet
      val got = graft.operators.Similarity
        .kCenter(df, "embedding", "vec_id", k = 20)
        .orderBy("step").collect().map(_.getLong(0)).toSeq
      assert(got == baseline)
      assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
        "reliable path leaked persisted RDDs")
      // sc.setCheckpointDir created one nested uuid dir; every rdd-*
      // checkpoint dir under it must be gone
      val leftover = scala.util.Using.resource(java.nio.file.Files.walk(dir))(
        _.iterator().asScala.filter(_.getFileName.toString.startsWith("rdd-"))
          .toList)
      assert(leftover.isEmpty, s"checkpoint dirs not reclaimed: $leftover")
    } finally {
      sc.setCheckpointDir(null)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("ndcgEval: approx DCG never beats ideal; self-evaluating LSH hits 1.0") {
    val emb = graft.sources.Tables.df(spark, "/root/testdata/sf0.001", "embeddings")
    val out = Similarity.ndcgEval(emb, emb.filter(col("vec_id") < 4),
      "embedding", "vec_id", "vec_id", k = 10, dim = 64)
      .collect()
    assert(out.length == 4)
    out.foreach { r =>
      val (d, i, n) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(i > 0L)
      assert(d <= i, s"approx DCG $d beat ideal $i")
      assert(n >= 0.0 && n <= 1.0)
    }
    // degenerate corpus where every vector lands in one bucket: the LSH
    // list IS the brute list, so ndcg is exactly 1
    val tiny = spark.sql(
      """SELECT * FROM VALUES
        |  (0L, array(1.0F, 0.1F)), (1L, array(1.0F, 0.2F)),
        |  (2L, array(0.9F, 0.1F)), (3L, array(0.8F, 0.3F))
        |AS t(vec_id, embedding)""".stripMargin)
    val one = Similarity.ndcgEval(tiny, tiny.filter(col("vec_id") === 0),
      "embedding", "vec_id", "vec_id", k = 3, dim = 2, numPlanes = 1)
      .collect()
    assert(one.length == 1 && one.head.getDouble(3) == 1.0)
  }

  test("semanticJoin: best-match enrichment, null misses, no self-exclusion") {
    val l = spark.sql(
      """SELECT * FROM VALUES
        |  (5L, array(1.0F, 0.0F)),
        |  (6L, array(0.0F, 1.0F)),
        |  (7L, array(-1.0F, 0.0F))
        |AS t(vec_id, embedding)""".stripMargin)
    val r = spark.sql(
      """SELECT * FROM VALUES
        |  (5L, array(1.0F, 0.0F)),
        |  (9L, array(1.0F, 0.0F)),
        |  (8L, array(0.1F, 1.0F))
        |AS t(vec_id, embedding)""".stripMargin)
    val out = Similarity.semanticJoin(l, r, "embedding", "vec_id", "vec_id",
      minCos = 0.5).orderBy("vec_id").collect()
    // left 5 matches RIGHT 5 (cos 1, id collision is NOT a self-pair;
    // tie with 9 -> smallest right id)
    assert(out(0).getLong(0) == 5L && out(0).getLong(1) == 5L)
    assert(out(1).getLong(0) == 6L && out(1).getLong(1) == 8L)
    // left 7 has no match at cos >= 0.5 -> null enrichment survives
    assert(out(2).getLong(0) == 7L && out(2).isNullAt(1) && out(2).isNullAt(2))
  }

  test("jlProject: deterministic, scaled plane dots, JL distance sanity") {
    val emb = graft.sources.Tables.df(spark, "/root/testdata/sf0.001", "embeddings")
    val out = Similarity.jlProject(emb, "embedding", "vec_id",
      dim = 64, outDim = 16)
    assert(out.columns.toSeq == "vec_id" +: (0 until 16).map(i => s"jl_$i"))
    // component 0 of vector 0 equals the manual fold x plane scale
    val planes = graft.functions.VectorFunctions.hashPlanes(16, 64)
    val v0 = emb.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toArray
    var s0 = 0.0
    v0.indices.foreach(i => s0 += v0(i) * planes(0)(i))
    val got = out.filter(col("vec_id") === 0).head().getDouble(1)
    assert(got == s0 * 0.25, s"got $got want ${s0 * 0.25}")
    // JL sanity: with uniform[-1,1) plane components E[p^2] = 1/3, so
    // the projected/original norm ratio concentrates around 1/3 (the
    // 1/sqrt(outDim) scale normalizes the dimension count, not the
    // component variance); pin the MEAN near 1/3 — no systematic
    // blow-up or collapse
    val jlCols = (0 until 16).map(i => col(s"jl_$i") * col(s"jl_$i"))
      .reduce(_ + _)
    val ratio = out
      .join(emb.select(col("vec_id"),
        graft.functions.VectorFunctions.dot(col("embedding"), col("embedding")).as("__n2")),
        Seq("vec_id"))
      .select((jlCols / col("__n2")).as("r")).collect().map(_.getDouble(0))
    val mean = ratio.sum / ratio.length
    assert(mean > 0.2 && mean < 0.5, s"norm-ratio mean $mean drifted from 1/3")
  }

  test("a string id column fails loudly, naming the column") {
    // before the check, cast("long") turned "a"/"b" into null ids and the
    // ops returned an empty result instead of an error
    val strIds = spark.sql(
      """SELECT * FROM VALUES
        |  ('a', array(1.0F, 0.0F), 0),
        |  ('b', array(0.0F, 1.0F), 1)
        |AS t(vec_id, embedding, label)""".stripMargin)
    val ops: Seq[() => Any] = Seq(
      () => Similarity.pqCodebooks(strIds, "embedding", "vec_id", dim = 2, m = 1, ncode = 2),
      () => Similarity.bruteForceTopK(strIds, strIds, "embedding", "vec_id", "vec_id", 1),
      () => Similarity.hardNegatives(strIds, strIds, "embedding", "vec_id", "label", 1))
    ops.foreach { op =>
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains("'vec_id'") && e.getMessage.contains("string"),
        e.getMessage)
    }
  }
}
