package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, ModelStore, Similarity}

/** In-engine compensating scale evidence for the ONE ledger row whose
  * DuckDB oracle is priced out at sf10: `q_ann_ivfpq`'s replay (PQ
  * residual-codebook training as chained CTEs over 500k embeddings)
  * exceeds a >176 GB oracle footprint, while the engine answers in
  * seconds (PLANS r19). This check reuses the `q_ann_recall` discipline
  * — integer hit counts, no float compare — on the production index
  * shape, served through the ModelStore seam exactly as a deployment
  * would (train once, publish, load, score):
  *
  *   1. train coarse cells (k=8, 2 Lloyd rounds) + residual PQ codebooks
  *      (m=4, ncode=8) with the SAME parameters as `q_ann_ivfpq`;
  *   2. publish both through [[graft.operators.ModelStore]] and load
  *      them back (the IEEE-lossless round-trip the store chains pin);
  *   3. serve `ivfPqTopK` (ADC) from the LOADED artifacts for a sampled
  *      query set, and count hits against
  *      (a) `ivfTopK` — exact scoring over the SAME probed cells (both
  *          share `probeTop2`, so this isolates pure PQ/ADC quantization
  *          error from probe misses), and
  *      (b) `bruteForceTopK` — global exact ground truth (end-to-end
  *          recall\@k of the full IVF-PQ index).
  *
  * `runMain graft.ScaleCheck <sfDir> [nQueries]` — prints one JSON line
  * with the aggregate integer counts; per-decade numbers are recorded in
  * PLANS so the sf10 row has 100x-decade evidence despite the oracle
  * ceiling.
  */
object ScaleCheck {

  final case class WinnowCcResult(nDocs: Long, nEdges: Long,
                                  nClusters: Long, iters: Int,
                                  labelMismatch: Long, converged: Boolean)

  final case class IvfPqResult(k: Int, nAdc: Long, hitProbedExact: Long,
                               hitBrute: Long, storeSeamMismatch: Long)

  def main(args: Array[String]): Unit = {
    val cpus = GraftSession.envCpus(32)
    val spark = GraftSession.local(cpus, shufflePartitions = cpus, logLevel = "WARN")
    args(0) match {
      case "winnow_cc" =>
        val r = winnowCc(spark, args(1))
        println(s"""{"check":"winnow_cc","sf_dir":"${args(1)}",""" +
          s""""n_docs":${r.nDocs},"n_edges":${r.nEdges},""" +
          s""""n_clusters":${r.nClusters},""" +
          s""""propagation_iters":${r.iters},""" +
          s""""converged":${r.converged},""" +
          s""""label_mismatch":${r.labelMismatch}}""")
      case sfDir =>
        val nq = if (args.length > 1) args(1).toInt else 40
        val r = ivfPq(spark, sfDir, nq)
        println(s"""{"check":"ivfpq_adc_recall","sf_dir":"$sfDir",""" +
          s""""n_queries":$nq,"k":${r.k},"n_adc":${r.nAdc},""" +
          s""""hit_probed_exact":${r.hitProbedExact},""" +
          s""""hit_brute":${r.hitBrute},""" +
          s""""store_seam_mismatch":${r.storeSeamMismatch}}""")
    }
    spark.stop()
  }

  /** Compensating in-engine evidence for `q_winnow_cluster`, whose
    * DuckDB oracle (RECURSIVE closure over the winnow pair graph) is
    * priced out at sf10 like q_ann_ivfpq's (117 GB RSS uncapped; a
    * 40 GB-capped retry spilled 37 GB of a 72 GB disk before being
    * stopped). The EDGES are already sf10-hash-verified (q_winnow_pairs,
    * r19 rehearsal, same parameters); what the oracle would add is only
    * the transitive closure — so verify that independently in-engine:
    * an iterative min-label-propagation CC (algorithmically disjoint
    * from the operator's pointer-jumping union-find) over the same
    * edges, converged to fixpoint, compared label-for-label against
    * `clusterByWinnow` after canonicalizing both sides to min-doc_id
    * per cluster. Integer mismatch count; 0 = the two CC
    * implementations agree on every one of the N docs. */
  private[graft] def winnowCc(spark: SparkSession, sfDir: String): WinnowCcResult = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // one candidate computation feeds BOTH sides: the propagation edges
    // and clusterByPairs (whose public wrapper clusterByWinnow would
    // recompute the dominant fingerprint/bucket/pair stage end-to-end)
    val pairs = Dedup.winnowCandidates(docs, "text", "doc_id",
      k = 12, w = 8, bucketCap = 64, minShared = 4L)
      .select(col("id_a"), col("id_b")).persist()
    val edges = pairs.select(col("id_a").as("a"), col("id_b").as("b"))
    val nEdges = pairs.count()
    // lineage MUST be truncated per round (localCheckpoint, eager): a
    // persist()-only loop re-plans a DAG that deepens every iteration
    // and round time explodes (2 s -> 280 s by iter 7 at sf1, measured)
    var labels = docs.select(col("doc_id").as("id"), col("doc_id").as("lbl"))
      .localCheckpoint(true)
    var changed = 1L
    var iters = 0
    while (changed > 0 && iters < 100) {
      val t0 = System.nanoTime()
      val msgs = edges.join(labels, col("a") === col("id"))
        .select(col("b").as("id"), col("lbl"))
        .unionAll(edges.join(labels, col("b") === col("id"))
          .select(col("a").as("id"), col("lbl")))
      val next = labels.unionAll(msgs)
        .groupBy("id").agg(min("lbl").as("lbl")).localCheckpoint(true)
      changed = next.join(labels.withColumnRenamed("lbl", "old"), "id")
        .filter(col("lbl") =!= col("old")).count()
      labels = next // superseded checkpoint blocks are context-cleaned
      iters += 1
      System.err.println(
        f"[winnow_cc] iter $iters: changed=$changed ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    val ops = Dedup.clusterByPairs(docs, pairs, "doc_id")
      .select(col("doc_id"), col("cluster_id"))
    val canon = ops.groupBy("cluster_id").agg(min("doc_id").as("canon"))
    val opsC = ops.join(canon, "cluster_id")
      .select(col("doc_id").as("id"), col("canon"))
    val mismatch = opsC.join(labels, "id")
      .filter(col("canon") =!= col("lbl")).count()
    val nDocs = labels.count()
    val nClusters = labels.select("lbl").distinct().count()
    pairs.unpersist()
    // converged=false means labelMismatch was computed against a
    // NON-fixpoint labeling (the 100-iteration bound tripped) — report
    // it explicitly so the artifact can't be misread as a clustering
    // disagreement (ADVICE r20)
    WinnowCcResult(nDocs, nEdges, nClusters, iters, mismatch,
      converged = changed == 0L)
  }

  private[graft] def ivfPq(spark: SparkSession, sfDir: String, nq: Int): IvfPqResult = {
    val k = 10

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qs = emb.filter(col("vec_id") < nq)

    // same training parameters as q_ann_ivfpq (QueriesVector.scala)
    val cells = Similarity.kmeansCells(emb, "embedding", "vec_id",
      k = 8, iters = 2)
    val books = Similarity.ivfPqCodebooks(emb, "embedding", "vec_id",
      cells.map(_._2), m = 4, ncode = 8, iters = 1)

    val root = s"/tmp/graft_scalecheck_${ProcessHandle.current().pid()}"
    ModelStore.destroy(root)
    try {
    ModelStore.saveCentroids(spark, root, cells)
    ModelStore.saveCodebooks(spark, root, books)
    val cents = ModelStore.loadCentroids(spark, root).map(_._2)
    val loadedBooks = ModelStore.loadCodebooks(spark, root)

    // the store-seam identity: ADC served from LOADED artifacts must be
    // row-identical to ADC from the artifacts still in JVM memory — the
    // IEEE-lossless round-trip the model-store chains pin, asserted here
    // directly at whatever scale this runs (integer mismatch count)
    val adcFull = Similarity.ivfPqTopK(emb, qs, cents, loadedBooks,
      "embedding", "vec_id", "vec_id", k = k)
    val adcRetrained = Similarity.ivfPqTopK(emb, qs, cells.map(_._2), books,
      "embedding", "vec_id", "vec_id", k = k)
    // both results are nQueries x k rows — driver-side multiset compare
    // (exceptAll over two window-derived twins trips a Catalyst binding
    // bug in 4.1.2; the bounded collect is the simpler tool anyway).
    // adcFull is persisted: the seam collect and the recall join below
    // would otherwise each re-run the full PQ-encode + probe plan.
    adcFull.persist()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("query_id"), col("vec_id"), col("cos"), col("rank"))
        .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    val (ra, rb) = (rows(adcFull), rows(adcRetrained))
    val nMismatch = (ra.keySet ++ rb.keySet).iterator
      .map(r => math.abs(ra.getOrElse(r, 0) - rb.getOrElse(r, 0))).sum
    val adc = adcFull.select(col("query_id"), col("vec_id"))
    val probedExact = Similarity.ivfTopK(emb, qs, cents,
      "embedding", "vec_id", "vec_id", k = k)
      .select(col("query_id"), col("vec_id"), lit(1L).as("__e"))
    val brute = Similarity.bruteForceTopK(emb, qs,
      "embedding", "vec_id", "vec_id", k = k)
      .select(col("query_id"), col("vec_id"), lit(1L).as("__b"))

    val row = adc
      .join(probedExact, Seq("query_id", "vec_id"), "left")
      .join(brute, Seq("query_id", "vec_id"), "left")
      .agg(count(lit(1)).as("n_adc"),
        sum(coalesce(col("__e"), lit(0L))).as("hit_probed_exact"),
        sum(coalesce(col("__b"), lit(0L))).as("hit_brute"))
      .head()

    adcFull.unpersist()
    IvfPqResult(k, row.getLong(0), row.getLong(1), row.getLong(2), nMismatch)
    // any failure between the first publish and here would otherwise
    // leak /tmp/graft_scalecheck_<pid> on disk (ADVICE r20)
    } finally ModelStore.destroy(root)
  }
}
