package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api._
import graft.sources.Tables
import graft.Queries._
import graft.functions.TextFunctions._
import graft.operators.{Blocklist, Bm25, Corpus, Dedup, Diagnostics, Layout, Multimodal, Outliers, Pack, RangeJoin, Sampling, Similarity}

/** Vector search surface: brute-force/LSH/IVF ANN, the trained
  * k-means centroid builder, and recall evaluation.
  *
  * One ledger family of [[Queries.all]] (oracle-parity rules documented
  * there); assembled and key-set-ratcheted by SparkEntry/EntrySuite. */
private[graft] object QueriesVector {

  val queries: Map[String, Q] = Map(


      // k-means centroid builder (2 Lloyd rounds, quantized-sum means,
      // cosine cells) — the production path for IVF cell assignment
      "q_kmeans_assign" -> ((s: SparkSession, dir: String) =>
        graft.api.DataTable(
          Similarity.kmeansAssign(Tables.df(s, dir, "embeddings"),
            "embedding", "vec_id", k = 8, iters = 2))
          .arrange("vec_id").df),


      // semantic decontamination: drop corpus vectors within cosine 0.3
      // of ANY bench vector (vec_id < 4) — the embedding-space twin of
      // the n-gram decontamination filter; literal tier (pure
      // projection, no join/shuffle)
      "q_semantic_decontam" -> ((s: SparkSession, dir: String) => {
        val e = Tables.df(s, dir, "embeddings")
        graft.api.DataTable(
          Similarity.semanticDecontaminate(
            e.filter(col("vec_id") >= 4), e.filter(col("vec_id") < 4),
            "embedding", "vec_id", minCos = 0.3)
            .select(col("vec_id"), col("label")))
          .arrange("vec_id").df
      }),


      // semantic contamination REPORT: per bench vector, how many corpus
      // vectors sit within the cosine radius, the closest cosine, and
      // the closest corpus id — the evidence behind q_semantic_decontam
      "q_semantic_contam_report" -> ((s: SparkSession, dir: String) => {
        val e = Tables.df(s, dir, "embeddings")
        graft.api.DataTable(
          Similarity.semanticContaminationReport(
            e.filter(col("vec_id") >= 4), e.filter(col("vec_id") < 4),
            "embedding", "vec_id", minCos = 0.3))
          .arrange("bench_id").df
      }),


      // brute-force cosine top-k (the ANN baseline; exact oracle)
      "q_ann_cosine" -> ((s: SparkSession, dir: String) => {
        val emb = Tables.df(s, dir, "embeddings")
        graft.api.DataTable(
          Similarity.bruteForceTopK(
            corpus = emb, queries = emb.filter(col("vec_id") === 0),
            vecCol = "embedding", idCol = "vec_id", queryIdCol = "vec_id", k = 10)
            .withColumn("rank", col("rank").cast("long")))
          .arrange("rank").df
      }),


      // hard-negative mining: per anchor, top-k cosine among DIFFERENT-
      // label vectors (contrastive-training prep; broadcast anchors +
      // a bounded top-N aggregate — Similarity.hardNegatives scaladoc)
      "q_hard_negatives" -> ((s: SparkSession, dir: String) => {
        val emb = Tables.df(s, dir, "embeddings")
        graft.api.DataTable(
          Similarity.hardNegatives(
            corpus = emb, anchors = emb.filter(col("vec_id") < 4),
            vecCol = "embedding", idCol = "vec_id", labelCol = "label", k = 10)
            .withColumn("rank", col("rank").cast("long")))
          .arrange("query_id", "rank").df
      }),


      // IVF-style ANN: centroid cells assigned by pure projection (no
      // shuffle), nprobe=2. Centroids are TRAINED — 2 Lloyd rounds from
      // the deterministic vec_id < 8 seeds (Similarity.kmeansCentroids,
      // the same quantized-mean builder q_kmeans_assign pins), so the
      // index is the real production shape and the oracle replays the
      // training relationally; exact oracle.
      "q_ann_ivf" -> ((s: SparkSession, dir: String) => {
        val emb = Tables.df(s, dir, "embeddings")
        val cents = Similarity.kmeansCentroids(emb, "embedding", "vec_id",
          k = 8, iters = 2)
        graft.api.DataTable(
          Similarity.ivfTopK(
            corpus = emb, queries = emb.filter(col("vec_id") < 4),
            centroids = cents,
            vecCol = "embedding", idCol = "vec_id", queryIdCol = "vec_id", k = 10)
            .withColumn("rank", col("rank").cast("long")))
          .arrange("query_id", "rank").df
      }),


      // cluster-balanced sampling: the trained k-means cells as strata,
      // exactly n vectors per cell by deterministic hash rank — the
      // diversity-sampling composition (SemDeDup-style cells feeding a
      // balanced eval draw); operators compose into ONE Catalyst plan
      "q_cluster_sample" -> ((s: SparkSession, dir: String) => {
        val emb = Tables.df(s, dir, "embeddings")
        graft.api.DataTable(
          Sampling.stratifiedTopN(
            Similarity.kmeansAssign(emb, "embedding", "vec_id",
              k = 8, iters = 2),
            "vec_id", "cell", n = 10)
            .select(col("vec_id"), col("cell")))
          .arrange("vec_id").df
      }),


      // product-quantization encode: per-subspace codebooks trained by
      // Lloyd (m=4 × ncode=8 over dim 64), every vector compressed to 4
      // codes — the memory lever for billion-vector indexes; training
      // and encode replay relationally (quantized means, dot-expansion
      // L2), so the oracle is exact
      "q_pq_encode" -> ((s: SparkSession, dir: String) => {
        val emb = Tables.df(s, dir, "embeddings")
        val books = Similarity.pqCodebooks(emb, "embedding", "vec_id",
          dim = 64, m = 4, ncode = 8, iters = 1)
        graft.api.DataTable(
          Similarity.pqEncode(emb, "embedding", "vec_id", books)
            .select(col("vec_id") +: (0 until 4).map(i =>
              element_at(col("codes"), i + 1).cast("long").as(s"code_$i")): _*))
          .arrange("vec_id").df
      }),


      // ADC search over the PQ-compressed corpus: codes → codeword
      // reconstruction (literal-array projection) → cosine vs the exact
      // query vectors → bounded-heap top-k; exact oracle
      "q_ann_pq" -> ((s: SparkSession, dir: String) => {
        val emb = Tables.df(s, dir, "embeddings")
        val books = Similarity.pqCodebooks(emb, "embedding", "vec_id",
          dim = 64, m = 4, ncode = 8, iters = 1)
        graft.api.DataTable(
          Similarity.pqTopK(emb, emb.filter(col("vec_id") < 4), books,
            "embedding", "vec_id", "vec_id", k = 10)
            .withColumn("rank", col("rank").cast("long")))
          .arrange("query_id", "rank").df
      }),


      // JL random projection: 64 -> 16 dims via the deterministic
      // md5-derived planes — the dimensionality lever before the ANN
      // family; pure projection, every component bit-replayable
      "q_jl_project" -> ((s: SparkSession, dir: String) =>
        graft.api.DataTable(
          Similarity.jlProject(Tables.df(s, dir, "embeddings"),
            "embedding", "vec_id", dim = 64, outDim = 16))
          .arrange("vec_id").df),


      // semantic JOIN (vector entity matching): each bench-side vector
      // (vec_id < 8) left-joined with its best corpus-side match at
      // cosine >= 0.2 — the jaccard_join_ab idea in embedding space
      "q_semantic_join" -> ((s: SparkSession, dir: String) => {
        val emb = Tables.df(s, dir, "embeddings")
        graft.api.DataTable(
          Similarity.semanticJoin(
            emb.filter(col("vec_id") < 8), emb.filter(col("vec_id") >= 8),
            "embedding", "vec_id", "vec_id", minCos = 0.2))
          .arrange("vec_id").df
      }),


      // MMR diversified re-rank: greedy λ·rel − (1−λ)·max-sim selection
      // over each query's bounded top-20 candidate set — RAG/few-shot
      // retrieval without k near-copies; step-generated CTE oracle
      // greedy k-center coreset (Gonzalez farthest-point): the 8 most
      // mutually-spread vectors — corpus-level diversity selection; k
      // bounded driver rounds, literal-selected-set projections
      "q_kcenter" -> ((s: SparkSession, dir: String) =>
        graft.api.DataTable(
          Similarity.kCenter(Tables.df(s, dir, "embeddings"),
            "embedding", "vec_id", k = 8))
          .arrange("step").df),


      // vector-pipeline flagship (the q_pipeline_e2e twin for the
      // embedding side): SemDeDup semantic pruning → greedy k-center
      // coreset of the survivors, hash-checked as ONE composed plan —
      // trained cells, capped buckets, literal-set selection rounds
      "q_vector_e2e" -> ((s: SparkSession, dir: String) => {
        val emb = Tables.df(s, dir, "embeddings")
        val survivors = Dedup.semanticDedup(emb, "embedding", "vec_id",
          k = 64, iters = 1, minCosine = 0.2)
        graft.api.DataTable(
          Similarity.kCenter(
            emb.join(survivors.select("vec_id"), Seq("vec_id")),
            "embedding", "vec_id", k = 8))
          .arrange("step").df
      }),


      "q_mmr_rerank" -> ((s: SparkSession, dir: String) => {
        val emb = Tables.df(s, dir, "embeddings")
        graft.api.DataTable(
          Similarity.mmrRerank(emb, emb.filter(col("vec_id") < 4),
            "embedding", "vec_id", "vec_id",
            candidates = 20, k = 5, lambda = 0.5))
          .arrange("query_id", "mmr_rank").df
      }),


      // IVF-PQ ANN (FAISS IVFADC): trained coarse cells prune WHICH
      // vectors a query scores (nprobe=2), PQ codes trained on the
      // coarse-cell RESIDUALS shrink WHAT each candidate costs — the
      // production billion-vector index shape; training, residuals,
      // encode, and reconstruction all replay relationally → exact oracle
      "q_ann_ivfpq" -> ((s: SparkSession, dir: String) => {
        val emb = Tables.df(s, dir, "embeddings")
        val cents = Similarity.kmeansCentroids(emb, "embedding", "vec_id",
          k = 8, iters = 2)
        val books = Similarity.ivfPqCodebooks(emb, "embedding", "vec_id",
          cents, m = 4, ncode = 8, iters = 1)
        graft.api.DataTable(
          Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 4),
            cents, books, "embedding", "vec_id", "vec_id", k = 10)
            .withColumn("rank", col("rank").cast("long")))
          .arrange("query_id", "rank").df
      }),


      // the trained-artifact store chain, IVF consumer: refresh 0
      // trains one Lloyd round and publishes; refresh 1 retrains at the
      // production two rounds and publishes v1; prune drops v0; the
      // SCORING job loads latest from disk (parquet doubles are the
      // same IEEE bits the trainer collected) and serves ivfTopK with
      // ZERO training scans — hash-checked against the retrain-per-
      // query oracle, so the round-trip is pinned lossless end-to-end
      "q_model_store_ivf" -> ((s: SparkSession, dir: String) => {
        val root = roundtripDir("modelstore_ivf", dir)
        graft.operators.ModelStore.destroy(root)
        val emb = Tables.df(s, dir, "embeddings")
        graft.operators.ModelStore.saveCentroids(s, root,
          Similarity.kmeansCells(emb, "embedding", "vec_id", k = 8, iters = 1))
        graft.operators.ModelStore.saveCentroids(s, root,
          Similarity.kmeansCells(emb, "embedding", "vec_id", k = 8, iters = 2))
        graft.operators.ModelStore.prune(root, "kmeans_cells", keep = 1)
        val cents = graft.operators.ModelStore.loadCentroids(s, root).map(_._2)
        graft.api.DataTable(
          Similarity.ivfTopK(
            corpus = emb, queries = emb.filter(col("vec_id") < 4),
            centroids = cents,
            vecCol = "embedding", idCol = "vec_id", queryIdCol = "vec_id",
            k = 10)
            .withColumn("rank", col("rank").cast("long")))
          .arrange("query_id", "rank").df
      }),


      // the trained-artifact store chain, PQ consumer: the q_ann_pq
      // codebooks train once, publish to the ModelStore, and ADC search
      // runs entirely from the LOADED codebooks — parquet doubles are
      // IEEE-lossless, so the chain shares the retrain-per-query twin's
      // oracle verbatim (the round-trip-lossless check)
      "q_model_store_pq" -> ((s: SparkSession, dir: String) => {
        val root = roundtripDir("modelstore_pq", dir)
        graft.operators.ModelStore.destroy(root)
        val emb = Tables.df(s, dir, "embeddings")
        graft.operators.ModelStore.saveCodebooks(s, root,
          Similarity.pqCodebooks(emb, "embedding", "vec_id",
            dim = 64, m = 4, ncode = 8, iters = 1))
        val books = graft.operators.ModelStore.loadCodebooks(s, root)
        graft.api.DataTable(
          Similarity.pqTopK(emb, emb.filter(col("vec_id") < 4), books,
            "embedding", "vec_id", "vec_id", k = 10)
            .withColumn("rank", col("rank").cast("long")))
          .arrange("query_id", "rank").df
      }),


      // the trained-artifact store chain, SemDeDup consumer: the
      // q_semantic_dedup cells trained ONCE, published, loaded back,
      // and the batch deduped against the stored model (the production
      // cadence — train per refresh, dedup every batch); same oracle as
      // the retrain-per-query twin
      "q_model_store_semdedup" -> ((s: SparkSession, dir: String) => {
        val root = roundtripDir("modelstore_sem", dir)
        graft.operators.ModelStore.destroy(root)
        val emb = Tables.df(s, dir, "embeddings")
        graft.operators.ModelStore.saveCentroids(s, root,
          Similarity.kmeansCells(emb, "embedding", "vec_id", k = 64, iters = 1))
        val cells = graft.operators.ModelStore.loadCentroids(s, root)
        graft.api.DataTable(
          Dedup.semanticDedupWithCells(emb, "embedding", "vec_id", cells,
            minCosine = 0.2))
          .arrange("vec_id").df
      }),


      // SQ8 scalar quantization: per-dimension trained bounds (one
      // bounded min/max aggregate), 8-bit levels as a pure projection —
      // 1 byte/component, the compression tier between raw floats and PQ
      "q_sq_encode" -> ((s: SparkSession, dir: String) => {
        val emb = Tables.df(s, dir, "embeddings")
        val (lo, hi) = Similarity.sqBounds(emb, "embedding", "vec_id")
        graft.api.DataTable(
          Similarity.sqEncode(emb, "embedding", "vec_id", lo, hi)
            .select(col("vec_id"), col("pos").cast("long").as("pos"),
              col("code")))
          .arrange("vec_id", "pos").df
      }),


      // ADC search over the SQ8-compressed corpus: per-component
      // lo + code·step reconstruction vs the exact query vectors
      "q_ann_sq" -> ((s: SparkSession, dir: String) => {
        val emb = Tables.df(s, dir, "embeddings")
        val (lo, hi) = Similarity.sqBounds(emb, "embedding", "vec_id")
        graft.api.DataTable(
          Similarity.sqTopK(emb, emb.filter(col("vec_id") < 4), lo, hi,
            "embedding", "vec_id", "vec_id", k = 10)
            .withColumn("rank", col("rank").cast("long")))
          .arrange("query_id", "rank").df
      }),


      // LSH-bucketed ANN (the scale path; exact oracle like q_embed_dedup)
      "q_ann_lsh" -> ((s: SparkSession, dir: String) => {
        val emb = Tables.df(s, dir, "embeddings")
        graft.api.DataTable(
          Similarity.lshTopK(
            corpus = emb, queries = emb.filter(col("vec_id") < 4),
            vecCol = "embedding", idCol = "vec_id", queryIdCol = "vec_id",
            k = 10, dim = 64, numPlanes = 8, probeBits = 1)
            .withColumn("rank", col("rank").cast("long")))
          .arrange("query_id", "rank").df
      }),


      // nDCG ranking-quality eval: the graded complement of q_ann_recall
      // — penalizes wrong ORDER and credits almost-right vectors; gains
      // micro-quantized, ln-discounted, one division for ndcg
      "q_ann_ndcg" -> ((s: SparkSession, dir: String) => {
        val emb = Tables.df(s, dir, "embeddings")
        graft.api.DataTable(
          Similarity.ndcgEval(emb, emb.filter(col("vec_id") < 4),
            "embedding", "vec_id", "vec_id",
            k = 10, dim = 64, numPlanes = 8, probeBits = 1))
          .arrange("query_id").df
      }),


      // ANN evaluation: recall@10 of ALL THREE approximate indexes — the
      // multi-probe LSH buckets, the trained-centroid IVF (the same
      // Lloyd-built index q_ann_ivf serves), and the PQ/ADC compressed
      // index — against brute-force ground truth, per query (integer
      // counts — exact)
      "q_ann_recall" -> ((s: SparkSession, dir: String) => {
        val emb = Tables.df(s, dir, "embeddings")
        val qs = emb.filter(col("vec_id") < 4)
        val truth = Similarity.bruteForceTopK(
          corpus = emb, queries = qs,
          vecCol = "embedding", idCol = "vec_id", queryIdCol = "vec_id",
          k = 10).select(col("query_id"), col("vec_id"))
        val lsh = Similarity.lshTopK(
          corpus = emb, queries = qs,
          vecCol = "embedding", idCol = "vec_id", queryIdCol = "vec_id",
          k = 10, dim = 64, numPlanes = 8, probeBits = 1)
          .select(col("query_id"), col("vec_id"), lit(1L).as("__lhit"))
        val ivf = Similarity.ivfTopK(
          corpus = emb, queries = qs,
          centroids = Similarity.kmeansCentroids(emb, "embedding", "vec_id",
            k = 8, iters = 2),
          vecCol = "embedding", idCol = "vec_id", queryIdCol = "vec_id", k = 10)
          .select(col("query_id"), col("vec_id"), lit(1L).as("__ihit"))
        val pq = Similarity.pqTopK(
          corpus = emb, queries = qs,
          books = Similarity.pqCodebooks(emb, "embedding", "vec_id",
            dim = 64, m = 4, ncode = 8, iters = 1),
          vecCol = "embedding", idCol = "vec_id", queryIdCol = "vec_id", k = 10)
          .select(col("query_id"), col("vec_id"), lit(1L).as("__phit"))
        graft.api.DataTable(
          truth.join(lsh, Seq("query_id", "vec_id"), "left")
            .join(ivf, Seq("query_id", "vec_id"), "left")
            .join(pq, Seq("query_id", "vec_id"), "left")
            .groupBy("query_id")
            .agg(count(lit(1)).as("n_true"),
              sum(coalesce(col("__lhit"), lit(0L))).as("n_hit_lsh"),
              sum(coalesce(col("__ihit"), lit(0L))).as("n_hit_ivf"),
              sum(coalesce(col("__phit"), lit(0L))).as("n_hit_pq")))
          .arrange("query_id").df
      })
  )

  val oracles: Map[String, String] = Map(

    "q_kmeans_assign" -> OracleSql.kmeansAssign(),

    "q_cluster_sample" -> OracleSql.clusterSample(),


    // semantic decontam: max-cos vs the bench set, NOT IN over the
    // non-null id (the cosExpr replay — both engines' dot is the same
    // left fold)
    "q_semantic_decontam" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |b AS (SELECT v AS bv FROM e WHERE vec_id < 4),
        |bad AS (
        |  SELECT DISTINCT e.vec_id FROM e CROSS JOIN b
        |  WHERE e.vec_id >= 4
        |    AND list_dot_product(e.v, b.bv)
        |        / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(b.bv, b.bv)))
        |        >= 0.3)
        |SELECT vec_id, label FROM e
        |WHERE vec_id >= 4 AND vec_id NOT IN (SELECT vec_id FROM bad)
        |ORDER BY vec_id""".stripMargin,


    // contamination report: cos per (bench, corpus) pair, grouped hits +
    // max + ROW_NUMBER nearest (the Spark struct-max argmax rule)
    "q_semantic_contam_report" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |b AS (SELECT vec_id AS bench_id, v AS bv FROM e WHERE vec_id < 4),
        |s AS (
        |  SELECT b.bench_id, c.vec_id,
        |    list_dot_product(c.v, b.bv)
        |      / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(b.bv, b.bv))) AS cos
        |  FROM e c CROSS JOIN b WHERE c.vec_id >= 4),
        |f AS (SELECT * FROM s WHERE cos IS NOT NULL),
        |g AS (
        |  SELECT bench_id,
        |    SUM(CASE WHEN cos >= 0.3 THEN 1 ELSE 0 END)::BIGINT AS n_hits,
        |    MAX(cos) AS max_cos
        |  FROM f GROUP BY bench_id),
        |n AS (
        |  SELECT bench_id, vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY bench_id ORDER BY cos DESC, vec_id) AS rn
        |  FROM f)
        |SELECT g.bench_id, g.n_hits, g.max_cos, n.vec_id AS nearest_id
        |FROM g JOIN n ON n.bench_id = g.bench_id AND n.rn = 1
        |ORDER BY g.bench_id""".stripMargin,

    "q_ann_cosine" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id = 0),
        |c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings)
        |SELECT query_id, vec_id, cos, rank FROM (
        |  SELECT q.query_id, c.vec_id,
        |    list_dot_product(c.cv, q.qv)
        |      / (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(q.qv, q.qv))) AS cos,
        |    ROW_NUMBER() OVER (ORDER BY cos DESC, c.vec_id) AS rank
        |  FROM c, q WHERE c.vec_id <> q.query_id)
        |WHERE rank <= 10 ORDER BY rank""".stripMargin,

    "q_hard_negatives" ->
      """WITH a AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
        |                  label AS al
        |           FROM embeddings WHERE vec_id < 4),
        |c AS (SELECT vec_id, embedding::DOUBLE[] AS cv, label FROM embeddings)
        |SELECT query_id, vec_id, cos, rank FROM (
        |  SELECT a.query_id, c.vec_id,
        |    list_dot_product(c.cv, a.qv)
        |      / (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(a.qv, a.qv))) AS cos,
        |    ROW_NUMBER() OVER (PARTITION BY a.query_id
        |                       ORDER BY cos DESC, c.vec_id) AS rank
        |  FROM c, a WHERE c.label <> a.al)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "q_pq_encode" -> OracleSql.pqEncode(),

    "q_ann_pq" -> OracleSql.annPq(),

    "q_ann_ivf" -> OracleSql.annIvf(),

    // the store-backed chains replay the SAME training math as their
    // retrain-per-query twins — the parquet round-trip is IEEE-lossless,
    // so the oracles are shared verbatim (that identity IS the check)
    "q_model_store_ivf" -> OracleSql.annIvf(),

    // store-backed twin: codebook training identical, artifact
    // round-trip lossless (IEEE doubles) — oracle shared verbatim
    "q_model_store_pq" -> OracleSql.annPq(),
    "q_model_store_semdedup" -> OracleSql.semanticDedup(),

    "q_ann_ivfpq" -> OracleSql.annIvfPq(),

    "q_jl_project" -> OracleSql.jlProject(),

    // semantic join: per left row the (cos DESC, right id) argmax above
    // the threshold, LEFT JOIN so unmatched rows survive with nulls
    "q_semantic_join" ->
      """WITH l AS (SELECT vec_id, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id < 8),
        |r AS (SELECT vec_id, embedding::DOUBLE[] AS cv
        |      FROM embeddings WHERE vec_id >= 8),
        |s AS (
        |  SELECT l.vec_id AS query_id, r.vec_id AS match_id,
        |    list_dot_product(r.cv, l.qv)
        |      / (sqrt(list_dot_product(r.cv, r.cv)) * sqrt(list_dot_product(l.qv, l.qv))) AS cos
        |  FROM r CROSS JOIN l),
        |best AS (
        |  SELECT query_id, match_id, cos FROM (
        |    SELECT query_id, match_id, cos,
        |      ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY cos DESC, match_id) AS rn
        |    -- NOT isnan: a zero-norm right-side vector scores NaN, which
        |    -- DuckDB orders GREATEST while Spark's Similarity.topK drops it
        |    -- — exclude explicitly so both engines agree on any corpus
        |    FROM s WHERE cos >= 0.2 AND NOT isnan(cos)) WHERE rn = 1)
        |SELECT l.vec_id, b.match_id, b.cos AS match_cos
        |FROM l LEFT JOIN best b ON b.query_id = l.vec_id
        |ORDER BY l.vec_id""".stripMargin,

    "q_mmr_rerank" -> OracleSql.mmrRerank(),

    "q_kcenter" -> OracleSql.kCenter(k = 8),

    "q_vector_e2e" -> OracleSql.vectorPipelineE2e(),

    "q_sq_encode" -> OracleSql.sqEncode(),

    "q_ann_sq" -> OracleSql.annSq(),

    "q_ann_lsh" -> OracleSql.annLsh(),


    "q_ann_ndcg" -> OracleSql.annNdcg(),

    "q_ann_recall" -> OracleSql.annRecall()
  )
}
