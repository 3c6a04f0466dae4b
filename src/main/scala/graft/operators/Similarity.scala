package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column.
  * Beyond-reference surface for the `embeddings` table.
  *
  * Two paths:
  *   - [[bruteForceTopK]] — exact cosine top-k. One pass over the corpus
  *     per query batch (broadcast the queries, not the corpus); the
  *     baseline and the recall oracle for the approximate paths.
  *   - [[lshTopK]] — hyperplane-LSH bucketed search: only candidates in
  *     the query's bucket (and optional neighboring probes) are scored.
  *     At 100 TB the bucket join prunes the scan to ~corpus/2^k per probe.
  *
  * Top-k shape: a bounded per-partition heap prunes each partition to at
  * most k rows per query BEFORE any shuffle, so the final exact window
  * ranks ≤ k × numPartitions rows per query — no stage ever funnels the
  * whole scored corpus through a single partition (the naive
  * `row_number over partitionBy(query_id)` does exactly that and dies at
  * 1000 executors).
  */
object Similarity {

  private val prunedSchema = StructType(Seq(
    StructField("query_id", LongType), StructField("vec_id", LongType),
    StructField("cos", DoubleType)))

  /** Per-partition top-k prune: keeps, per query, the k best (cos desc,
    * vec_id asc) rows of each partition, deduplicating (query, vec) within
    * the partition. Exact-preserving: the global top-k distinct rows are a
    * subset of the union of per-partition top-k distinct rows. Input
    * columns must be (query_id: long, vec_id: long, cos: double).
    *
    * Memory is bounded at O(queries-in-partition × k): the dedup set per
    * query tracks only the vec_ids CURRENTLY in that query's heap (a
    * multi-probe duplicate carries an identical cos, so rejecting it
    * against an in-heap copy loses nothing, and a duplicate of an
    * already-evicted row is simply re-adjudicated by the heap order — it
    * loses again). An unbounded all-pairs `seen` set would grow linearly
    * with scored rows, the exact per-partition blow-up this prune exists
    * to prevent. */
  private def partitionTopK(scored: DataFrame, k: Int): DataFrame = {
    implicit val enc = Encoders.row(prunedSchema)
    val ord = Ordering.by[(Long, Double), (Double, Long)] {
      case (id, cos) => (-cos, id) // best = smallest (-cos, id)
    }
    scored.select(col("query_id").cast("long"), col("vec_id").cast("long"),
        col("cos").cast("double"))
      // malformed vectors score NULL and zero-norm vectors score NaN —
      // neither is a usable neighbor, and letting NaN through would rank
      // FIRST in the final desc window (Spark's NaN-greatest order)
      // while the heap ordering treats it as worst: exclude both here so
      // every downstream ranking agrees. Oracle parity note: the DuckDB
      // replays rank NaN first too, so ANN oracles assume a corpus
      // without zero-norm embeddings (testdata satisfies this).
      .filter(col("cos").isNotNull && !isnan(col("cos")))
      .mapPartitions { it =>
        // per query: max-heap on (-cos, id) (root = WORST retained row)
        // plus the set of vec_ids currently in that heap
        val heaps = scala.collection.mutable.HashMap.empty[Long,
          (scala.collection.mutable.PriorityQueue[(Long, Double)],
           scala.collection.mutable.HashSet[Long])]
        it.foreach { r =>
          val (q, v, c) = (r.getLong(0), r.getLong(1), r.getDouble(2))
          val (h, ids) = heaps.getOrElseUpdate(q,
            (scala.collection.mutable.PriorityQueue.empty[(Long, Double)](ord),
             scala.collection.mutable.HashSet.empty[Long]))
          if (!ids.contains(v)) {
            if (h.size < k) { h.enqueue((v, c)); ids += v }
            else if (ord.lt((v, c), h.head)) {
              ids -= h.dequeue()._1
              h.enqueue((v, c)); ids += v
            }
          }
        }
        heaps.iterator.flatMap { case (q, (h, _)) =>
          h.iterator.map { case (v, c) => Row(q, v, c) }
        }
      }
  }

  /** Exact final ranking over the (tiny) pruned set. */
  private def rankTopK(pruned: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    pruned
      .dropDuplicates("query_id", "vec_id") // cross-partition dups (multi-probe)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("cos"), col("rank"))
  }

  /** Exact top-k by cosine for each query row. `queries` is expected to be
    * small (it is broadcast); the corpus is streamed, never collected.
    * Returns (query_id, vec_id, cos, rank). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     vecCol: String, idCol: String,
                     queryIdCol: String, k: Int): DataFrame = {
    // norms hoisted out of the pair fan (r21): the broadcast join scores
    // each corpus row against every query, and the fused cosine kernel
    // re-accumulated BOTH self-dots per pair — sqrt(dot(x,x)) per ROW
    // once is the same left fold (VecExprSuite pin), ab/(na·nb) the same
    // op sequence, so values are bit-identical at a third of the FLOPs.
    // Corpus scan routed through the SHARED normalized() projection
    // (r22): queries that also train an index (q_ann_recall, the model
    // store paths) pin that exact plan in lloyd/pqTrain, and the
    // CacheManager only substitutes the InMemoryRelation when the scan
    // subtree canonicalizes identically — the previous raw-column `cv`
    // projection never matched, so every index path re-read the parquet.
    // Values are unchanged: VecDot widens float elements exactly as
    // toDoubleArray's per-element cast does (same IEEE widening).
    val c = normalized(corpus, vecCol, idCol)
      .select(col("vec_id"), col("v").as("cv"))
      .withColumn("__cn", sqrt(dot(col("cv"), col("cv"))))
    val q = queries.select(col(queryIdCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("__qn", sqrt(dot(col("qv"), col("qv"))))
    val scored = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos", dot(col("cv"), col("qv")) / (col("__cn") * col("__qn")))
      .select(col("query_id"), col("vec_id"), col("cos"))
    rankTopK(partitionTopK(scored, k), k)
  }

  /** Hard-negative mining for contrastive training data (the in-batch /
    * mined-negatives prep of DPR, Karpukhin et al. 2020): for each anchor,
    * the k corpus vectors MOST similar by cosine among those with a
    * DIFFERENT label — the near-miss negatives that make a contrastive
    * objective informative. Same scale shape as [[bruteForceTopK]]: the
    * anchor set is broadcast (never the corpus), the label-inequality
    * predicate rides the broadcast join, and the per-partition bounded
    * heap prunes each partition to ≤ k rows per anchor before the one
    * final shuffle — no stage funnels the scored corpus through a single
    * partition. Null labels are excluded from BOTH sides (`=!=`
    * null-propagates, matching SQL `<>`). Self-pairs need no extra
    * guard: an anchor shares its own label. Returns (query_id, vec_id,
    * cos, rank). */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame,
                    vecCol: String, idCol: String, labelCol: String,
                    k: Int): DataFrame = {
    val c = corpus.select(longId(corpus, idCol).as("vec_id"), col(vecCol).as("cv"),
      col(labelCol).as("__cl"))
      .withColumn("__cn", sqrt(dot(col("cv"), col("cv"))))
    val a = anchors.select(longId(anchors, idCol).as("query_id"), col(vecCol).as("qv"),
      col(labelCol).as("__al"))
      .withColumn("__qn", sqrt(dot(col("qv"), col("qv"))))
    val scored = c.join(broadcast(a), col("__cl") =!= col("__al"))
      .withColumn("cos", dot(col("cv"), col("qv")) / (col("__cn") * col("__qn")))
      .select(col("query_id"), col("vec_id"), col("cos"))
    rankTopK(partitionTopK(scored, k), k)
  }

  /** 1-based positional cosine-argmax cell of `v` against literal
    * centroids (first index wins ties — both engines' position functions
    * agree). A pure projection: no join, no shuffle.
    *
    * FLOP shape (r21): `cosine(v, c)` fuses ab/aa/bb into one loop, so a
    * k-way array recomputed v·v and c·c k times — 3k·dim multiplies per
    * row. Spelled as dot(v,c) / (sqrt(dot(v,v)) · √(c·c)), the c·c term
    * folds to a driver literal (selfDot — the same left fold) and
    * codegen's subexpression elimination computes sqrt(dot(v,v)) once
    * per row, leaving (k+1)·dim multiplies. Bit-identical values: the
    * fused kernel accumulates ab/aa/bb in the same index order as the
    * unfused three-dot form (pinned in VecExprSuite), and √(c·c) is one
    * IEEE sqrt on an identical input wherever it runs. */
  private def cellCosArr(v: Column, centroids: Seq[Array[Double]]): Column = {
    val na = sqrt(dot(v, v))
    array(centroids.map(p =>
      dot(v, litVec(p)) / (na * lit(math.sqrt(selfDot(p))))): _*)
  }

  private def cellOf(v: Column, centroids: Seq[Array[Double]]): Column = {
    val cc = cellCosArr(v, centroids)
    array_position(cc, array_max(cc))
  }

  /** The centroid matrix as one literal `array<array<double>>` —
    * `element_at(matrix, cell)` looks a row's assigned centroid back up
    * inline (cell is the 1-based [[cellOf]] index). */
  private def centroidMatrix(centroids: Seq[Array[Double]]): Column =
    litMat(centroids)

  /** Queries exploded to their top-2 cells (nprobe=2): argmax, then
    * argmax with the first masked out. Returns (query_id, qv, cell). */
  private def probeTop2(queries: DataFrame, centroids: Seq[Array[Double]],
                        vecCol: String, queryIdCol: String): DataFrame = {
    val n = centroids.length
    queries.select(col(queryIdCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("__cc", cellCosArr(col("qv"), centroids))
      .withColumn("__c1", array_position(col("__cc"), array_max(col("__cc"))))
      .withColumn("__cc2", expr(
        s"transform(sequence(1, $n), i -> if(i = __c1, cast(-1e9 as double), __cc[i-1]))"))
      .withColumn("__c2", array_position(col("__cc2"), array_max(col("__cc2"))))
      .withColumn("cell", explode(array(col("__c1"), col("__c2"))))
      .select(col("query_id"), col("qv"), col("cell"))
  }

  /** IVF-style ANN: the corpus is partitioned into cells by nearest
    * centroid; a query scores only candidates in its 2 closest cells
    * (nprobe=2). Cell assignment is a PURE PROJECTION — the centroids are
    * literal arrays, so each row computes its cosines and argmax inline
    * with no join and no shuffle; at 100 TB the scored set per query
    * drops to ~corpus × nprobe / nlist.
    *
    * `centroids` is a small deterministic vector list — production
    * builds it with k-means over a sample; tests/oracles use a fixed
    * slice of the corpus so the assignment replays exactly in SQL. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
              centroids: Seq[Array[Double]],
              vecCol: String, idCol: String, queryIdCol: String,
              k: Int): DataFrame = {
    // shared normalized() scan (r22) — canonicalizes to the plan the
    // trained-centroid callers pin (see bruteForceTopK); values identical
    val c = normalized(corpus, vecCol, idCol)
      .select(col("vec_id"), col("v").as("cv"))
      .withColumn("cell", cellOf(col("cv"), centroids))
      .withColumn("__cn", sqrt(dot(col("cv"), col("cv"))))
    val q = probeTop2(queries, centroids, vecCol, queryIdCol)
      .withColumn("__qn", sqrt(dot(col("qv"), col("qv"))))
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", dot(col("cv"), col("qv")) / (col("__cn") * col("__qn")))
      .select(col("query_id"), col("vec_id"), col("cos"))
    rankTopK(partitionTopK(scored, k), k)
  }

  /** Lloyd's k-means over the embedding column (spherical: cosine
    * assignment), the production centroid builder for [[ivfTopK]].
    * Returns the final cell assignment `(vec_id, cell)` after `iters`
    * centroid updates; cells are labeled by seed id (the k smallest
    * corpus ids — deterministic, no RNG).
    *
    * Scale shape per iteration:
    *  - assignment is a PURE PROJECTION: the k centroids are literal
    *    arrays, each row computes its cosines and argmax inline — no
    *    join, no shuffle, no window over the corpus;
    *  - the centroid update is ONE shuffle of (cell, pos) partial sums
    *    (map-side combine does the heavy lifting), then a k×dim-row
    *    collect of the new centroids — an aggregate result, not data.
    *
    * Cross-engine exactness: element means go through quantized integer
    * sums — `floor(val·S + 0.5)` summed as longs, divided once — because
    * a plain double sum is partition-order-dependent and would never
    * hash-match another engine. The division `sm / (cnt · S)` is two IEEE
    * ops on identical inputs, so the DuckDB oracle replays the centroids,
    * cosines, and argmax bit-exactly. Ties pick the smallest cell (first
    * max position, cells in ascending order). */
  def kmeansAssign(corpus: DataFrame, vecCol: String, idCol: String,
                   k: Int = 8, iters: Int = 2,
                   quantScale: Double = 1e6): DataFrame = {
    val e = normalized(corpus, vecCol, idCol)
    val cents = lloyd(e, k, iters, quantScale)
    assignCells(e, cents).select(col("vec_id"), col("cell"))
  }

  /** The trained centroid vectors themselves, for feeding [[ivfTopK]]
    * (cells relabel to 0-based list order there). */
  def kmeansCentroids(corpus: DataFrame, vecCol: String, idCol: String,
                      k: Int = 8, iters: Int = 2,
                      quantScale: Double = 1e6): Seq[Array[Double]] =
    lloyd(normalized(corpus, vecCol, idCol), k, iters, quantScale).map(_._2)

  /** The trained cells WITH their seed-id labels — the artifact
    * [[graft.operators.ModelStore.saveCentroids]] persists so scoring
    * jobs ([[kmeansAssignWithCells]], `Dedup.semanticDedupWithCells`)
    * reuse one training instead of re-running Lloyd per query. */
  def kmeansCells(corpus: DataFrame, vecCol: String, idCol: String,
                  k: Int = 8, iters: Int = 2,
                  quantScale: Double = 1e6): Seq[(Long, Array[Double])] =
    lloyd(normalized(corpus, vecCol, idCol), k, iters, quantScale)

  /** [[kmeansAssign]]'s scoring half against PRE-TRAINED cells (a
    * [[kmeansCells]] result, typically loaded from a ModelStore): the
    * same pure-projection assignment — literal centroids, no join, no
    * shuffle — with zero training scans. */
  def kmeansAssignWithCells(corpus: DataFrame, vecCol: String, idCol: String,
                            cents: Seq[(Long, Array[Double])]): DataFrame = {
    require(cents.nonEmpty, "kmeansAssignWithCells: empty centroid set")
    assignCells(normalized(corpus, vecCol, idCol), cents)
      .select(col("vec_id"), col("cell"))
  }

  /** SEMANTIC decontamination — the embedding-space twin of
    * [[Dedup.decontaminate]]'s n-gram filter: drop every corpus row
    * whose embedding is within cosine `minCos` of ANY benchmark
    * embedding. Catches paraphrased/reworded eval leakage that no
    * lexical overlap filter can see; run it AFTER the n-gram screen
    * (the two catch disjoint leak modes). Rows with a null embedding
    * are KEPT (decontamination only drops proven-contaminated rows).
    *
    * Tiering mirrors `decontaminate`: eval benches are small by nature,
    * so up to `maxLiteralVectors` the bench embeddings ride the plan as
    * literals and the gate is a PURE PROJECTION (per-row max-cosine via
    * the codegen'd dot kernel — no join, no shuffle, stateless →
    * stream-safe). Past the cap it degrades to the relational shape:
    * broadcast bench vectors, cosine filter BEFORE any shuffle, and
    * only the contaminated ids (tiny by construction) form the
    * anti-join relation — the corpus is scanned twice, never
    * exchanged. */
  def semanticDecontaminate(corpus: DataFrame, bench: DataFrame,
                            vecCol: String, idCol: String,
                            minCos: Double = 0.9,
                            maxLiteralVectors: Int = 256): DataFrame = {
    require(minCos > -1.0 && minCos <= 1.0,
      s"semanticDecontaminate: minCos in (-1,1], got $minCos")
    val probe = normalized(bench, vecCol, idCol)
      .limit(maxLiteralVectors + 1).collect()
    if (probe.isEmpty) return corpus
    if (probe.length <= maxLiteralVectors) {
      val vecs = probe.map(_.getSeq[Double](1).toArray)
      val na = sqrt(dot(col("__sdv"), col("__sdv")))
      val cosArr = array(vecs.toIndexedSeq.map(c =>
        dot(col("__sdv"), litVec(c)) / (na * lit(math.sqrt(selfDot(c))))): _*)
      corpus.withColumn("__sdv", toDoubleArray(col(vecCol)))
        .filter(!coalesce(array_max(cosArr) >= lit(minCos), lit(false)))
        .drop("__sdv")
    } else {
      val bv = normalized(bench, vecCol, idCol).select(col("v").as("__bv"))
      val contaminated = corpus
        .select(col(idCol).as("__cid"), toDoubleArray(col(vecCol)).as("__cv"))
        .crossJoin(broadcast(bv))
        .filter(cosine(col("__cv"), col("__bv")) >= lit(minCos))
        .select(col("__cid")).distinct()
      corpus.join(contaminated, corpus(idCol) === contaminated("__cid"),
        "left_anti")
    }
  }

  /** The REPORT twin of [[semanticDecontaminate]] — the evidence an eval
    * owner reviews before trusting the drop: for each benchmark vector,
    * how many corpus vectors sit within cosine `minCos` (`n_hits`), the
    * closest cosine seen (`max_cos`), and the closest corpus id
    * (`nearest_id`, ties → smallest id). One corpus scan against the
    * broadcast bench; the groupBy holds |bench| rows — an aggregate
    * result, not data. Corpus rows with null/malformed embeddings score
    * null cosine and are excluded (they can't witness contamination). */
  def semanticContaminationReport(corpus: DataFrame, bench: DataFrame,
                                  vecCol: String, idCol: String,
                                  minCos: Double = 0.9): DataFrame = {
    val c = normalized(corpus, vecCol, idCol)
    val b = normalized(bench, vecCol, idCol)
      .select(col("vec_id").as("bench_id"), col("v").as("bv"))
    c.withColumn("__cn", sqrt(dot(col("v"), col("v"))))
      .crossJoin(broadcast(b.withColumn("__bn",
        sqrt(dot(col("bv"), col("bv"))))))
      .withColumn("cos", dot(col("v"), col("bv")) / (col("__cn") * col("__bn")))
      .filter(col("cos").isNotNull)
      .groupBy("bench_id")
      .agg(sum(when(col("cos") >= lit(minCos), 1L).otherwise(0L)).as("n_hits"),
        max(col("cos")).as("max_cos"),
        (-max(struct(col("cos"), (-col("vec_id")).as("nid")))
          .getField("nid")).as("nearest_id"))
  }

  private def normalized(corpus: DataFrame, vecCol: String, idCol: String) =
    corpus.select(longId(corpus, idCol).as("vec_id"),
      toDoubleArray(col(vecCol)).as("v"))

  /** The id projection of every ANN op: an integral id column widened to
    * long (a non-integral one fails here rather than casting to nulls). */
  private def longId(df: DataFrame, idCol: String): Column = {
    Dedup.requireIntegralId(df, idCol)
    col(idCol).cast("long")
  }

  /** Cell assignment as a pure projection against literal centroids
    * (the [[cellCosArr]] hoisted-norm FLOP shape — at the SemDeDup k=64
    * this third of the multiplies was the single largest compute job in
    * the query). */
  private def assignCells(e: DataFrame,
                          cents: Seq[(Long, Array[Double])]): DataFrame = {
    val na = sqrt(dot(col("v"), col("v")))
    val cosArr = array(cents.map { case (_, c) =>
      dot(col("v"), litVec(c)) / (na * lit(math.sqrt(selfDot(c)))) }: _*)
    val cellIds = typedlit(cents.map(_._1))
    e.withColumn("__cc", cosArr)
      .withColumn("cell", element_at(cellIds,
        array_position(col("__cc"), array_max(col("__cc"))).cast("int")))
      .drop("__cc")
  }

  private def lloyd(e: DataFrame, k: Int, iters: Int,
                    quantScale: Double): Seq[(Long, Array[Double])] = {
    // PlanCache pin (r21): the normalized image is scanned once for the
    // seeds and once per Lloyd round (and callers like kmeansAssign scan
    // it again for the final assignment — the CacheManager matches their
    // identical logical plan); unpinned, every scan re-read the parquet
    // and re-ran the toDoubleArray projection
    PlanCache.pinned(e)
    // at most k rows come back: sort them on the driver rather than run
    // a range sort (a sampling job plus a shuffle job) before the collect
    var cents: Seq[(Long, Array[Double])] =
      e.filter(col("vec_id") < k)
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1).toSeq
    require(cents.nonEmpty,
      s"kmeansAssign: no seed vectors with id < $k — ids must start near 0 " +
        "(deterministic seeding keys on the k smallest ids)")
    for (_ <- 0 until iters) {
      val elems = assignCells(e, cents)
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "val")))
        .groupBy("cell", "pos")
        .agg(sum(floor(col("val") * quantScale + lit(0.5)).cast("long")).as("sm"),
          count(lit(1)).as("cnt"))
        .select(col("cell"), col("pos"),
          (col("sm").cast("double") / (col("cnt") * lit(quantScale))).as("cval"))
      cents = elems.groupBy("cell")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("cval")))),
          x => x.getField("cval")).as("cv"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1).toSeq
    }
    cents
  }

  /** Product-quantization codebooks (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search"): the `dim`-dimensional
    * space is split into `m` contiguous subspaces of `d = dim/m`
    * components; each subspace gets its own `ncode`-centroid codebook
    * trained by per-subspace Lloyd rounds. A vector then compresses to
    * `m` small codes (here m=4 bytes vs 64 floats — the memory lever
    * that makes billion-vector indexes fit in RAM at 100 TB scale).
    *
    * Determinism / cross-engine exactness (the [[kmeansAssign]]
    * discipline): seeds are the subvectors of the `ncode` smallest
    * vec_ids; assignment is squared-L2 via the dot expansion
    * `(x·x − 2·x·c) + c·c` — every term a left-fold [[VectorFunctions
    * .dot]], the exact op sequence DuckDB's `list_dot_product` runs, so
    * distances are bit-comparable; argmin ties take the smallest code;
    * means go through quantized long sums. A codeword that loses every
    * member keeps its previous value (the oracle replays this with a
    * LEFT JOIN + COALESCE).
    *
    * Scale shape per Lloyd round: assignment is a PURE PROJECTION
    * (literal codebooks — no join, no shuffle); the update is ONE
    * shuffle of (pos, code) partial sums with map-side combine, then an
    * m×ncode×d-row collect — aggregate results, not data. */
  def pqCodebooks(corpus: DataFrame, vecCol: String, idCol: String,
                  dim: Int, m: Int = 4, ncode: Int = 8, iters: Int = 1,
                  quantScale: Double = 1e6): Seq[Seq[Array[Double]]] = {
    pqTrain(normalized(corpus, vecCol, idCol), dim, m, ncode, iters, quantScale)
  }

  /** The Lloyd loop of [[pqCodebooks]] over an already-normalized frame
    * `e(vec_id: long, v: array<double>)` — shared with the residual
    * training of [[ivfPqCodebooks]]. */
  private def pqTrain(e: DataFrame, dim: Int, m: Int, ncode: Int,
                      iters: Int, quantScale: Double): Seq[Seq[Array[Double]]] = {
    require(m >= 1 && dim % m == 0,
      s"pqCodebooks: dim=$dim must split evenly into m=$m subspaces")
    val d = dim / m
    PlanCache.pinned(e) // the lloyd rule: seeds + one scan per round
    val seeds = e.filter(col("vec_id") < ncode) // driver sort: the lloyd rule
      .collect().sortBy(_.getLong(0)).map(_.getSeq[Double](1).toArray)
    require(seeds.nonEmpty,
      s"pqCodebooks: no seed vectors with id < $ncode — ids must start " +
        "near 0 (deterministic seeding keys on the ncode smallest ids)")
    var books: Seq[Seq[Array[Double]]] =
      (0 until m).map(s => seeds.toSeq.map(v => v.slice(s * d, s * d + d)))
    for (_ <- 0 until iters) {
      val parts = e.withColumn("__codes", pqCodeArray(books, d))
        .select(col("__codes"), posexplode(col("v")).as(Seq("pos", "val")))
        .withColumn("code",
          element_at(col("__codes"), (col("pos") / lit(d)).cast("int") + 1))
        .groupBy("pos", "code")
        .agg(sum(floor(col("val") * quantScale + lit(0.5)).cast("long")).as("sm"),
          count(lit(1)).as("cnt"))
        .select(col("pos"), col("code"),
          (col("sm").cast("double") / (col("cnt") * lit(quantScale))).as("cval"))
        .collect()
      val upd = parts.map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
      // codebook size follows the seed count — fewer than ncode when the
      // ids below ncode are sparse (codes are POSITIONAL: 0-based rank of
      // the seed in ascending-id order, the oracle's ROW_NUMBER()-1); a
      // code with no members keeps its codeword
      books = books.zipWithIndex.map { case (cb, s) =>
        cb.zipWithIndex.map { case (prev, j) =>
          Array.tabulate(d)(p => upd.getOrElse((s * d + p, j), prev(p)))
        }
      }
    }
    books
  }

  /** 0-based PQ code per subspace, as one `array<int>` projection against
    * literal codebooks — the encode step is shuffle-free. */
  private def pqCodeArray(books: Seq[Seq[Array[Double]]], d: Int): Column = {
    val codes = books.zipWithIndex.map { case (cb, s) =>
      val sub = slice(col("v"), s * d + 1, d)
      val ds = array(cb.map { cw =>
        val lc = litVec(cw)
        (dot(sub, sub) - lit(2.0) * dot(sub, lc)) + lit(selfDot(cw))
      }: _*)
      (array_position(ds, array_min(ds)) - lit(1L)).cast("int")
    }
    array(codes: _*)
  }

  /** Driver-side left-fold self-dot — the same IEEE op sequence as
    * [[VectorFunctions.dot]](a, a) and DuckDB's list_dot_product, so the
    * pre-folded constant stays bit-comparable cross-engine. */
  private def selfDot(a: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * a(i); i += 1 }
    s
  }

  /** Encode the corpus to PQ codes: (vec_id, codes array<int>), one code
    * per subspace, 0-based. Pure projection — at 100 TB this is the
    * index-build scan, writing m bytes per vector instead of the raw
    * embedding. */
  def pqEncode(corpus: DataFrame, vecCol: String, idCol: String,
               books: Seq[Seq[Array[Double]]]): DataFrame = {
    val d = books.head.head.length
    normalized(corpus, vecCol, idCol)
      .withColumn("codes", pqCodeArray(books, d))
      .select(col("vec_id"), col("codes"))
  }

  /** ADC (asymmetric distance computation) top-k over the PQ-compressed
    * corpus: each corpus row is reconstructed from its codewords
    * (a literal-array lookup projection — the scan reads only the m
    * codes, never the raw vectors) and scored against the exact query
    * vector by cosine. Same top-k shape as [[bruteForceTopK]]: broadcast
    * queries, per-partition bounded heaps, one final shuffle of
    * ≤ k × partitions rows per query.
    *
    * Production folds the per-query codeword dot products into an
    * m×ncode lookup table (m adds per pair instead of dim multiplies);
    * the reconstruction form here computes the identical value with the
    * identical plan shape (projection + broadcast join) and keeps the
    * arithmetic DuckDB-replayable. */
  def pqTopK(corpus: DataFrame, queries: DataFrame,
             books: Seq[Seq[Array[Double]]],
             vecCol: String, idCol: String, queryIdCol: String,
             k: Int): DataFrame = {
    // NOTE (r21): the hoisted-norm form is deliberately NOT applied to
    // the synthesized corpus vectors (rv here, fv in ivfPqTopK, the SQ
    // recon): referencing the reconstruction twice (norm + score)
    // duplicates the codebook-lookup expression per row and measured
    // SLOWER (q_ann_pq 3.6 s vs 1.0 s isolated) — the fused kernel is
    // the right shape when the vector itself is synthesized
    val c = pqEncode(corpus, vecCol, idCol, books)
      .select(col("vec_id"), pqReconExpr(books, col("codes")).as("rv"))
    val q = queries.select(col(queryIdCol).as("query_id"),
      toDoubleArray(col(vecCol)).as("qv"))
    val scored = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("rv"), col("qv")))
      .select(col("query_id"), col("vec_id"), col("cos"))
    rankTopK(partitionTopK(scored, k), k)
  }

  /** Codeword reconstruction of a PQ code array: per subspace, a literal
    * codebook lookup, concatenated back to the full vector — a pure
    * projection (the scan reads only the m codes). */
  private def pqReconExpr(books: Seq[Seq[Array[Double]]],
                          codes: Column): Column =
    concat(books.zipWithIndex.map { case (cb, s) =>
      val cwLit = litMat(cb)
      element_at(cwLit, element_at(codes, s + 1) + lit(1))
    }: _*)

  /** Coarse-cell residual frame: every vector joined (inline, via the
    * literal centroid matrix — no join operator) with its assigned
    * centroid, `v` replaced by `v − centroid`. Keeps (vec_id, cell, v). */
  private def residuals(e: DataFrame,
                        centroids: Seq[Array[Double]]): DataFrame =
    e.withColumn("cell", cellOf(col("v"), centroids))
      .withColumn("v", zip_with(col("v"),
        element_at(centroidMatrix(centroids), col("cell").cast("int")),
        (x, c) => x - c))

  /** IVF-PQ codebooks (Jégou et al. 2011 §IV, the FAISS IVFADC layout):
    * the PQ codebooks are trained on coarse-cell RESIDUALS `v − centroid`
    * rather than raw vectors — residuals concentrate around the origin,
    * so the same code budget quantizes them far more finely. Training
    * inherits [[pqCodebooks]]'s determinism discipline (residual seeds of
    * the `ncode` smallest vec_ids, dot-expansion L2, quantized means);
    * the residual itself is one IEEE subtract per element on identical
    * inputs, so the DuckDB oracle replays it bit-exactly. */
  def ivfPqCodebooks(corpus: DataFrame, vecCol: String, idCol: String,
                     centroids: Seq[Array[Double]],
                     m: Int = 4, ncode: Int = 8, iters: Int = 1,
                     quantScale: Double = 1e6): Seq[Seq[Array[Double]]] =
    pqTrain(residuals(normalized(corpus, vecCol, idCol), centroids),
      centroids.head.length, m, ncode, iters, quantScale)

  /** IVF-PQ ANN (FAISS IVFADC): the production billion-vector index
    * shape — coarse cells prune WHICH vectors a query scores (nprobe=2,
    * the [[ivfTopK]] join), PQ residual codes shrink WHAT each candidate
    * costs to score (m codes instead of the raw vector). Per candidate
    * the scored vector is `centroid(cell) + decode(codes)`; everything
    * up to the probe join is a pure projection, and the top-k keeps the
    * bounded-heap shape of [[bruteForceTopK]]. At 100 TB: the scan reads
    * m bytes per vector, the probe prunes to ~corpus × nprobe / nlist,
    * and no stage funnels the corpus through one partition. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame,
                centroids: Seq[Array[Double]],
                books: Seq[Seq[Array[Double]]],
                vecCol: String, idCol: String, queryIdCol: String,
                k: Int): DataFrame = {
    val d = books.head.head.length
    val r = residuals(normalized(corpus, vecCol, idCol), centroids)
    val c = r.withColumn("codes", pqCodeArray(books, d))
      .select(col("vec_id"), col("cell"),
        zip_with(
          element_at(centroidMatrix(centroids), col("cell").cast("int")),
          pqReconExpr(books, col("codes")),
          (a, b) => a + b).as("fv"))
    val q = probeTop2(queries, centroids, vecCol, queryIdCol)
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("fv"), col("qv")))
      .select(col("query_id"), col("vec_id"), col("cos"))
    rankTopK(partitionTopK(scored, k), k)
  }

  /** Johnson-Lindenstrauss random projection: `outDim` deterministic
    * hyperplanes (the [[graft.functions.VectorFunctions.hashPlanes]]
    * md5-derived family — exact-double components, so the oracle
    * re-derives them), each output component `dot(v, p_i)/√outDim`. The
    * dimensionality lever BEFORE the ANN family: projecting 64 → 16
    * dims cuts every downstream scoring/bucketing pass ~4× while JL
    * keeps pairwise distances within (1±ε). A pure projection — no
    * join, no shuffle; output is wide (`jl_0..jl_{outDim−1}`), each
    * component bit-replayable (left-fold dot × one literal scale). */
  def jlProject(corpus: DataFrame, vecCol: String, idCol: String,
                dim: Int, outDim: Int, seed: Long = 42L): DataFrame = {
    require(outDim >= 1 && outDim <= dim,
      s"jlProject: need 1 <= outDim <= dim, got outDim=$outDim dim=$dim")
    val planes = hashPlanes(outDim, dim, seed)
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    val e = normalized(corpus, vecCol, idCol)
    e.select(col("vec_id") +: planes.zipWithIndex.map { case (p, i) =>
      (dot(col("v"), litVec(p)) * lit(scale))
        .as(s"jl_$i")
    }: _*)
  }

  /** Embedding-similarity JOIN — entity matching for vectors (the
    * [[graft.operators.Dedup.jaccardSimilarityJoinAB]] idea in cosine
    * space): every LEFT row enriched with its single best RIGHT match at
    * or above `minCos` (ties → smallest right id), null match columns
    * when nothing qualifies — a left outer join, not a top-k report.
    * No self-pair exclusion: the two sides are different entity tables,
    * so colliding id VALUES are unrelated rows.
    *
    * Scale shape: LEFT is the broadcast side (the probe set — catalogs,
    * queries, label sets are small by nature); the right/corpus side
    * streams through the bounded per-partition heap at k=1, so the
    * final shuffle carries ≤ partitions rows per left row. */
  def semanticJoin(left: DataFrame, right: DataFrame, vecCol: String,
                   leftIdCol: String, rightIdCol: String,
                   minCos: Double = 0.5): DataFrame = {
    val l = left.select(col(leftIdCol).cast("long").as("query_id"),
      toDoubleArray(col(vecCol)).as("qv"))
    val r = right.select(col(rightIdCol).cast("long").as("vec_id"),
      col(vecCol).as("cv"))
    val scored = r.withColumn("__cn", sqrt(dot(col("cv"), col("cv"))))
      .crossJoin(broadcast(l.withColumn("__qn",
        sqrt(dot(col("qv"), col("qv"))))))
      .withColumn("cos", dot(col("cv"), col("qv")) / (col("__cn") * col("__qn")))
      .filter(col("cos") >= lit(minCos))
      .select(col("query_id"), col("vec_id"), col("cos"))
    val best = rankTopK(partitionTopK(scored, 1), 1)
      .select(col("query_id"), col("vec_id").as("match_id"),
        col("cos").as("match_cos"))
    left.select(col(leftIdCol).cast("long").as(leftIdCol))
      .join(best, col(leftIdCol) === col("query_id"), "left")
      .select(col(leftIdCol), col("match_id"), col("match_cos"))
  }

  /** DCG ranking-quality eval — the graded complement of the recall@k
    * harness: recall counts set overlap, DCG also penalizes an index for
    * returning the right vectors in the wrong ORDER (and credits
    * almost-right vectors recall scores zero). Gain of a retrieved rank-i
    * vector is its TRUE cosine; discount is ln(i+1) (the natural-log DCG
    * variant — ln has pinned cross-engine parity where log2 does not);
    * per-term values are micro-quantized to longs so the sums are
    * order-insensitive, and `ndcg` is one division of identical
    * integers. Output per query: (query_id, dcg_micro, idcg_micro,
    * ndcg) where idcg is the brute-force ranking's own DCG.
    *
    * The approximate side is the UNCHANGED production LSH path —
    * evaluate the config you ship, not a twin. Cost: two bounded top-k
    * runs; the groupBy holds |queries| rows. */
  def ndcgEval(corpus: DataFrame, queries: DataFrame,
               vecCol: String, idCol: String, queryIdCol: String,
               k: Int, dim: Int, numPlanes: Int = 8,
               probeBits: Int = 1): DataFrame = {
    // gains CLIP at zero (the standard nDCG convention): with raw
    // negative cosines a shorter approximate list could out-sum the
    // "ideal" one and the dcg <= idcg invariant would not hold
    def dcg(ranked: DataFrame, out: String): DataFrame =
      ranked.select(col("query_id"),
        floor(greatest(col("cos"), lit(0.0)) * lit(1000000.0)
          / log(col("rank").cast("double") + lit(1.0))
          + lit(0.5)).cast("long").as("__t"))
        .groupBy("query_id").agg(sum(col("__t")).as(out))
    val ideal = dcg(bruteForceTopK(corpus, queries, vecCol, idCol,
      queryIdCol, k), "idcg_micro")
    val approx = dcg(lshTopK(corpus, queries, vecCol, idCol, queryIdCol,
      k, dim, numPlanes, probeBits), "dcg_micro")
    ideal.join(approx, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("dcg_micro"), lit(0L)).as("dcg_micro"),
        col("idcg_micro"))
      .withColumn("ndcg",
        when(col("idcg_micro") === 0L, lit(null).cast("double"))
          .otherwise(col("dcg_micro").cast("double") /
            col("idcg_micro").cast("double")))
  }

  /** MMR diversified re-ranking (Carbonell & Goldstein 1998): from each
    * query's `candidates` best-by-cosine corpus vectors, greedily select
    * `k` maximizing `λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s)` — the
    * retrieval step that keeps RAG / few-shot example sets from
    * returning k near-copies of the same document. Ties take the
    * smallest vec_id at every step.
    *
    * Scale shape: the candidate stage is [[bruteForceTopK]] (swap in any
    * ANN index upstream — the contract is only "bounded candidates per
    * query"); the greedy loop is inherently sequential but runs PER
    * QUERY over ≤ `candidates` vectors inside `flatMapGroups` — state is
    * bounded, queries parallelize, the corpus is touched only by the
    * candidate stage. Cross-engine exactness: rel rides in from the
    * fused cosine kernel; candidate-pair sims use the same one-pass
    * accumulate + `ab/(√aa·√bb)` op order (bit-identical to the unfused
    * form, VecExprSuite), and the score arithmetic is two IEEE ops with
    * literal λ — so a step-generated SQL chain replays every pick. */
  def mmrRerank(corpus: DataFrame, queries: DataFrame,
                vecCol: String, idCol: String, queryIdCol: String,
                candidates: Int = 20, k: Int = 5,
                lambda: Double = 0.5): DataFrame = {
    require(candidates >= 1 && k >= 1 && k <= candidates,
      s"mmrRerank: need 1 <= k <= candidates, got k=$k candidates=$candidates")
    require(lambda >= 0.0 && lambda <= 1.0,
      s"mmrRerank: lambda in [0,1], got $lambda")
    val oneMinus = 1.0 - lambda
    val cand = bruteForceTopK(corpus, queries, vecCol, idCol, queryIdCol,
      candidates)
    val withV = corpus
      .select(col(idCol).cast("long").as("vec_id"),
        toDoubleArray(col(vecCol)).as("cv"))
      .join(broadcast(cand.select(col("query_id"), col("vec_id"),
        col("cos").as("rel"))), Seq("vec_id"))
      .select(col("query_id"), col("vec_id"), col("cv"), col("rel"))
    val outSchema = StructType(Seq(
      StructField("query_id", LongType), StructField("vec_id", LongType),
      StructField("mmr_rank", IntegerType)))
    implicit val enc = Encoders.row(outSchema)
    import org.apache.spark.sql.Encoders.scalaLong
    withV.groupByKey(_.getLong(0))(scalaLong).flatMapGroups { (q, it) =>
      val cands = it.map(r => (r.getLong(1),
        r.getSeq[Double](2).toArray, r.getDouble(3))).toArray
      // one-pass fused cosine (the VecCosine op order)
      def sim(a: Array[Double], b: Array[Double]): Double = {
        var ab = 0.0; var aa = 0.0; var bb = 0.0; var i = 0
        while (i < a.length) {
          ab += a(i) * b(i); aa += a(i) * a(i); bb += b(i) * b(i); i += 1
        }
        ab / (math.sqrt(aa) * math.sqrt(bb))
      }
      val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
      val used = scala.collection.mutable.HashSet.empty[Long]
      val out = scala.collection.mutable.ArrayBuffer.empty[Row]
      // termination bound on DISTINCT ids: duplicate vec_ids in a
      // degenerate corpus would otherwise keep used.size below the raw
      // array length forever once every distinct id is used
      val nDistinct = cands.iterator.map(_._1).toSet.size
      while (selected.length < k && used.size < nDistinct) {
        var bestId = -1L; var bestScore = Double.NegativeInfinity
        var bestV: Array[Double] = null
        cands.foreach { case (id, v, rel) =>
          if (!used.contains(id)) {
            val score =
              if (selected.isEmpty) rel
              else {
                var ms = Double.NegativeInfinity
                selected.foreach { case (_, sv) =>
                  val s = sim(v, sv); if (s > ms) ms = s
                }
                lambda * rel - oneMinus * ms
              }
            if (score > bestScore || (score == bestScore && id < bestId)) {
              bestScore = score; bestId = id; bestV = v
            }
          }
        }
        if (bestId < 0) {
          // every remaining score is NaN (degenerate zero-norm vectors):
          // nothing comparable left to pick
          used ++= cands.map(_._1)
        } else {
          selected += ((bestId, bestV)); used += bestId
          out += Row(q, bestId, selected.length)
        }
      }
      out.iterator
    }
  }

  /** Greedy k-center coreset (Gonzalez 1985 farthest-point traversal)
    * over cosine distance: seed with the smallest id, then repeatedly
    * take the point FARTHEST from the selected set (minimal max-cosine;
    * ties → smallest id). The classic 2-approximation to the k-center
    * objective — the "maximally spread" subset selector a curation
    * pipeline uses for diverse eval/finetune picks, where
    * [[clusterBalancedSample]] wants proportional coverage and
    * [[mmrRerank]] diversifies around a QUERY, k-center diversifies the
    * corpus itself.
    *
    * Scale shape: k driver-orchestrated rounds; each round is one scan
    * computing max-cosine-to-selected as a PURE PROJECTION against the
    * ≤ k selected vectors as literals (the [[cellCosArr]] pattern — no
    * join, no shuffle) and one TakeOrdered(1) argmin — k bounded jobs,
    * driver state bounded at k vectors. k is a coreset size (tens), not
    * a partition count; for thousands of centers use [[lloydCentroids]]
    * and sample per cell instead. NULL embeddings are excluded up
    * front (a missing vector cannot be a center — and Spark's default
    * NULLS FIRST ascending would otherwise select it immediately as
    * "farthest"; the oracle filters identically). Zero-norm vectors
    * have NaN cosine everywhere and sort past every real candidate
    * (NaN is greatest in both engines), so they are picked only after
    * every comparable point — never silently first. */
  def kCenter(corpus: DataFrame, vecCol: String, idCol: String,
              k: Int): DataFrame = {
    require(k >= 1, s"kCenter: k=$k must be >= 1")
    val spark = corpus.sparkSession
    import spark.implicits._
    // Two execution tiers sharing one greedy semantics (the k=64 suite
    // pin proves them selection-identical — max over doubles
    // reassociates exactly and NaN stays greatest in both engines, so
    // the oracle replays either form unchanged):
    //
    //  - k ≤ CarriedTierMinK: recompute max-cos over ALL selected
    //    centers as literal expressions each round, over ONE persisted
    //    (vec_id, v) image — O(k²·dim·n) arithmetic but ZERO per-round
    //    materialization. At coreset-sized k the k²/2 literal cosines
    //    are far cheaper than writing+reading a truncated block image
    //    every round: the r17/r18 always-carried form cost q_vector_e2e
    //    +37% isolated at k=8 (PLANS.md r19 BenchOne triage).
    //  - k > CarriedTierMinK: carry the running max-cos as a
    //    MATERIALIZED __mc column — round r takes greatest(carried,
    //    cosine-vs-the-ONE-new-center), O(k·dim·n) total — with
    //    per-round lineage truncation (the connectedComponents idiom:
    //    reliable checkpoint when a dir is configured, else
    //    localCheckpoint); without it the withColumn chain re-executes
    //    every prior round's cosines AND the plan tree grows per round.
    val sc = spark.sparkContext
    val e = corpus.select(col(idCol).cast("long").as("vec_id"),
      toDoubleArray(col(vecCol)).as("v"))
      .filter(col("v").isNotNull)
    // Cache the two-column image BEFORE the seed scan: the seed
    // TakeOrdered evaluates the whole upstream (q_vector_e2e feeds a
    // full SemDeDup pipeline in), and without the persist the first
    // round would evaluate it a SECOND time — the r17→r18 regression
    // PLANS.md r19 pins (upstream ran twice; +37% isolated). The seed
    // scan doubles as the cache materializer. k == 1 skips the persist:
    // the seed is the answer and nothing re-reads e (ADVICE r18).
    if (k > 1)
      e.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val first = e.orderBy("vec_id").limit(1).collect()
    if (first.isEmpty)
      return Seq.empty[(Long, Long)].toDF("vec_id", "step")
    val sel = scala.collection.mutable.ArrayBuffer(
      (first(0).getLong(0), first(0).getSeq[Double](1).toArray))
    def centerCos(c: Array[Double]): Column =
      dot(col("v"), litVec(c)) /
        (sqrt(dot(col("v"), col("v"))) * lit(math.sqrt(selfDot(c))))
    def notSelected: Column =
      !col("vec_id").isin(sel.toSeq.map(_._1): _*)
    def takeNext(scored: DataFrame): Option[(Long, Array[Double])] = {
      val next = scored.orderBy(col("__mc").asc, col("vec_id").asc)
        .limit(1).collect()
      if (next.isEmpty) None
      else Some((next(0).getLong(0), next(0).getSeq[Double](1).toArray))
    }
    // k == 1: the seed IS the answer — no persist, no extra job
    // (ADVICE r18: the old form paid a full materialization it never read)
    if (k > CarriedTierMinK) {
      // Carried tier. Bounded-footprint truncation (VERDICT r17 #6):
      // EAGER cuts; the superseded round's blocks are freed the moment
      // the next round's truncation materializes — at most TWO rounds
      // of (vec_id, v, __mc) resident. Pinning is by the EXACT
      // checkpointed RDD lifted from the returned Dataset's LogicalRDD
      // leaf (ADVICE r18) — never a global getPersistentRDDs diff,
      // which on a shared SparkContext could capture and later destroy
      // a concurrent thread's persist or localCheckpoint. On the
      // reliable path the round is persisted across the checkpoint so
      // the file write reads cached blocks, and the superseded round's
      // checkpoint DIR is deleted explicitly — no reliance on
      // spark.cleaner.referenceTracking.cleanCheckpoints. The first
      // truncation also absorbs the expensive upstream (q_vector_e2e
      // feeds SemDeDup survivors in).
      val reliable = sc.getCheckpointDir.isDefined
      var pinned: Option[org.apache.spark.rdd.RDD[_]] = None
      def freePinned(): Unit = {
        pinned.foreach { r =>
          r.unpersist(false)
          r.getCheckpointFile.foreach { f =>
            val p = new org.apache.hadoop.fs.Path(f)
            p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
          }
        }
        pinned = None
      }
      def truncate(df: DataFrame): DataFrame = {
        val t =
          if (reliable) {
            df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try df.checkpoint(true) finally df.unpersist(false)
          } else df.localCheckpoint(true)
        // t is materialized (eager both arms) and self-contained — the
        // superseded round is safe to free now
        freePinned()
        pinned = t.queryExecution.analyzed.collectFirst {
          case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd }
        t
      }
      try {
        var cur = truncate(e.withColumn("__mc", centerCos(sel.head._2)))
        // the first truncation copied everything it needs out of the
        // cached image — drop it so at most two ROUNDS stay resident
        e.unpersist(false)
        var exhausted = false
        while (sel.length < k && !exhausted) {
          takeNext(cur.filter(notSelected)) match {
            case None => exhausted = true
            case Some((id, nv)) =>
              sel += ((id, nv))
              if (sel.length < k)
                cur = truncate(cur.withColumn("__mc",
                  greatest(col("__mc"), centerCos(nv))))
          }
        }
      } finally freePinned() // the result below is driver-side only — no
      // plan depends on cur, so the last round's blocks + checkpoint dir
      // (and, on failure, whatever round was live) are released before
      // returning
    } else if (k > 1) {
      // Recompute tier: k-1 scan+TakeOrdered jobs over the cached
      // two-column image, nothing else materialized.
      var exhausted = false
      while (sel.length < k && !exhausted) {
        val mc = sel.toSeq.map(c => centerCos(c._2)).reduce(greatest(_, _))
        takeNext(e.filter(notSelected).withColumn("__mc", mc)) match {
          case None => exhausted = true
          case Some((id, nv)) => sel += ((id, nv))
        }
      }
    }
    sel.toSeq.zipWithIndex
      .map { case ((id, _), i) => (id, (i + 1).toLong) }
      .toDF("vec_id", "step")
    } finally { if (k > 1) e.unpersist(false) }
  }

  /** Largest k served by kCenter's recompute tier (literal-cosine
    * rescoring over one cached image); above it the carried-__mc tier
    * with per-round lineage truncation takes over. At the boundary the
    * recompute round averages ~CarriedTierMinK/2 extra O(dim) cosines
    * per row — cheaper than one full block-image write+read per round
    * at every scale measured (PLANS.md r19). */
  private val CarriedTierMinK = 16

  /** Per-dimension scalar-quantization bounds (the FAISS SQ8 trainer):
    * one bounded aggregate over the corpus — dim rows out, min/max are
    * exact order-insensitive aggregates. */
  def sqBounds(corpus: DataFrame, vecCol: String,
               idCol: String): (Array[Double], Array[Double]) = {
    val rows = normalized(corpus, vecCol, idCol)
      .select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("pos").agg(min("x").as("lo"), max("x").as("hi"))
      .orderBy("pos").collect()
    (rows.map(_.getDouble(1)), rows.map(_.getDouble(2)))
  }

  /** Scalar-quantization encode (SQ8): each component compressed to an
    * 8-bit level `floor((x − lo)·255/(hi − lo) + 0.5)` against the
    * trained per-dimension bounds — 1 byte per component, the 4×
    * compression tier below PQ's m-bytes-per-vector. A pure projection
    * against literal bounds (no join, no shuffle; constant dimensions
    * encode 0). Output long format (vec_id, pos, code) — every code
    * individually oracle-pinned. */
  def sqEncode(corpus: DataFrame, vecCol: String, idCol: String,
               lo: Array[Double], hi: Array[Double]): DataFrame =
    normalized(corpus, vecCol, idCol)
      .select(col("vec_id"),
        posexplode(sqCodes(col("v"), lo, hi)).as(Seq("pos", "code")))

  /** The SQ8 level array of `v` against literal bounds — ONE definition
    * shared by encode and search, mirroring the oracle's single
    * `sqCodeExpr` (a drifted copy would silently desynchronize
    * q_sq_encode from q_ann_sq). */
  private def sqCodes(v: Column, lo: Array[Double],
                      hi: Array[Double]): Column = {
    val loLit = litVec(lo)
    val hiLit = litVec(hi)
    transform(v, (x, i) => {
      val l = element_at(loLit, i + 1)
      val h = element_at(hiLit, i + 1)
      when(h === l, lit(0L))
        .otherwise(floor((x - l) * lit(255.0) / (h - l) + lit(0.5)).cast("long"))
    })
  }

  /** ANN over the SQ8-compressed corpus: candidates are reconstructed
    * per component as `lo + code·step` (step = (hi−lo)/255, a literal)
    * and scored by cosine against the exact query vectors — the
    * [[pqTopK]] ADC shape at SQ8's finer-but-larger compression point.
    * Broadcast queries, bounded per-partition heaps; the scan reads one
    * byte per component at production storage. */
  def sqTopK(corpus: DataFrame, queries: DataFrame,
             lo: Array[Double], hi: Array[Double],
             vecCol: String, idCol: String, queryIdCol: String,
             k: Int): DataFrame = {
    val loLit = litVec(lo)
    val hiLit = litVec(hi)
    val codes = sqCodes(col("v"), lo, hi)
    val recon = transform(codes, (c, i) => {
      val l = element_at(loLit, i + 1)
      val h = element_at(hiLit, i + 1)
      l + c.cast("double") * ((h - l) / lit(255.0))
    })
    val c = normalized(corpus, vecCol, idCol)
      .select(col("vec_id"), recon.as("rv"))
    val q = queries.select(col(queryIdCol).as("query_id"),
      toDoubleArray(col(vecCol)).as("qv"))
    val scored = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("rv"), col("qv")))
      .select(col("query_id"), col("vec_id"), col("cos"))
    rankTopK(partitionTopK(scored, k), k)
  }

  /** LSH-bucketed ANN: corpus and queries are bucketed by sign-bit
    * hyperplane hash; candidates share the bucket (multi-probe: flip up to
    * `probeBits` of the query's bits). Recall is tunable via plane count
    * and probes; scoring cost drops from |corpus| to the bucket sizes.
    * Multi-probe duplicates are pruned per partition and finally on the
    * pruned set — no extra full shuffle. */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              vecCol: String, idCol: String, queryIdCol: String,
              k: Int, dim: Int, numPlanes: Int = 8,
              probeBits: Int = 1): DataFrame = {
    val planes = hashPlanes(numPlanes, dim)
    // shared normalized() scan (r22) — canonicalizes to the plan the
    // trained-centroid callers pin (see bruteForceTopK); values identical
    val c = normalized(corpus, vecCol, idCol)
      .select(col("vec_id"), col("v").as("cv"))
      .withColumn("bucket", hyperplaneBucket(col("cv"), planes))
    // query buckets + single-bit-flip probes (multi-probe LSH)
    val qBase = queries.select(col(queryIdCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qbucket", hyperplaneBucket(col("qv"), planes))
    val probes: Column = if (probeBits >= 1) {
      val flips = (0 until numPlanes).map(i =>
        col("qbucket").bitwiseXOR(shiftleft(lit(1L), i)))
      array((col("qbucket") +: flips): _*)
    } else array(col("qbucket"))
    val q = qBase.withColumn("bucket", explode(probes))
      .withColumn("__qn", sqrt(dot(col("qv"), col("qv"))))
    val scored = c.withColumn("__cn", sqrt(dot(col("cv"), col("cv"))))
      .join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", dot(col("cv"), col("qv")) / (col("__cn") * col("__qn")))
      .select(col("query_id"), col("vec_id"), col("cos"))
    rankTopK(partitionTopK(scored, k), k)
  }
}
