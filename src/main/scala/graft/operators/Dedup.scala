package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._

/** Corpus deduplication at training-data scale. Beyond-reference surface
  * (the reference's closest verb is row-`unique`, `dataframe.nim:2370-2422`).
  *
  * Every method is a pure DataFrame transform: one shuffle per logical
  * phase, no driver-side loops, no UDFs — the MinHash/SimHash math and
  * the in-bucket pair expansion are codegen'd kernels (`plans/`), so
  * they run per-partition inside whole-stage codegen.
  * Skew guards: LSH bucket sizes are capped (a degenerate bucket of 10⁶
  * identical docs would otherwise produce 10¹² candidate pairs), and the
  * cap is enforced inside the aggregation buffer itself
  * ([[cappedBuckets]]) — the degenerate bucket never materializes
  * anywhere in the plan, not even transiently before a size filter.
  *
  * All hashes are md5-derived ([[graft.functions.TextFunctions.hash48]]) so
  * every stage is bit-reproducible in any engine with md5 — the DuckDB
  * oracles replay the full MinHash/SimHash pipelines exactly.
  */
object Dedup {

  /** Bounded driver-side probe: collect at most `cap + 1` values of a
    * single long column as a primitive `Array[Long]` (8 bytes/element
    * retained — 16 MB at cap 2M — not boxed `Row`s, whose 10-20x
    * wrapper overhead would make the same probe cost hundreds of MB).
    * Per-element boxing during decode is transient. The cap + 1 limit
    * saturates at Int.MaxValue (the CollectListCapped rule): a JVM
    * array can't exceed it, and the overflowed negative limit would be
    * rejected by Spark's analyzer. */
  private def probeLongs(df: DataFrame, c: String, cap: Int): Array[Long] = {
    val enc = org.apache.spark.sql.Encoders.scalaLong
    val lim = if (cap == Int.MaxValue) cap else cap + 1
    df.select(col(c)).limit(lim).as(enc).collect()
  }

  /** Persist → probe → release lifecycle shared by the tiered membership
    * ops ([[decontaminate]], [[contaminationScore]],
    * [[winnowIncrementalTiered]]): pin the distinct single-long-column
    * `store`, probe its head ONCE, and dispatch. Small tier: the probe
    * fully consumed the store, so the pin is dropped and `small`
    * receives the SORTED head array. Large tier: `requireBatch` refuses
    * a streaming input FIRST (before paying a snapshot of an oversized
    * store), then the store is eagerly truncated through the hot cache
    * — reliable checkpoint when a dir is configured (survives executor
    * loss), else localCheckpoint (the connectedComponents trade) — so
    * the RETURNED plan reads materialized blocks instead of re-deriving
    * the store scan + distinct at execution; the pin is dropped (the
    * blocks live with the snapshot plan and are reaped by
    * ContextCleaner when it is collected) and `large` receives the
    * snapshot. EVERY throw path drops the pin — the probe itself can
    * fail at runtime (corrupt input, cancelled job) and a retrying
    * long-running driver would otherwise leak one cached copy per
    * attempt; unpersist is idempotent, so the success paths' own
    * releases make the catch a no-op there.
    *
    * The pin is taken BEFORE the probe even though the small tier's
    * probe is its only consumer — a deliberate trade: on the small tier
    * the cache writes are bounded by the (small) store itself and by
    * the partitions the `limit` probe actually consumes, while on the
    * large tier the pre-probe pin is what lets the checkpoint
    * materialize from cache instead of re-deriving the oversized
    * scan + distinct (the expensive case this lifecycle exists for). */
  private def tieredOverStore(store: DataFrame, c: String, cap: Int)
                             (requireBatch: => Unit)
                             (small: Array[Long] => DataFrame)
                             (large: DataFrame => DataFrame): DataFrame = {
    store.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val head = probeLongs(store, c, cap)
      if (head.length <= cap) {
        store.unpersist(blocking = false)
        java.util.Arrays.sort(head)
        small(head)
      } else {
        requireBatch
        val snap =
          if (store.sparkSession.sparkContext.getCheckpointDir.isDefined)
            store.checkpoint(true)
          else store.localCheckpoint(true)
        store.unpersist(blocking = false)
        large(snap)
      }
    } catch {
      case t: Throwable => store.unpersist(blocking = false); throw t
    }
  }

  /** Capped LSH bucket build — the scale contract every candidate stage
    * shares. Discipline from [[Corpus.postings]] ("the aggregation buffer
    * is bounded by maxDf ids per token by construction"), strengthened:
    * rather than counting per key first and joining survivors back (two
    * corpus scans), the cap is enforced INSIDE the aggregation buffer by
    * [[org.apache.spark.sql.graftshim.CollectListCapped]] — a bucket
    * retains at most `bucketCap + 1` members at every point in the plan
    * (per-row update, map-side partials, shuffle rows, final merge), so
    * a boilerplate-hot key (an empty-text fingerprint, a template's band
    * hash) with 10^8 members costs O(bucketCap) per partial instead of a
    * multi-GB single-key buffer, and the input is scanned ONCE. The
    * `[2, bucketCap]` size filter then drops over-cap buckets (retained
    * size caps at bucketCap + 1 > bucketCap) exactly as the uncapped
    * collect_list + filter would — identical survivor sets and member
    * lists, property-pinned in DedupSuite including hot keys torn across
    * partials. */
  private[graft] def cappedBuckets(banded: DataFrame, keys: Seq[Column],
                                   member: Column, bucketCap: Int): DataFrame = {
    import org.apache.spark.sql.graftshim.{CollectListCapped, Shim}
    val capped = Shim.toColumn(
      CollectListCapped(Shim.toExpression(member), bucketCap).toAggregateExpression())
    banded.groupBy(keys: _*)
      .agg(capped.as("members"))
      .filter(size(col("members")).between(2, bucketCap))
  }

  // ------------------------------------------------------------- exact

  /** Exact dedup on the md5 of normalized text: keeps the row with the
    * smallest `idCol` per fingerprint (deterministic survivor), appends
    * `n_dups`. One shuffle on the fingerprint. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val fp = fingerprint(col(textCol))
    val w = Window.partitionBy(col("fp")).orderBy(col(idCol))
    df.withColumn("fp", fp)
      .withColumn("n_dups", count(lit(1)).over(Window.partitionBy(col("fp"))))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Incremental exact dedup — the daily-ingestion stage: drop from
    * `newDocs` every document whose normalized-text fingerprint already
    * exists in `corpus`, then dedup within the batch itself (smallest
    * `idCol` survives). The historical corpus is scanned once for its
    * fingerprint projection and NEVER re-deduped or rewritten; the only
    * shuffles are on the (small) new batch. At 100 TB the corpus side is
    * a pure scan→project→distinct feeding the anti-join — and when the
    * fingerprint set of the corpus is maintained as its own table (the
    * production shape), use [[exactIncrementalAgainstFps]] with that
    * table instead of rescanning the raw corpus. */
  def exactIncremental(newDocs: DataFrame, corpus: DataFrame,
                       textCol: String, idCol: String): DataFrame =
    exactIncrementalAgainstFps(newDocs, textCol, idCol,
      corpus.select(fingerprint(col(textCol)).as("fp")), "fp")

  /** [[exactIncremental]] against an already-materialized fingerprint
    * table (`fpCol` holds [[graft.functions.TextFunctions.fingerprint]]
    * values) — the production shape where the corpus fingerprint set is
    * maintained incrementally instead of rescanned per ingest. */
  def exactIncrementalAgainstFps(newDocs: DataFrame, textCol: String,
                                 idCol: String, knownFps: DataFrame,
                                 fpCol: String): DataFrame = {
    val known = knownFps.select(col(fpCol).as("fp")).distinct()
    val w = Window.partitionBy(col("fp")).orderBy(col(idCol))
    newDocs.withColumn("fp", fingerprint(col(textCol)))
      .join(known, Seq("fp"), "left_anti")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  // ------------------------------------------------------------- minhash

  /** Large prime for the universal-hash family ((a·h + b) mod P). The base
    * hash is folded into [0, P) first, so with a,b < P the affine step
    * stays below 2^62 — no Int64 overflow even under ANSI arithmetic. */
  val P = 2147483647L // 2^31 - 1 (Mersenne)

  /** Deterministic (a, b) constants per permutation index — splitmix64-ish
    * mixing, folded into [1, P). Pure integer math: the same constants are
    * interpolated into the DuckDB oracle SQL. */
  def perm(i: Int): (Long, Long) = {
    val x = (i.toLong + 1) * 0x9E3779B97F4A7C15L
    val a = math.abs(x % (P - 1)) + 1
    val b = math.abs((x >> 17) % P)
    (a, b)
  }

  /** Rolling-hash multiplier for combining token hashes into shingle
    * hashes (prime, small enough that acc*C + h stays < 2^52). */
  val ShingleC = 1000003L

  /** k-permutation MinHash signature over word `shingleSize`-shingles.
    * Adds `sig: array<long>` of length k.
    *
    * Two costs dominate naive formulations, both avoided here:
    *  - building shingle STRINGS (concat_ws of 3 tokens per position) is
    *    ~10x the cost of hashing the tokens — so each token is md5'd
    *    once and shingle hashes are a polynomial combination of the
    *    token hashes (`aggregate(slice(th,...), 0, acc*C + h mod P)` —
    *    fold-with-zero equals DuckDB's list_reduce since f(0,h)=h);
    *  - the signature is ONE `aggregate` fold carrying a k-element
    *    running-min accumulator (interpreted higher-order functions get
    *    no CSE, so k independent array_min passes would re-evaluate the
    *    hash pipeline k times — the original 132s-per-5k-docs bug).
    * Short docs (< shingleSize tokens) hash all their tokens as one
    * shingle, mirroring wordShingles' short-input rule. */
  def withMinhashSignature(df: DataFrame, textCol: String,
                           k: Int = 32, shingleSize: Int = 3): DataFrame = {
    import org.apache.spark.sql.graftshim.{MinHashSig, Shim}
    val (as, bs) = (0 until k).map(perm).unzip
    val sig = Shim.toColumn(MinHashSig(
      Shim.toExpression(col(textCol)), k, shingleSize,
      as.toArray, bs.toArray, P, ShingleC))
    df.withColumn("sig", sig)
  }

  /** Interpreted reference formulation of [[withMinhashSignature]] (the
    * HOF fold the custom expression replaced) — kept for the A/B test
    * pinning that both produce identical signatures. */
  private[graft] def withMinhashSignatureHof(df: DataFrame, textCol: String,
                                             k: Int = 32, shingleSize: Int = 3): DataFrame = {
    val tokenHashes = transform(tokens(col(textCol)), t => pmod(hash48(t), lit(P)))
    def poly(ts: Column): Column =
      aggregate(ts, lit(0L), (acc, h) => pmod(acc * lit(ShingleC) + h, lit(P)))
    val perms = array((0 until k).map { i =>
      val (a, b) = perm(i)
      struct(lit(a).as("a"), lit(b).as("b"))
    }: _*)
    val sig = aggregate(
      col("__sh"),
      array_repeat(lit(P), k),
      (acc, h) => zip_with(acc, perms,
        (m, p) => least(m, pmod(h * p.getField("a") + p.getField("b"), lit(P)))))
    df.withColumn("__th", tokenHashes)
      .withColumn("__sh",
        when(size(col("__th")) < shingleSize, array(poly(col("__th"))))
          .otherwise(transform(
            sequence(lit(0), size(col("__th")) - shingleSize),
            i => poly(slice(col("__th"), i + 1, lit(shingleSize))))))
      .withColumn("sig", sig)
      .drop("__th", "__sh")
  }

  /** Cross-engine band hash: md5-48 of the '_'-joined signature slice
    * (one array cast — the per-element long-to-string cast, compiled). */
  private def bandHash(sig: Column, start: Int, rows: Int): Column =
    hash48(concat_ws("_", slice(sig, start, rows).cast("array<string>")))

  /** Adds `__bands: array<long>`, the per-band LSH bucket hashes — a pure
    * projection (stateless), so it runs identically on batch tables and
    * unbounded streams (see `streaming.Streaming.streamingNearDedup`). */
  private[graft] def withBandHashes(df: DataFrame, textCol: String,
                                    k: Int = 32, bands: Int = 8): DataFrame = {
    val rows = k / bands
    withMinhashSignature(df, textCol, k)
      .withColumn("__bands", array((0 until bands).map(b =>
        bandHash(col("sig"), b * rows + 1, rows)): _*))
      .drop("sig")
  }

  /** MinHash-LSH candidate duplicate pairs: signature → `bands` bands of
    * `k/bands` rows, band-hash → bucket join (groupBy + in-bucket pair
    * expansion), then exact signature-agreement estimate per pair.
    *
    * Scale shape: explode is `bands`-fold, the bucket groupBy is the one
    * big shuffle, `bucketCap` bounds the quadratic in-bucket expansion.
    * Returns (id_a, id_b, est_jaccard) with id_a < id_b. */
  def minhashCandidates(df: DataFrame, textCol: String, idCol: String,
                        k: Int = 32, bands: Int = 8,
                        bucketCap: Int = 64,
                        minEstJaccard: Double = 0.5): DataFrame =
    candidatesFromBandRows(minhashBandRows(df, textCol, idCol, k, bands),
      k, bucketCap, minEstJaccard)

  /** The bucket/pair stage of [[minhashCandidates]] over already-banded
    * rows `(id, sig, band, bhash)` — shared with the incremental screen
    * so the band-row shape is spelled once. */
  private[graft] def candidatesFromBandRows(banded: DataFrame, k: Int,
      bucketCap: Int, minEstJaccard: Double): DataFrame = {
    val buckets = cappedBuckets(banded, Seq(col("band"), col("bhash")),
      struct(col("id"), col("sig")), bucketCap)
    // a pair found in several bands is scored in each and de-duplicated
    // over fixed-width (id_a, id_b, est) rows: an id carries one
    // signature, so the score is a function of the pair. The in-batch
    // screen of minhashIncrementalAgainstBands keeps only id_b, so a
    // batch id with two texts changes nothing there either.
    inBucketPairs(buckets)
      .select(col("id_a"), col("id_b"),
        (agreement(col("sig_a"), col("sig_b")).cast("double") / lit(k.toDouble))
          .as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
      .distinct()
  }

  /** How many positions of two signatures agree
    * ([[org.apache.spark.sql.graftshim.PositionalEqualCount]], an int). */
  private def agreement(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftshim.{PositionalEqualCount, Shim}
    Shim.toColumn(new PositionalEqualCount(Shim.toExpression(a), Shim.toExpression(b)))
  }

  /** End-to-end near-dup removal: drop every document that is the LARGER
    * id of a MinHash candidate pair. Greedy single-pass policy (not
    * transitive-closure clustering — that needs iterative connected
    * components; for training-data dedup the greedy rule is the standard
    * cheap choice and keeps exactly one survivor per pairwise-linked
    * chain when ids correlate with insertion order). One left_anti join
    * against the candidate pairs. */
  def dedupByMinhash(df: DataFrame, textCol: String, idCol: String,
                     k: Int = 32, bands: Int = 8, bucketCap: Int = 64,
                     minEstJaccard: Double = 0.5): DataFrame = {
    val losers = minhashCandidates(df, textCol, idCol, k, bands, bucketCap, minEstJaccard)
      .select(col("id_b").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Per-doc LSH band rows `(id, sig, band, bhash)` — the exploded index
    * shape a maintained near-dup band store persists (the [[FpStore]]
    * staged-write pattern applies to the storage side; any parquet table
    * with these columns feeds [[minhashIncrementalAgainstBands]]). Pure
    * projection — one corpus scan when (re)built from scratch. */
  def minhashBandRows(df: DataFrame, textCol: String, idCol: String,
                      k: Int = 32, bands: Int = 8): DataFrame = {
    val rows = k / bands
    withMinhashSignature(df, textCol, k)
      .select(col(idCol).as("id"), col("sig"),
        posexplode(array((0 until bands).map(b =>
          bandHash(col("sig"), b * rows + 1, rows)): _*)).as(Seq("band", "bhash")))
      .select(col("id"), col("sig"), col("band"), col("bhash"))
  }

  /** MinHash-LSH recall evaluation — the index-quality harness the ANN
    * family has in `q_ann_recall`, applied to the dedup stage: ground
    * truth = pairs whose EXACT distinct-shingle Jaccard meets
    * `tauPct`/100 (integer cross-multiplied compare, no float
    * threshold), candidates = [[minhashCandidates]] at the given LSH
    * configuration; each truth pair is emitted with its exact
    * intersection/union and a 0/1 `caught` flag. SUM(caught)/COUNT(*)
    * is the recall of the banding config — the number to check before
    * trusting a (k, bands, minEstJaccard) choice on a real corpus.
    *
    * Truth comes from [[jaccardSimilarityJoin]] (prefix-filtered exact
    * join — no false negatives, scale-shaped); the candidate side is
    * the production LSH path unchanged, so the flag measures exactly
    * what production would do. Shingle hashes use the decontamination
    * family's hash48 string-shingle convention (bit-replayable in the
    * oracle); the MinHash candidates keep their own signature pipeline
    * — truth and index conventions need not match, only the window
    * definition does (both are word n-grams). */
  def minhashRecallEval(df: DataFrame, textCol: String, idCol: String,
                        k: Int = 32, bands: Int = 8, shingleSize: Int = 3,
                        bucketCap: Int = 64, minEstJaccard: Double = 0.5,
                        tauPct: Int = 50): DataFrame = {
    val truth = jaccardSimilarityJoin(df, textCol, idCol, tauPct, shingleSize)
    val cand = minhashCandidates(df, textCol, idCol, k, bands, bucketCap,
      minEstJaccard)
      .select(col("id_a"), col("id_b"), lit(1L).as("__caught"))
    truth.join(cand, Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"), col("inter"), col("uni"),
        coalesce(col("__caught"), lit(0L)).as("caught"))
  }

  /** SimHash twin of [[minhashRecallEval]]: the same exact-Jaccard truth
    * pairs, flagged with whether the SimHash Hamming screen
    * ([[simhashCandidates]], unchanged production path) recovers them.
    * SimHash approximates token-multiset cosine, not Jaccard, so its
    * recall against a Jaccard truth is exactly the cross-metric number
    * a pipeline should look at before picking one screen over the
    * other. */
  def simhashRecallEval(df: DataFrame, textCol: String, idCol: String,
                        maxHamming: Int = 8, bucketCap: Int = 256,
                        shingleSize: Int = 3, tauPct: Int = 50): DataFrame = {
    val truth = jaccardSimilarityJoin(df, textCol, idCol, tauPct, shingleSize)
    val cand = simhashCandidates(df, textCol, idCol, maxHamming, bucketCap)
      .select(col("id_a"), col("id_b"), lit(1L).as("__caught"))
    truth.join(cand, Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"), col("inter"), col("uni"),
        coalesce(col("__caught"), lit(0L)).as("caught"))
  }

  /** EXACT Jaccard set-similarity join over word-shingle sets — every
    * pair with distinct-shingle Jaccard ≥ `tauPct`/100, with exact
    * intersection/union counts, NO false negatives and no estimation.
    * The guaranteed-exact sibling of the MinHash screen (which trades
    * recall for one pass) and the ground-truth generator for the
    * recall/precision evals. Emits (id_a, id_b, inter, uni) with
    * id_a < id_b; the threshold is the integer cross-multiplication
    * `inter·100 ≥ tauPct·uni` (no float compare — DuckDB-replayable).
    * Shares [[jaccardCore]], which documents the plan, with
    * [[jaccardSimilarityJoinAB]]. */
  def jaccardSimilarityJoin(df: DataFrame, textCol: String, idCol: String,
                            tauPct: Int = 50,
                            shingleSize: Int = 3): DataFrame =
    jaccardCore(Seq(df), textCol, idCol, tauPct, shingleSize)

  /** Precision twin of [[minhashRecallEval]]: every CANDIDATE pair the
    * banding configuration emits, annotated with its exact
    * distinct-shingle intersection/union and a 0/1 `is_true` flag
    * (exact Jaccard ≥ `tauPct`/100, the same integer compare).
    * SUM(is_true)/COUNT(*) is the precision of the config — with
    * [[minhashRecallEval]]'s recall this completes the standard
    * index-quality pair. Same eval-harness posture (the exact-overlap
    * side self-joins the shingle index — run on a bounded sample). A
    * candidate pair sharing NO shingle (possible only via band-hash
    * collision) scores inter = 0. */
  def minhashPrecisionEval(df: DataFrame, textCol: String, idCol: String,
                           k: Int = 32, bands: Int = 8, shingleSize: Int = 3,
                           bucketCap: Int = 64, minEstJaccard: Double = 0.5,
                           tauPct: Int = 50): DataFrame = {
    require(tauPct > 0 && tauPct <= 100, s"tauPct in (0,100], got $tauPct")
    // candidates are LSH-bounded, so exact overlap is ONE sorted-set
    // merge per candidate (full sets re-joined by id) — no
    // pair-generation join at all on the exact side
    val sets = PlanCache.pinned(
      shingleSets(df, textCol, idCol, shingleSize)
        .select(col("id"), col("__ss"), size(col("__ss")).cast("long").as("__n")))
    minhashCandidates(df, textCol, idCol, k, bands, bucketCap, minEstJaccard)
      .join(sets.select(col("id").as("id_a"), col("__ss").as("__sa"),
        col("__n").as("__na")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("__ss").as("__sb"),
        col("__n").as("__nb")), Seq("id_b"))
      .withColumn("inter", sortedIntersectCount(col("__sa"), col("__sb")))
      .withColumn("uni", col("__na") + col("__nb") - col("inter"))
      .select(col("id_a"), col("id_b"), col("est_jaccard"),
        col("inter"), col("uni"),
        (col("inter") * lit(100L) >= lit(tauPct.toLong) * col("uni"))
          .cast("long").as("is_true"))
  }

  /** CONTAINMENT annotation — the subset-duplication detector Jaccard
    * misses: a short doc quoted whole inside a long one has tiny
    * Jaccard (the union is huge) but containment C(A→B) = |A∩B|/|A|
    * near 1. Candidates deliberately come from the WINNOW copied-span
    * graph, NOT MinHash banding: Jaccard-LSH collision probability
    * decays with Jaccard, so the very pairs this operator exists for
    * (low-Jaccard, high-containment) would never surface from it —
    * while a contained span of ≥ k+w−1 chars PROVABLY shares a winnow
    * fingerprint. Each candidate is annotated with exact distinct
    * word-shingle `inter`, both sizes, and integer-percent containments
    * both directions (`DIV` — exact cross-engine); gate on the greater
    * of the two to catch quote/wrapper duplication. Bounded shape:
    * candidates are capped-bucket-bounded, the exact side is one
    * sorted-set merge per candidate — never all-pairs. */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
                       k: Int = 12, w: Int = 8, bucketCap: Int = 64,
                       minShared: Long = 4L,
                       shingleSize: Int = 3): DataFrame = {
    val sets = PlanCache.pinned(
      shingleSets(df, textCol, idCol, shingleSize)
        .select(col("id"), col("__ss"), size(col("__ss")).cast("long").as("__n")))
    winnowCandidates(df, textCol, idCol, k, w, bucketCap, minShared)
      .select(col("id_a"), col("id_b"))
      .join(sets.select(col("id").as("id_a"), col("__ss").as("__sa"),
        col("__n").as("__na")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("__ss").as("__sb"),
        col("__n").as("__nb")), Seq("id_b"))
      .withColumn("inter", sortedIntersectCount(col("__sa"), col("__sb")))
      .select(col("id_a"), col("id_b"), col("inter"),
        col("__na").as("n_a"), col("__nb").as("n_b"),
        expr("inter * 100 DIV __na").as("cont_a_pct"),
        expr("inter * 100 DIV __nb").as("cont_b_pct"))
  }

  /** TWO-TABLE exact Jaccard similarity join — [[jaccardSimilarityJoin]]
    * across relations (entity matching / record linkage: crawl vs
    * curated, batch vs corpus): every (left, right) pair with
    * distinct-shingle Jaccard ≥ `tauPct`/100 and exact counts. The two
    * sides' ids may overlap — each row carries its side.
    * Output: (id_a from left, id_b from right, inter, uni). */
  def jaccardSimilarityJoinAB(left: DataFrame, right: DataFrame,
                              textCol: String, idCol: String,
                              tauPct: Int = 50,
                              shingleSize: Int = 3): DataFrame =
    jaccardCore(Seq(left, right), textCol, idCol, tauPct, shingleSize)

  /** The one exact Jaccard join: one side joins itself (`id_a < id_b`),
    * two sides join left × right. Ids must be unique within a side.
    *
    * Prefix filtering (PPJoin, Xiao et al. 2008): each set is ordered
    * RAREST-FIRST (document frequency, then hash; df counted over every
    * side, so all prefixes are cut under ONE total order) and only its
    * first n − ceil(τ·n) + 1 shingles are indexed. Two sets with
    * overlap ≥ t share an element among their first (size − t + 1)
    * under any common total order, so every qualifying pair collides,
    * but the join explodes only on RARE shingles: a boilerplate shingle
    * in 10^6 documents sorts to every set's tail and is never indexed.
    *
    * Plan shape, all measured (`plans/jaccard_core/README.md`):
    *  - the shingle kernel runs ONCE per document per side. Spark infers
    *    `size(x) > 0 AND isnotnull(x)` for a plain `explode(x)` of a
    *    column and pushes it below the projection that computes x, which
    *    evaluates the kernel three times; `explode_outer` plus a null
    *    filter on the element infers nothing. df is a window count over
    *    the exploded rows, not a join back to a second kernel scan.
    *  - ONE per-(side, id) index aggregate carries both the rarest-first
    *    `(df, hash)` array for prefixes and the ascending hash array for
    *    verification. Each reader uses both columns (prefix length from
    *    the hash array's size, union size from the prefix array's), so
    *    column pruning leaves one aggregate that AQE's exchange reuse
    *    shares across the prefix and both verify branches. Not
    *    `PlanCache`-pinned: the reused exchange already computes the
    *    index once per query.
    *  - verification is one [[org.apache.spark.sql.graftshim
    *    .SortedIntersectCount]] merge per candidate, after the candidates
    *    are repartitioned to the session's shuffle partitions by
    *    (id_a, id_b). The explicit count keeps AQE from coalescing that
    *    stage to one task, and a caller's global sort re-samples only
    *    this cheap stage, not candidate generation. */
  private def jaccardCore(sides: Seq[DataFrame], textCol: String, idCol: String,
                          tauPct: Int, shingleSize: Int): DataFrame = {
    require(tauPct > 0 && tauPct <= 100, s"tauPct in (0,100], got $tauPct")
    val last = sides.size - 1
    val ex = sides.zipWithIndex.map { case (d, s) =>
      d.select(lit(s).as("__side"), col(idCol).as("id"),
        explode_outer(shingleHashes(col(textCol), shingleSize)).as("__h"))
    }.reduce(_ unionByName _).filter(col("__h").isNotNull)
    // rarest-first total order (df, hash) — collect_list order is
    // nondeterministic, sort_array (compiled; the arrays hold no nulls,
    // so it orders as array_sort) normalizes both arrays
    val index = ex.withColumn("__df", count(lit(1)).over(Window.partitionBy("__h")))
      .groupBy("__side", "id")
      .agg(sort_array(collect_list(struct(col("__df").as("d"), col("__h").as("h"))))
        .as("__sw"), sort_array(collect_list(col("__h"))).as("__ss"))
    // prefix length n − ceil(τn) + 1. LONG arithmetic: a pathological
    // mega-document (the exact input the prefix filter insures against)
    // with > (2^31−100)/tauPct distinct shingles would wrap a 32-bit
    // product and disable pruning — or drive slice() negative. The
    // double division stays exact (tauPct·n + 99 ≪ 2^53 for any long n
    // a real document can reach).
    val n = size(col("__ss")).cast("long")
    val p = (n - floor((lit(tauPct.toLong) * n + lit(99L)).cast("double") / lit(100.0))
      .cast("long") + lit(1L)).cast("int")
    def prefix(side: Int, id: String): DataFrame =
      index.filter(col("__side") === side)
        .select(col("id").as(id), explode(slice(col("__sw"), lit(1), p)).as("__e"))
        .select(col(id), col("__e.h").as("__h"))
    val joined = prefix(0, "id_a").join(prefix(last, "id_b"), Seq("__h"))
    val pairs = (if (last == 0) joined.filter(col("id_a") < col("id_b")) else joined)
      .select("id_a", "id_b")
      .repartition(sides.head.sparkSession.sessionState.conf.numShufflePartitions,
        col("id_a"), col("id_b"))
      .distinct()
    // __sw before __ss, as in prefix(): the reader's column order becomes
    // the aggregate's function order, and a reordered aggregate is a
    // different exchange that reuse no longer matches
    def sets(side: Int, id: String, ss: String): DataFrame =
      index.filter(col("__side") === side)
        .select(col("id").as(id), size(col("__sw")).cast("long").as(s"${ss}_n"), col("__ss").as(ss))
    pairs
      .join(sets(0, "id_a", "__sa"), Seq("id_a"))
      .join(sets(last, "id_b", "__sb"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        sortedIntersectCount(col("__sa"), col("__sb")).as("inter"),
        (col("__sa_n") + col("__sb_n")).as("__tot"))
      .withColumn("uni", col("__tot") - col("inter"))
      .filter(col("inter") * lit(100L) >= lit(tauPct.toLong) * col("uni"))
      .select(col("id_a"), col("id_b"), col("inter"), col("uni"))
  }

  /** Per-doc DISTINCT shingle-hash sets `(id, __ss)` — the exact-overlap
    * side of the eval/similarity family. ONE codegen'd kernel call per
    * row ([[shingleHashes]]) — an interpreted HOF chain here multiplied
    * into ~40 s at sf0.1 where the kernel costs ~1 s. Pure projection,
    * no shuffle. */
  private def shingleSets(df: DataFrame, textCol: String,
                          idCol: String, shingleSize: Int): DataFrame =
    df.select(col(idCol).as("id"), shingleHashes(col(textCol), shingleSize).as("__ss"))

  /** Ascending distinct word-shingle hashes of `text`
    * ([[org.apache.spark.sql.graftshim.DistinctShingleHashes]], the
    * decontamination family's hash48-of-space-joined-window convention,
    * kernel≡Column-pipeline parity pinned in TextSuite). */
  private def shingleHashes(text: Column, shingleSize: Int): Column = {
    import org.apache.spark.sql.graftshim.{DistinctShingleHashes, Shim}
    Shim.toColumn(DistinctShingleHashes(Shim.toExpression(text), shingleSize))
  }

  /** |a ∩ b| of two [[shingleHashes]]-shaped (ascending distinct) sets —
    * [[org.apache.spark.sql.graftshim.SortedIntersectCount]], a long. */
  private def sortedIntersectCount(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftshim.{Shim, SortedIntersectCount}
    Shim.toColumn(SortedIntersectCount(Shim.toExpression(a), Shim.toExpression(b)))
  }

  /** Incremental NEAR-dup screen — [[exactIncrementalAgainstFps]]'s
    * MinHash twin, the daily-ingestion stage for fuzzy duplicates: drop
    * from `newDocs` every doc whose signature agrees with ANY stored
    * corpus doc sharing an LSH band bucket (est-Jaccard ≥ threshold),
    * then greedy keep-one near-dup within the surviving batch.
    *
    * Scale shape: the corpus side is ONE capped bucket aggregation over
    * the band store (min size 1 — a single stored doc still screens;
    * over-cap boilerplate buckets are dropped, the same recall tradeoff
    * as the batch variant); the batch's band rows are broadcast into
    * those buckets, so the stored corpus never shuffles beyond its own
    * groupBy and is never rewritten. */
  def minhashIncrementalAgainstBands(newDocs: DataFrame, textCol: String,
      idCol: String, bandStore: DataFrame,
      k: Int = 32, bands: Int = 8, bucketCap: Int = 64,
      minEstJaccard: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.graftshim.{CollectListCapped, Shim}
    val capped = Shim.toColumn(
      CollectListCapped(Shim.toExpression(col("sig")), bucketCap)
        .toAggregateExpression())
    val buckets = bandStore.groupBy(col("band"), col("bhash"))
      .agg(capped.as("members"))
      .filter(size(col("members")).between(1, bucketCap))
    val batch = minhashBandRows(newDocs, textCol, idCol, k, bands)
    val losers = buckets.join(broadcast(batch), Seq("band", "bhash"))
      .select(col("id"), col("sig"), explode(col("members")).as("csig"))
      .withColumn("est", agreement(col("sig"), col("csig")).cast("double") / lit(k.toDouble))
      .filter(col("est") >= minEstJaccard)
      .select(col("id")).distinct()
    // in-batch greedy rides the ALREADY-BANDED rows (no re-tokenize /
    // re-sign of the survivors from text — the oracle's sbanded shape)
    val survivorBands = batch.join(losers, Seq("id"), "left_anti")
    val inBatchLosers =
      candidatesFromBandRows(survivorBands, k, bucketCap, minEstJaccard)
        .select(col("id_b").as("id")).distinct()
    newDocs.join(losers.unionByName(inBatchLosers).distinct()
        .withColumnRenamed("id", idCol),
      Seq(idCol), "left_anti")
  }

  /** [[minhashIncrementalAgainstBands]] with the band store derived from
    * the corpus in place (one corpus scan; production maintains the
    * store incrementally instead). */
  def minhashIncremental(newDocs: DataFrame, corpus: DataFrame,
      textCol: String, idCol: String, k: Int = 32, bands: Int = 8,
      bucketCap: Int = 64, minEstJaccard: Double = 0.5): DataFrame =
    minhashIncrementalAgainstBands(newDocs, textCol, idCol,
      minhashBandRows(corpus, textCol, idCol, k, bands),
      k, bands, bucketCap, minEstJaccard)

  // ------------------------------------------------------------- simhash

  /** 48-bit SimHash over a pre-computed `array<long>` token-hash column:
    * bit b of the result is set iff more token hashes have bit b set than
    * not. Near-dups have small Hamming distance.
    *
    * This SQL-HOF formulation (one `aggregate` carrying a 48-element
    * bit-counter array) is the reference semantics; the hot path uses
    * the codegen'd `graftshim.SimHash48` expression, pinned bit-identical
    * to this form in VecExprSuite. */
  val SimhashBits = 48

  def simhash48Sql(tokenHashCol: String): Column = expr(
    s"""aggregate(
       |  $tokenHashCol,
       |  array_repeat(0L, $SimhashBits),
       |  (acc, h) -> zip_with(acc, sequence(0, ${SimhashBits - 1}),
       |    (c, b) -> c + if(((h >> b) & 1) = 1, 1L, -1L)),
       |  acc -> aggregate(
       |    zip_with(acc, sequence(0, ${SimhashBits - 1}),
       |      (c, b) -> if(c > 0, shiftleft(1L, b), 0L)),
       |    0L, (x, y) -> x | y))""".stripMargin)

  /** SimHash near-dup pairs by banding the 48-bit hash into 4 12-bit
    * chunks (Hamming ≤ 3 guarantees at least one identical chunk —
    * pigeonhole; larger `maxHamming` keeps the same candidate rule with
    * probabilistic recall), bucket-join on chunks, verify Hamming. */
  def simhashCandidates(df: DataFrame, textCol: String, idCol: String,
                        maxHamming: Int = 3, bucketCap: Int = 256): DataFrame =
    candidatesFromChunkRows(simhashChunkRows(df, textCol, idCol),
      maxHamming, bucketCap)

  /** Per-doc SimHash chunk rows `(id, sh, chunk, cval)` — the exploded
    * index shape a maintained SimHash store persists (the
    * [[minhashBandRows]] twin; any parquet table with these columns
    * feeds [[simhashIncrementalAgainstChunks]]). Codegen'd single-kernel
    * simhash over the raw text (graftshim.SimHashText); the SQL HOF form
    * is kept above for the bit-identity pin test. Pure projection. */
  def simhashChunkRows(df: DataFrame, textCol: String,
                       idCol: String): DataFrame = {
    val withSh = df
      .select(col(idCol).as("id"),
        org.apache.spark.sql.graftshim.Shim.toColumn(
          org.apache.spark.sql.graftshim.SimHashText(
            org.apache.spark.sql.graftshim.Shim.toExpression(col(textCol)))).as("sh"))
    withSh.select(col("id"), col("sh"),
      posexplode(array((0 until 4).map(i =>
        shiftright(col("sh"), i * 12).bitwiseAND(lit(0xFFFL))): _*)).as(Seq("chunk", "cval")))
  }

  /** In-scope pair expansion over already-computed chunk rows: capped
    * (chunk, cval) buckets, in-bucket ordered pairs, Hamming filter. */
  private def candidatesFromChunkRows(banded: DataFrame, maxHamming: Int,
                                      bucketCap: Int): DataFrame = {
    val buckets = cappedBuckets(banded, Seq(col("chunk"), col("cval")),
      struct(col("id"), col("sh")), bucketCap)
    // scored before the de-dup, as in candidatesFromBandRows
    inBucketPairs(buckets)
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Incremental SimHash screen — the [[minhashIncrementalAgainstBands]]
    * twin for the Hamming metric: drop from `newDocs` every doc within
    * `maxHamming` bits of ANY stored doc sharing a 12-bit chunk bucket,
    * then greedy keep-one among in-batch near-dups. Completes the
    * incremental-ingestion family (exact / MinHash / winnow / SimHash).
    *
    * Scale shape mirrors the MinHash twin: the store side is ONE capped
    * bucket aggregation (min size 1 — a single stored doc screens;
    * over-cap boilerplate buckets drop, the standard recall tradeoff),
    * the batch is BROADCAST against it, and the in-batch pass rides the
    * already-computed chunk rows — the store is never joined against
    * itself and the corpus never rewrites. */
  def simhashIncrementalAgainstChunks(newDocs: DataFrame, textCol: String,
      idCol: String, chunkStore: DataFrame,
      maxHamming: Int = 8, bucketCap: Int = 256): DataFrame = {
    import org.apache.spark.sql.graftshim.{CollectListCapped, Shim}
    val capped = Shim.toColumn(
      CollectListCapped(Shim.toExpression(col("sh")), bucketCap)
        .toAggregateExpression())
    val buckets = chunkStore.groupBy(col("chunk"), col("cval"))
      .agg(capped.as("members"))
      .filter(size(col("members")).between(1, bucketCap))
    val batch = simhashChunkRows(newDocs, textCol, idCol)
    val losers = buckets.join(broadcast(batch), Seq("chunk", "cval"))
      .select(col("id"), col("sh"), explode(col("members")).as("csh"))
      .filter(bit_count(col("sh").bitwiseXOR(col("csh"))) <= maxHamming)
      .select(col("id")).distinct()
    val survivorChunks = batch.join(losers, Seq("id"), "left_anti")
    val inBatchLosers =
      candidatesFromChunkRows(survivorChunks, maxHamming, bucketCap)
        .select(col("id_b").as("id")).distinct()
    newDocs.join(losers.unionByName(inBatchLosers).distinct()
        .withColumnRenamed("id", idCol),
      Seq(idCol), "left_anti")
  }

  /** [[simhashIncrementalAgainstChunks]] with the chunk store derived
    * from the corpus in place (one corpus scan; production maintains the
    * store incrementally instead). */
  def simhashIncremental(newDocs: DataFrame, corpus: DataFrame,
      textCol: String, idCol: String,
      maxHamming: Int = 8, bucketCap: Int = 256): DataFrame =
    simhashIncrementalAgainstChunks(newDocs, textCol, idCol,
      simhashChunkRows(corpus, textCol, idCol), maxHamming, bucketCap)

  // ------------------------------------------------------------- jaccard

  /** Exact token-set Jaccard for all pairs in scope. Quadratic — callers
    * bound the input (candidate pairs from LSH, or a small window). */
  def tokenJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        minJaccard: Double): DataFrame = {
    val t = df.select(col(idCol).as("id"),
      array_distinct(tokens(col(textCol))).as("toks"))
    val a = t.select(col("id").as("id_a"), col("toks").as("toks_a"))
    val b = t.select(col("id").as("id_b"), col("toks").as("toks_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("toks_a"), col("toks_b"))).cast("double") /
          size(array_union(col("toks_a"), col("toks_b"))).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Exact character-n-gram Jaccard for all pairs in scope — the
    * short-string companion of [[tokenJaccardPairs]] (n-grams of the
    * normalized text instead of word tokens). Quadratic; callers bound
    * the input. */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        n: Int, minJaccard: Double): DataFrame = {
    val t = df.select(col(idCol).as("id"),
      array_distinct(charNgrams(col(textCol), n)).as("gs"))
    val a = t.select(col("id").as("id_a"), col("gs").as("gs_a"))
    val b = t.select(col("id").as("id_b"), col("gs").as("gs_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("gs_a"), col("gs_b"))).cast("double") /
          size(array_union(col("gs_a"), col("gs_b"))).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Winnowing (MOSS) near-dup candidate pairs — the LSH-style companion
    * of [[minhashCandidates]] built on
    * [[graft.functions.TextFunctions.winnowFromHashes]]: documents that
    * share at least `minShared` winnow fingerprints (char-`k`-gram
    * hashes, window `w`). MOSS's guarantee makes this the detector for
    * COPIED SPANS: any shared substring of length >= k+w-1 forces a
    * shared fingerprint, so heavy pairwise overlap means long verbatim
    * blocks — a sharper signal than whole-document similarity for
    * quote/boilerplate mining.
    *
    * Scale shape: fingerprints are scan-local per row and only ~2/(w+1)
    * of the gram hashes survive winnowing, so the explode is sublinear
    * in characters; the fingerprint groupBy is the one big shuffle;
    * `bucketCap` bounds the quadratic in-bucket pair expansion (a
    * fingerprint shared by half the corpus is boilerplate, not copying —
    * same cap policy as every LSH stage here). The pair count aggregate
    * is partial-agged, keys are (long, long). md5-derived hash48 keeps
    * every stage DuckDB-replayable. Returns (id_a, id_b, n_shared),
    * id_a < id_b. */
  def winnowCandidates(df: DataFrame, textCol: String, idCol: String,
                       k: Int = 5, w: Int = 4,
                       bucketCap: Int = 64, minShared: Long = 2L): DataFrame = {
    val fps = df
      .select(col(idCol).as("id"),
        explode(winnowFingerprints(col(textCol), k, w)).as("fp"))
    val buckets = cappedBuckets(fps, Seq(col("fp")), col("id"), bucketCap)
    inBucketPairs(buckets)
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Ingest-time winnow screen — [[winnowCandidates]]' incremental twin
    * (the [[exactIncremental]] shape): drop from `newDocs` every
    * document sharing at least `minShared` winnow fingerprints with the
    * EXISTING corpus. Contamination-style semantics: the count is
    * against the corpus-wide fingerprint SET (a doc that collects
    * boilerplate spans from several corpus docs is screened just the
    * same), not per corpus document — the right rule for "is this new
    * doc's content already in the corpus".
    *
    * Scale shape: the corpus reduces to ONE distinct-fingerprint
    * projection (in production, maintained incrementally as an appended
    * store rather than rescanned — pass it via a pre-computed frame and
    * join yourself if so); the new batch explodes scan-local and joins
    * relationally (AQE broadcasts the batch side when small). Returns
    * the surviving `newDocs` rows unchanged. */
  def winnowIncremental(newDocs: DataFrame, corpus: DataFrame,
                        textCol: String, idCol: String,
                        k: Int = 5, w: Int = 4,
                        minShared: Long = 2L): DataFrame =
    winnowIncrementalAgainstFps(newDocs, textCol, idCol,
      corpus.select(explode(winnowFingerprints(col(textCol), k, w)).as("fp")),
      "fp", k, w, minShared)

  /** [[winnowIncremental]] against an already-materialized fingerprint
    * store (`fpCol` holds winnow hash48 values) — the production shape
    * where the corpus fingerprint set is maintained incrementally
    * instead of rescanned per ingest (the [[exactIncrementalAgainstFps]]
    * pattern). */
  def winnowIncrementalAgainstFps(newDocs: DataFrame, textCol: String,
                                  idCol: String, knownFps: DataFrame,
                                  fpCol: String, k: Int = 5, w: Int = 4,
                                  minShared: Long = 2L): DataFrame =
    winnowScreenOverDistinctFps(newDocs, textCol, idCol,
      knownFps.select(col(fpCol).as("fp")).distinct(), k, w, minShared)

  /** Relational winnow screen against an ALREADY-DISTINCT `fp` store —
    * the shared tail of [[winnowIncrementalAgainstFps]] and
    * [[winnowIncrementalTiered]]'s fallback (which arrives with a
    * distinct, materialized store and must not pay a second distinct
    * shuffle over it). */
  private def winnowScreenOverDistinctFps(newDocs: DataFrame, textCol: String,
                                          idCol: String, store: DataFrame,
                                          k: Int, w: Int,
                                          minShared: Long): DataFrame = {
    val contaminated = newDocs
      .select(col(idCol).as("__nid"),
        explode(winnowFingerprints(col(textCol), k, w)).as("fp"))
      .join(store, Seq("fp"))
      .groupBy("__nid")
      .agg(count(lit(1)).as("__shared"))
      .filter(col("__shared") >= minShared)
      .select(col("__nid").as(idCol))
    newDocs.join(contaminated, Seq(idCol), "left_anti")
  }

  /** [[winnowIncremental]] with the [[decontaminate]]-style tier switch:
    * when the corpus fingerprint store fits `maxSetFps` (sorted long
    * array — 16 MB at the default), the screen is ONE scan-local
    * codegen'd kernel chain per row (WinnowText fingerprints →
    * SortedMembershipCount vs the plan-embedded store, compared to
    * `minShared`) — no explode, no join, no shuffle, and STATELESS, so
    * it runs on an unbounded stream unchanged (the relational tier's
    * aggregation cannot). Oversized stores fall back to the relational
    * shape. Same contract as decontaminate (unique non-null idCol);
    * tier parity is suite-pinned and both tiers hash-match the same
    * DuckDB oracle. */
  def winnowIncrementalTiered(newDocs: DataFrame, corpus: DataFrame,
                              textCol: String, idCol: String,
                              k: Int = 5, w: Int = 4, minShared: Long = 2L,
                              maxSetFps: Int = 2000000): DataFrame = {
    // the probe and (on the fallback tier) the returned plan both read
    // the store — the tieredOverStore lifecycle pays the corpus scan +
    // distinct shuffle once, not per consumer (clusterByPairs rule)
    val store = corpus
      .select(explode(winnowFingerprints(col(textCol), k, w)).as("fp"))
      .distinct()
    tieredOverStore(store, "fp", maxSetFps) {
      // the relational tier aggregates per new doc — fine in batch,
      // unsupported on an unwatermarked stream; fail with the reason
      // instead of Spark's generic unsupported-operation analysis error
      require(!newDocs.isStreaming,
        s"winnowIncrementalTiered: the corpus store exceeds maxSetFps " +
          s"($maxSetFps) and the relational fallback cannot run on a " +
          "stream — raise maxSetFps (sorted longs, 8 bytes each) or " +
          "pre-shrink the store")
    } { head =>
      import org.apache.spark.sql.graftshim.{Shim, SortedMembershipCount}
      val shared = Shim.toColumn(SortedMembershipCount(
        Shim.toExpression(winnowFingerprints(col(textCol), k, w)), head))
      // null text → null count; the relational tier's null-text doc
      // never reaches the join, so it survives there — match it
      newDocs.filter(coalesce(shared < minShared, lit(true)))
    } { snap =>
      winnowScreenOverDistinctFps(newDocs, textCol, idCol, snap,
        k, w, minShared)
    }
  }

  /** Benchmark decontamination: drop from `df` every document sharing at
    * least one word `n`-gram with a benchmark document — the exact
    * n-gram-overlap filter training pipelines run against held-out eval
    * sets before training, applied corpus-side. Returns the surviving
    * (clean) rows of `df` with their original columns.
    *
    * Scale shape: shingles are compressed to 48-bit md5 hashes
    * ([[graft.functions.TextFunctions.hash48]], so the oracle replays
    * them exactly); the benchmark side is tiny by nature (eval sets are
    * thousands of docs, the corpus is billions). Fast path: the distinct
    * bench shingle-hash set is collected (sorted long array, ≤
    * `maxSetShingles` — 16 MB at the default) and embedded in a
    * codegen'd membership expression
    * ([[org.apache.spark.sql.graftshim.AnyShingleInSet]]), so the corpus
    * is scanned ONCE with a per-row early-exit kernel — no shingle
    * explode, no join, no shuffle at all. Oversized bench sets fall back
    * to the relational shape: broadcast semi-join on exploded shingles +
    * anti-join, corpus scanned twice, still never shuffled.
    *
    * Contract: `idCol` must be unique and non-null (the universal corpus
    * invariant). Under that contract the two paths are identical
    * (parity-tested), so the data-dependent strategy switch is safe.
    * With duplicate or null ids they would diverge: the fast path
    * filters per ROW by text, the fallback drops per ID (all rows of a
    * contaminated id) and a null id never matches the anti-join key. */
  /** Bench-side word-n-gram hash48 projection shared by the
    * decontamination tiers. Token arrays aliased in their own projection
    * BEFORE the explode: the shingle transform is a higher-order
    * function (no CSE), so an inline tokens() would re-split the text
    * once per shingle. */
  private def benchShingleHashes(bench: DataFrame, textCol: String,
                                 n: Int): DataFrame =
    bench
      .select(tokens(col(textCol)).as("__tk"))
      .select(explode(wordShinglesFromTokens(col("__tk"), n)).as("__sh"))
      .select(hash48(col("__sh")).as("__h"))

  def decontaminate(df: DataFrame, bench: DataFrame, textCol: String,
                    idCol: String, n: Int = 8,
                    maxSetShingles: Int = 2000000): DataFrame = {
    val benchShingles = benchShingleHashes(bench, textCol, n).distinct()
    // tieredOverStore: one bounded probe decides the strategy, and the
    // bench scan + distinct are paid ONCE — the fallback joins a
    // truncated snapshot, not a re-derivation (ADVICE r15)
    tieredOverStore(benchShingles, "__h", maxSetShingles) {
      require(!df.isStreaming,
        s"decontaminate: the bench shingle set exceeds maxSetShingles " +
          s"($maxSetShingles) and the relational fallback aggregates per " +
          "id — not runnable on a stream; raise maxSetShingles (sorted " +
          "longs, 8 bytes each) or use decontaminateBloom")
    } { sorted =>
      import org.apache.spark.sql.graftshim.{AnyShingleInSet, Shim}
      val dirty = Shim.toColumn(AnyShingleInSet(
        Shim.toExpression(col(textCol)), n, sorted))
      // null text has no shingles → clean (matches the join path, where
      // a null-text doc never reaches the semi-join)
      df.filter(coalesce(!dirty, lit(true)))
    } { snap =>
      val contaminated = df
        .select(col(idCol), tokens(col(textCol)).as("__tk"))
        .select(col(idCol),
          explode(wordShinglesFromTokens(col("__tk"), n)).as("__sh"))
        .select(col(idCol), hash48(col("__sh")).as("__h"))
        .join(broadcast(snap), Seq("__h"), "left_semi")
        .select(col(idCol))
        .distinct()
      // contaminated-id cardinality is data-dependent (worst case the
      // whole corpus) — no broadcast hint; AQE broadcasts when small
      df.join(contaminated, Seq(idCol), "left_anti")
    }
  }

  /** Bloom-filter decontamination — the memory tier above
    * [[decontaminate]]'s exact fast path: when the bench shingle set is
    * too large even to embed as sorted longs (hundreds of millions of
    * shingles), build a Bloom filter over the shingle hashes (one
    * distributed aggregate, ~17 bits/element at fpp=1e-3) and filter the
    * corpus with a codegen'd probe. Semantics trade: NO false negatives
    * (every truly contaminated document is dropped — the guarantee that
    * matters for decontamination), clean documents are over-dropped at
    * ~`fpp` per distinct shingle probed until first hit. Stateless
    * projection — runs on streams like the exact path. */
  def decontaminateBloom(df: DataFrame, bench: DataFrame, textCol: String,
                         idCol: String, n: Int = 8,
                         expectedShingles: Long = 10000000L,
                         fpp: Double = 0.001): DataFrame = {
    import org.apache.spark.sql.graftshim.{AnyShingleInBloom, Shim}
    val bloom = benchShingleHashes(bench, textCol, n)
      .stat.bloomFilter("__h", expectedShingles, fpp)
    val dirty = Shim.toColumn(AnyShingleInBloom(
      Shim.toExpression(col(textCol)), n, bloom))
    df.filter(coalesce(!dirty, lit(true)))
  }

  /** Contamination REPORT — the scoring twin of [[decontaminate]]: per
    * corpus document, its distinct word-`n`-gram hash count, how many of
    * those grams sit in the benchmark set, and the binary flag —
    * pipelines publish the overlap RATE (and audit which docs drove it),
    * not just the filtered corpus. Returns (idCol, n_shingles, n_hits,
    * contaminated); callers report `n_hits / n_shingles` per policy.
    *
    * Fast path = decontaminate's: the collected sorted bench set rides
    * two codegen'd kernels per row ([[org.apache.spark.sql.graftshim
    * .DistinctShingleHashes]] + [[org.apache.spark.sql.graftshim
    * .SortedMembershipCount]]) — one corpus scan, no explode, no join,
    * no shuffle, stream-safe. An oversized bench set takes the
    * relational tier: per-doc distinct hashes explode once, left-join
    * the broadcast bench set, one groupBy on id. Distinctness is on the
    * 48-bit HASH in both tiers and the oracle (two grams that collide
    * count once everywhere — hash-level parity). Null text scores
    * (0, 0, false) on both tiers (kernel nulls are coalesced; the
    * fallback's explode drops the row and the left join restores it). */
  def contaminationScore(df: DataFrame, bench: DataFrame, textCol: String,
                         idCol: String, n: Int = 8,
                         maxSetShingles: Int = 2000000): DataFrame = {
    import org.apache.spark.sql.graftshim.{Shim, SortedMembershipCount}
    val benchShingles = benchShingleHashes(bench, textCol, n).distinct()
    tieredOverStore(benchShingles, "__h", maxSetShingles) {
      require(!df.isStreaming,
        s"contaminationScore: the bench shingle set exceeds " +
          s"maxSetShingles ($maxSetShingles) and the relational fallback " +
          "aggregates per id — not runnable on a stream; raise " +
          "maxSetShingles (sorted longs, 8 bytes each)")
    } { sorted =>
      df.select(col(idCol), shingleHashes(col(textCol), n).as("__hs"))
        .select(col(idCol),
          coalesce(size(col("__hs")).cast("long"), lit(0L)).as("n_shingles"),
          coalesce(Shim.toColumn(SortedMembershipCount(
            Shim.toExpression(col("__hs")), sorted)), lit(0L)).as("n_hits"))
        .withColumn("contaminated", col("n_hits") > 0)
    } { snap =>
      val perDoc = df
        .select(col(idCol), tokens(col(textCol)).as("__tk"))
        .select(col(idCol),
          explode(array_distinct(transform(
            wordShinglesFromTokens(col("__tk"), n), s => hash48(s)))).as("__h"))
        .join(broadcast(snap.withColumn("__hit", lit(1L))),
          Seq("__h"), "left")
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("__ns"),
          sum(coalesce(col("__hit"), lit(0L))).as("__nh"))
      df.select(col(idCol))
        .join(perDoc, Seq(idCol), "left")
        .select(col(idCol),
          coalesce(col("__ns"), lit(0L)).as("n_shingles"),
          coalesce(col("__nh"), lit(0L)).as("n_hits"))
        .withColumn("contaminated", col("n_hits") > 0)
    }
  }

  /** Cross-document exact substring duplication (RefinedWeb-style exact
    * window dedup, the within-corpus twin of [[decontaminate]]): for each
    * document, how many of its word `n`-gram windows also appear in ANY
    * other document. High shared-window counts flag boilerplate and
    * near-verbatim syndication that MinHash's whole-document similarity
    * misses. Returns (idCol, n_windows, n_shared) — callers threshold
    * `n_shared / n_windows` per policy.
    *
    * Scale shape: windows are hash48-compressed and exploded DISTINCT
    * per doc; one groupBy over window hashes counts how many distinct
    * docs carry each (a window is "shared" iff its doc-frequency > 1 —
    * no pairwise blowup, no bucketCap needed since nothing is ever
    * joined doc-to-doc, so a boilerplate window in 10^6 docs costs one
    * counter, not 10^12 pairs).
    *
    * Two-phase adaptive plan (same pattern as [[decontaminate]]):
    * phase 1 computes each doc's sorted-distinct window hashes in ONE
    * compiled kernel call ([[org.apache.spark.sql.graftshim.DistinctShingleHashes]]),
    * explodes the compact longs once, and counts doc-frequency — the
    * only shuffle. The SHARED subset (df > 1) is normally tiny relative
    * to the corpus (shared windows are the exception); when it fits
    * `maxSharedSet` it is collected sorted and phase 2 is a pure
    * scan-local projection: `n_windows = size(hashes)`, `n_shared` = a
    * codegen'd membership count against the embedded set — no join-back,
    * no second shuffle. An oversized shared set falls back to the
    * relational join-back + per-doc fold. Null-text rows are dropped on
    * BOTH paths (a null document has no windows; the fallback's explode
    * would drop it implicitly — the filter keeps the paths identical). */
  def substringDupStats(df: DataFrame, textCol: String, idCol: String,
                        n: Int = 8, maxSharedSet: Int = 4000000): DataFrame = {
    import org.apache.spark.sql.graftshim.{Shim, SortedMembershipCount}
    val hashesCol = shingleHashes(col(textCol), n)
    // PlanCache pin (r21): consumed by the shared-hash probe AND the
    // final projection — unpinned, the window-hash kernel ran twice
    val withHashes = PlanCache.pinned(df.filter(col(textCol).isNotNull)
      .select(col(idCol), hashesCol.as("__hs")))
    val shared = withHashes
      .select(explode(col("__hs")).as("__h"))
      .groupBy(col("__h"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") > 1)
      .select(col("__h"))
    val head = probeLongs(shared, "__h", maxSharedSet)
    if (head.length <= maxSharedSet) {
      val sorted = head
      java.util.Arrays.sort(sorted)
      withHashes.select(col(idCol),
        size(col("__hs")).cast("long").as("n_windows"),
        Shim.toColumn(SortedMembershipCount(
          Shim.toExpression(col("__hs")), sorted)).as("n_shared"))
    } else {
      val windows = withHashes.select(col(idCol), explode(col("__hs")).as("__h"))
      val docFreq = windows.groupBy(col("__h")).agg(count(lit(1)).as("__df"))
      windows.join(docFreq, Seq("__h"))
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("n_windows"),
          sum(when(col("__df") > 1, 1L).otherwise(0L)).as("n_shared"))
    }
  }

  /** Cross-document line-level dedup — the boilerplate-removal pass of a
    * web-scale curation pipeline (navigation/footer/cookie-banner lines
    * repeat across many pages; lines whose document frequency reaches
    * `minDocFreq` are stripped from every document). Two logical phases:
    * (1) one shuffle aggregates each distinct line's document frequency
    * (map-side partial aggregation first, so the shuffle carries
    * distinct (line, doc) pairs, not raw line instances); (2) the
    * exploded lines join that frequency table on the line value and each
    * document reassembles its surviving lines in original order (second
    * shuffle, on `idCol`). Output: (idCol, clean_text, n_kept,
    * n_dropped); a document whose every line is boilerplate stays in the
    * output with clean_text = ''. The frequent-line set is data-dependent
    * and unbounded, so it is NEVER collected or broadcast — the join
    * stays relational. At extreme scale the join key can be narrowed to
    * hash48(line) (documented collision trade; same plan shape); the
    * string key is kept here for bit-exact cross-engine replay. */
  def dedupLines(df: DataFrame, textCol: String, idCol: String,
                 minDocFreq: Int = 2, sep: String = "\n"): DataFrame = {
    require(minDocFreq >= 2, s"dedupLines: minDocFreq >= 2, got $minDocFreq")
    val lines = df.select(col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("__pos", "__line")))
    // doc frequency: a line repeated WITHIN one document counts once
    val freq = lines.groupBy("__line")
      .agg(count_distinct(col(idCol)).as("__df"))
    val keep = col("__df") < minDocFreq
    lines.join(freq, Seq("__line"))
      .groupBy(col(idCol))
      .agg(
        // collect_list skips the nulls when() emits for dropped lines;
        // array_sort on (pos, line) structs restores original order
        array_join(
          transform(
            array_sort(collect_list(when(keep,
              struct(col("__pos"), col("__line"))))),
            x => x.getField("__line")),
          sep).as("clean_text"),
        sum(when(keep, 1L).otherwise(0L)).as("n_kept"),
        sum(when(!keep, 1L).otherwise(0L)).as("n_dropped"))
  }

  /** Edit-distance similarity join: candidate pairs share at least one
    * character n-gram (bucket join with skew cap — the retrieved
    * string-similarity-join literature's filter-verify shape), verified
    * with exact `levenshtein <= maxDist` after a cheap length filter.
    * CANDIDATE-BASED like the LSH ops: recall is what the gram filter
    * gives (guaranteed only for maxDist < ceil(len/n) by the q-gram
    * bound); the oracle replays the same candidate generation. Input
    * `strCol` should be pre-normalized/truncated by the caller. */
  def editDistancePairs(df: DataFrame, strCol: String, idCol: String,
                        maxDist: Int, n: Int = 4,
                        bucketCap: Int = 256): DataFrame = {
    // ids ONLY ride the gram-bucket shuffle — the strings would multiply
    // the exchange by the gram count per doc (a 1 KB string explodes to
    // ~1 MB of shuffled payload at n=4); the verify stage re-joins them
    // by id against a narrow (id, s) projection AFTER pair formation,
    // when the candidate set is already LSH-small
    val strs = df.select(col(idCol).as("id"), col(strCol).as("s"))
    val banded = df.select(col(idCol).as("id"),
      explode(array_distinct(charNgrams(col(strCol), n))).as("g"))
    val buckets = cappedBuckets(banded, Seq(col("g")), col("id"), bucketCap)
    inBucketPairs(buckets)
      .distinct()
      .join(strs.select(col("id").as("id_a"), col("s").as("s_a")), Seq("id_a"))
      .join(strs.select(col("id").as("id_b"), col("s").as("s_b")), Seq("id_b"))
      .filter(abs(length(col("s_a")) - length(col("s_b"))) <= maxDist)
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")).cast("long"))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  // ------------------------------------------------------------- embedding

  /** Embedding near-dup pairs: hyperplane-LSH bucket, in-bucket pairwise
    * cosine, threshold. The bucket count (2^numPlanes) trades recall for
    * the quadratic in-bucket cost. Planes are md5-derived
    * ([[graft.functions.VectorFunctions.hashPlanes]]) so the oracle can
    * embed the identical constants. */
  def embeddingCandidates(df: DataFrame, vecCol: String, idCol: String,
                          dim: Int, numPlanes: Int = 8,
                          minCosine: Double = 0.95,
                          bucketCap: Int = 1024): DataFrame = {
    val planes = hashPlanes(numPlanes, dim)
    // ids ONLY ride the bucket shuffle (the editDistancePairs rule): a
    // 768-dim float vector is ~3 KB per member in the exchange; the
    // cosine stage re-joins vectors by id after pair formation instead
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val banded = vecs.select(
      hyperplaneBucket(col("v"), planes).as("bucket"), col("id"))
    val buckets = cappedBuckets(banded, Seq(col("bucket")), col("id"), bucketCap)
    cosineVerifiedPairs(buckets, vecs, minCosine)
  }

  /** SemDeDup-style semantic near-dup pairs (Abbas et al. 2023,
    * arXiv:2303.09540 — public preprint): trained k-means cells
    * ([[Similarity.kmeansAssign]]) replace [[embeddingCandidates]]'s
    * random hyperplane buckets as the blocking key, so candidates are
    * vectors close in the LEARNED geometry rather than merely on the
    * same side of random planes — better recall at the same quadratic
    * budget when the corpus is clustered (the regime SemDeDup targets).
    * Same scale contract as every LSH-family stage: cells capped inside
    * the aggregation buffer ([[cappedBuckets]]), ids only on the cell
    * shuffle, vectors re-joined after pair formation. `k` governs the
    * in-cell quadratic (cells hold ~n/k members on a balanced corpus —
    * pick k ≈ n / targetCellSize); `bucketCap` hard-bounds it either
    * way. Blocking recall caveat: a near-dup pair split across two
    * cells is missed, exactly as a pair split across LSH buckets is —
    * the cross-cell miss is suite-documented. */
  def semanticPairs(df: DataFrame, vecCol: String, idCol: String,
                    k: Int = 64, iters: Int = 1,
                    minCosine: Double = 0.95,
                    bucketCap: Int = 1024): DataFrame =
    semanticPairsFromCells(
      Similarity.kmeansAssign(df, vecCol, idCol, k, iters),
      df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v")),
      minCosine, bucketCap)

  /** Greedy SemDeDup survivors: within every qualifying pair the larger
    * id loses (the [[dedupByMinhash]] policy), so each semantic
    * near-dup group keeps exactly its smallest id. Returns the
    * survivors as `(vec_id, cell)` — the cell rides along so the
    * output also pins the trained assignment. */
  def semanticDedup(df: DataFrame, vecCol: String, idCol: String,
                    k: Int = 64, iters: Int = 1,
                    minCosine: Double = 0.95,
                    bucketCap: Int = 1024): DataFrame =
    semanticDedupFromAssignment(df, vecCol, idCol,
      Similarity.kmeansAssign(df, vecCol, idCol, k, iters),
      minCosine, bucketCap)

  /** [[semanticDedup]] against PRE-TRAINED cells (a
    * `Similarity.kmeansCells` result, typically loaded from a
    * [[ModelStore]]): assignment is the same pure projection, the
    * in-cell pair screen is identical — the per-query Lloyd scans are
    * the only thing removed. The production cadence shape: train cells
    * once per refresh, dedup every batch against them. */
  def semanticDedupWithCells(df: DataFrame, vecCol: String, idCol: String,
                             cents: Seq[(Long, Array[Double])],
                             minCosine: Double = 0.95,
                             bucketCap: Int = 1024): DataFrame =
    semanticDedupFromAssignment(df, vecCol, idCol,
      Similarity.kmeansAssignWithCells(df, vecCol, idCol, cents),
      minCosine, bucketCap)

  private def semanticDedupFromAssignment(df: DataFrame, vecCol: String,
                                          idCol: String, cells: DataFrame,
                                          minCosine: Double,
                                          bucketCap: Int): DataFrame = {
    // PlanCache pin (r21): `cells` carries the k-way literal-centroid
    // assignment projection and feeds BOTH the pair screen and the
    // closing anti-join — unpinned, the k×dim cosine projection ran twice.
    // The pin wraps an INTERNAL narrow (vec_id, cell) projection rather
    // than the argument frame itself (ADVICE r21): a harness
    // releaseSnapshots() can then never unpersist a frame the caller
    // separately persisted, and the kmeansAssignWithCells path stops
    // caching the dim-wide vector column it was carrying into the pin
    val pinned = PlanCache.pinned(cells.select(col("vec_id"), col("cell")))
    val vecs = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    val drops = semanticPairsFromCells(pinned, vecs, minCosine, bucketCap)
      .select(col("id_b").as("vec_id")).distinct()
    pinned.join(drops, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell"))
  }

  private def semanticPairsFromCells(cells: DataFrame, vecs: DataFrame,
                                     minCosine: Double,
                                     bucketCap: Int): DataFrame = {
    val banded = cells.select(col("cell"), col("vec_id").as("id"))
    val buckets = cappedBuckets(banded, Seq(col("cell")), col("id"), bucketCap)
    cosineVerifiedPairs(buckets, vecs, minCosine)
  }

  /** In-bucket ordered pair expansion, the shared tail of every
    * capped-bucket stage: each bucket's `members` expand to their
    * `id_a < id_b` pairs in one codegen'd call
    * ([[org.apache.spark.sql.graftshim.InBucketPairs]]) and a plain
    * explode, no join. Bare-id members give `(id_a, id_b)`; `(id, p…)`
    * struct members add `p_a` and `p_b` for each payload field. */
  private def inBucketPairs(buckets: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftshim.{InBucketPairs, Shim}
    buckets.select(explode(Shim.toColumn(InBucketPairs(Shim.toExpression(col("members")))))
      .as("p")).select(col("p.*"))
  }

  /** The id-only-shuffle cosine verify tail shared by the
    * embedding-geometry stages ([[embeddingCandidates]],
    * [[semanticPairs]]): pairs re-join their vectors by id AFTER
    * formation — the wide payload never rides the bucket exchange —
    * then score and threshold. `vecs` must be the narrow `(id, v)`
    * projection. */
  private def cosineVerifiedPairs(buckets: DataFrame, vecs: DataFrame,
                                  minCosine: Double): DataFrame = {
    // each vector's norm rides the join ONCE instead of the fused kernel
    // re-accumulating both self-dots per pair (r21 — 3·dim → dim
    // multiplies per pair). Bit-identical: sqrt(dot(v,v)) is the same
    // left fold the fused kernel runs (VecExprSuite pin), and
    // ab/(na·nb) is the same op sequence as ab/(sqrt(aa)·sqrt(bb)).
    import graft.functions.VectorFunctions.{dot, toDoubleArray}
    val withNorm = vecs.select(col("id"), toDoubleArray(col("v")).as("v"))
      .withColumn("__n", sqrt(dot(col("v"), col("v"))))
    inBucketPairs(buckets)
      .join(withNorm.select(col("id").as("id_a"), col("v").as("v_a"),
        col("__n").as("__na")), Seq("id_a"))
      .join(withNorm.select(col("id").as("id_b"), col("v").as("v_b"),
        col("__n").as("__nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (dot(col("v_a"), col("v_b")) / (col("__na") * col("__nb"))).as("cos"))
      .filter(col("cos") >= minCosine)
  }

  // ------------------------------------------------------------- clustering

  /** Connected components over an undirected edge list (e.g. near-dup
    * candidate pairs): returns `(id, component)` where `component` is the
    * smallest id reachable from `id`. The transitive-closure companion to
    * [[dedupByMinhash]]'s greedy pairwise rule — cluster-then-pick-one is
    * the policy large corpus dedups (e.g. chain A~B~C where A≁C) need.
    *
    * Iterative min-label propagation: each round joins the cached edge
    * list with the current labels (both hash-partitioned on the join key,
    * so rounds reuse the same co-partitioning) and takes the min label
    * over each node's neighborhood. Converges in O(component diameter)
    * rounds — near-dup clusters are shallow (diameter ≲ bucket chain
    * length), so the first rounds are pure propagation. From round
    * [[CompressAfter]] on, each round also POINTER-JUMPS
    * (`component := label(component)`, one extra co-partitioned join),
    * which doubles the effective hop distance per round — so a deep
    * (path-like) graph still converges in O(log n) rounds total instead
    * of O(diameter), without taxing the shallow common case with the
    * extra join. Convergence is detected by an exact changed-label count
    * read off the cached per-round output; logical lineage is truncated
    * per round (persist alone leaves the plan tree doubling per round) so
    * plans stay O(1) deep regardless of round count.
    *
    * Fault tolerance: when `spark.sparkContext.setCheckpointDir` has been
    * called, rounds use RELIABLE `checkpoint` (survives executor loss —
    * the right mode for long runs on a real cluster). Otherwise they fall
    * back to `localCheckpoint`, whose blocks are unreplicated executor
    * storage: losing an executor mid-iteration fails the job instead of
    * recomputing, an acceptable trade only for short interactive runs. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 25): DataFrame =
    connectedComponentsWithRounds(pairs, aCol, bCol, maxIter)._1

  /** Rounds taken before pointer jumping kicks in: shallow graphs (the
    * near-dup norm) converge within these, never paying the jump join. */
  private val CompressAfter = 2

  /** [[connectedComponents]] + the number of rounds it ran (exposed for
    * the convergence property tests). */
  private[graft] def connectedComponentsWithRounds(
      pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25): (DataFrame, Int) = {
    import org.apache.spark.storage.StorageLevel
    val half = pairs.select(col(aCol).cast("long").as("src"),
      col(bCol).cast("long").as("dst"))
    val edges = half
      .union(half.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Each round's labels get their LOGICAL plan truncated (lazily — the
    // round's convergence count is still the single materializing action):
    // persist alone does NOT truncate the plan, and since every round
    // references the previous labels twice, the plan tree doubles per
    // round — at ~16 rounds plan stringification alone OOMs the driver.
    // Reliable checkpoint when a checkpoint dir is configured (replicated,
    // survives executor loss); else localCheckpoint (unreplicated — see
    // scaladoc). Dropped round RDDs are reaped by Spark's ContextCleaner.
    val reliable =
      pairs.sparkSession.sparkContext.getCheckpointDir.isDefined
    def truncate(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(false) else df.localCheckpoint(false)
    // seed with one free propagation round: label_0 = min(id, neighbors)
    // (one aggregation over the cached edges, no join, no change-count).
    var labels = truncate(edges.groupBy(col("src"))
      .agg(min(col("dst")).as("__m"))
      .select(col("src").as("id"),
        least(col("src"), col("__m")).as("component")))
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      val viaNeighbor = edges
        .join(labels.select(col("id").as("dst"), col("component")), Seq("dst"))
        .select(col("src").as("id"), col("component"))
      // The previous label rides through the min-aggregation as a tagged
      // column (labels contribute exactly one non-null `__old` per id, so
      // `min` recovers it) — the convergence check then reads the cached
      // aggregation output directly instead of a second co-partitioned
      // self-join per round.
      val propagated = viaNeighbor
        .select(col("id"), col("component"), lit(null).cast("long").as("__old"))
        .union(labels.select(col("id"), col("component"), col("component").as("__old")))
        .groupBy("id")
        .agg(min("component").as("component"), min("__old").as("__old"))
      // pointer jumping (label compression): component := label(component).
      // Every component value is itself a node id, so the lookup is a join
      // against the same label set; label(m) <= m, so this only tightens.
      // Doubles effective hop distance per round -> deep graphs converge in
      // O(log n) rounds; skipped for the first rounds so shallow graphs
      // (the near-dup norm) never pay the extra join.
      var jumpSrc: DataFrame = null
      val next = truncate(if (iter < CompressAfter) propagated
        else {
          jumpSrc = propagated.persist(StorageLevel.MEMORY_AND_DISK)
          jumpSrc
            .join(jumpSrc.select(col("id").as("__cid"), col("component").as("__cc")),
              col("component") === col("__cid"), "left")
            .select(col("id"),
              coalesce(col("__cc"), col("component")).as("component"), col("__old"))
        })
      changed = next.filter(col("component") =!= col("__old")).count()
      if (jumpSrc != null) jumpSrc.unpersist()
      labels = next
      iter += 1
    }
    labels = labels.drop("__old")
    if (changed > 0)
      System.err.println(
        s"[graft] connectedComponents: not converged after $maxIter rounds " +
          s"($changed labels still changing) — results are an upper bound; " +
          "raise maxIter for graphs with diameter > maxIter")
    edges.unpersist()
    (labels, iter)
  }

  /** Shared cluster-label step: components over an (id_a, id_b) pair
    * graph, then every row of `df` labeled `cluster_id` = smallest id of
    * its component (its own id when it appears in no pair). The
    * min-label rule needs a numeric id — a string id would cast to null
    * and silently label every untouched doc NULL, so the dtype is
    * enforced here once for every cluster op.
    *
    * TIERED (decontaminate pattern, one bounded probe decides): a
    * candidate graph within `maxDriverEdges` (~48 MB of transient
    * boxed-tuple heap at the default — see the probe comment below)
    * is solved by DRIVER-SIDE union-find — the distributed
    * loop costs O(log n) driver-synchronized rounds of tiny jobs, which
    * dominates small graphs — and the labels broadcast back as a join.
    * Past the cap, the pointer-jumping distributed components run
    * (billions of edges never touch the driver). Near-dup candidate
    * graphs are SPARSE by construction (bucketCap bounds pair fan-out),
    * so the driver tier covers realistic corpora far beyond the test
    * scale; parity between tiers is suite-pinned. */
  private[graft] def clusterByPairs(df: DataFrame, pairs: DataFrame, idCol: String,
                                    maxDriverEdges: Int = 1 << 20): DataFrame = {
    requireIntegralId(df, idCol)
    val comp = componentLabels(df.sparkSession, pairs, maxDriverEdges)
      .withColumnRenamed("id", idCol)
    df.join(comp, Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("component"), col(idCol).cast("long")))
      .drop("component")
  }

  /** Fails loudly on a non-integral id column: a `cast("long")` of a
    * string or double id would turn ids into nulls (or merge them) and
    * quietly return an empty or wrong result. Shared with the ANN ops. */
  private[operators] def requireIntegralId(df: DataFrame, idCol: String): Unit = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val dt = df.schema(idCol).dataType
    require(dt == LongType || dt == IntegerType,
      s"cluster and ANN ops need an integral id column; '$idCol' is ${dt.simpleString}")
  }

  /** The `(id, component)` label frame behind [[clusterByPairs]]: every
    * id that appears in `pairs` labeled with the smallest id of its
    * connected component (ids in no pair are absent — callers decide the
    * singleton rule). Labels survive the internal pair-cache release:
    * the driver tier collects them, the distributed tier returns
    * checkpoint-truncated labels. */
  private[graft] def componentLabels(spark: org.apache.spark.sql.SparkSession,
                                     pairs: DataFrame,
                                     maxDriverEdges: Int = 1 << 20): DataFrame = {
    // persist before probing: limit cannot short-circuit the candidate
    // shuffle, so without the cache the over-cap fallback would pay the
    // dominant pairs computation TWICE (probe + components)
    val cached = pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // tuple collect (the probeLongs spirit, one Tuple2 per edge): at
      // ~40-48 bytes per boxed (Long, Long) with headers and refs, the
      // default 1M-edge probe is ~48 MB of transient driver heap — an
      // order of magnitude under the boxed-Row equivalent, and well
      // inside a driver that also holds the union-find LongMap. Raise
      // maxDriverEdges only with that ~48 bytes/edge cost in mind.
      import org.apache.spark.sql.Encoders
      val edgeProbe = cached.limit(maxDriverEdges + 1)
        .as(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)).collect()
      val comp =
        if (edgeProbe.length <= maxDriverEdges) {
          // union-find with min-label roots (attach larger root under
          // smaller); find is ITERATIVE with full path compression — a
          // recursive walk overflows the stack on chain-shaped graphs
          // (doc i paired with doc i+1), which near-dup chains produce
          val parent = scala.collection.mutable.LongMap.empty[Long]
          def find(x0: Long): Long = {
            var r = x0
            var p = parent.getOrElseUpdate(r, r)
            while (p != r) { r = p; p = parent.getOrElseUpdate(r, r) }
            var x = x0
            while (x != r) { val nxt = parent(x); parent(x) = r; x = nxt }
            r
          }
          edgeProbe.foreach { case (a, b) =>
            val (ra, rb) = (find(a), find(b))
            if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
          }
          val labels = parent.keys.toSeq.map(x => (x, find(x)))
          import spark.implicits._
          labels.toDF("id", "component")
        } else
          // components materialize during the call (per-round counts) and
          // the returned labels are checkpoint-truncated, so the cache
          // can be dropped as soon as this returns
          connectedComponents(cached, "id_a", "id_b")
      comp
    } finally cached.unpersist(blocking = false)
  }

  /** Full-corpus cluster assignment over MinHash candidates: every row of
    * `df` gets `cluster_id` = smallest doc id of its near-dup component
    * (its own id if it has no near-dups). */
  def clusterByMinhash(df: DataFrame, textCol: String, idCol: String,
                       k: Int = 32, bands: Int = 8, bucketCap: Int = 64,
                       minEstJaccard: Double = 0.5): DataFrame =
    clusterByPairs(df,
      minhashCandidates(df, textCol, idCol, k, bands, bucketCap, minEstJaccard),
      idCol)

  /** [[clusterByMinhash]]'s copied-span twin: transitive closure over the
    * [[winnowCandidates]] graph — quote/boilerplate FAMILIES rather than
    * whole-document near-dups (two docs that each copied a third cluster
    * together even if they share nothing pairwise... they do share the
    * third's spans, which is the point of the closure). Same pointer-
    * jumping components, same label rule. */
  def clusterByWinnow(df: DataFrame, textCol: String, idCol: String,
                      k: Int = 5, w: Int = 4, bucketCap: Int = 64,
                      minShared: Long = 2L): DataFrame =
    clusterByPairs(df,
      winnowCandidates(df, textCol, idCol, k, w, bucketCap, minShared),
      idCol)

  /** Dedup impact report — the decide-before-you-run diagnostic: the
    * near-dup cluster-size histogram and the projected shrink if each
    * cluster kept one survivor. `n_dropped = (size − 1) · n_clusters`
    * per row; summing the column gives the corpus-wide removal count a
    * [[dedupByMinhash]]-style pass would approach. Cost = the candidate
    * stage + two tiny re-aggregations of the label frame (the corpus
    * itself contributes only singleton counts, computed from its row
    * count — never shuffled). */
  /** Cross-SOURCE near-dup overlap matrix: for every unordered source
    * pair (including the diagonal), how many MinHash near-dup candidate
    * pairs connect a document of one to a document of the other, next
    * to both sources' corpus sizes — the "which crawls duplicate each
    * other" pre-flight that decides what to dedup against what (two
    * snapshots of the same dump show up as an off-diagonal hot cell;
    * in-source template reuse shows on the diagonal). Sources are
    * normalized `source_a <= source_b` (string order) so each unordered
    * cell appears once.
    *
    * Scale shape: the pair graph is the unchanged bounded
    * [[minhashCandidates]] path (capped buckets — never a hot-bucket
    * product); sources ride two id-keyed joins of the SMALL pair side
    * against an (id, source) projection, then one |sources|²-bounded
    * aggregate; doc counts are a |sources|-row broadcast. Output is at
    * most |sources|² rows — a report, not a dataset. */
  def sourceOverlapMatrix(df: DataFrame, textCol: String, idCol: String,
                          srcCol: String, k: Int = 32, bands: Int = 8,
                          bucketCap: Int = 64,
                          minEstJaccard: Double = 0.5): DataFrame = {
    val src = df.select(col(idCol).cast("long").as("__id"),
      col(srcCol).as("__src"))
    val counts = df.groupBy(col(srcCol).as("__cs"))
      .agg(count(lit(1)).as("__n"))
    val pairs = minhashCandidates(df, textCol, idCol, k, bands, bucketCap,
      minEstJaccard)
      .join(src.select(col("__id").as("id_a"), col("__src").as("__sa")),
        Seq("id_a"))
      .join(src.select(col("__id").as("id_b"), col("__src").as("__sb")),
        Seq("id_b"))
      .select(least(col("__sa"), col("__sb")).as("source_a"),
        greatest(col("__sa"), col("__sb")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
    pairs
      .join(broadcast(counts).withColumnRenamed("__cs", "source_a")
        .withColumnRenamed("__n", "n_docs_a"), Seq("source_a"))
      .join(broadcast(counts).withColumnRenamed("__cs", "source_b")
        .withColumnRenamed("__n", "n_docs_b"), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        col("n_docs_a"), col("n_docs_b"))
  }

  def dedupImpact(df: DataFrame, textCol: String, idCol: String,
                  k: Int = 32, bands: Int = 8, bucketCap: Int = 64,
                  minEstJaccard: Double = 0.5): DataFrame = {
    requireIntegralId(df, idCol)
    val labels = componentLabels(df.sparkSession,
      minhashCandidates(df, textCol, idCol, k, bands, bucketCap, minEstJaccard))
    val memberTotal = labels.agg(count(lit(1)).as("__m"))
    val clustered = labels.groupBy("component")
      .agg(count(lit(1)).as("sz"))
      .groupBy("sz").agg(count(lit(1)).as("n_clusters"))
    val singletons = df.agg(count(lit(1)).as("__t"))
      .crossJoin(broadcast(memberTotal))
      .select(lit(1L).as("sz"), (col("__t") - col("__m")).as("n_clusters"))
      .filter(col("n_clusters") > 0)
    clustered.unionByName(singletons)
      .groupBy("sz").agg(sum(col("n_clusters")).as("n_clusters"))
      .select(col("sz").as("cluster_size"), col("n_clusters"),
        (col("sz") * col("n_clusters")).as("n_docs"),
        ((col("sz") - 1) * col("n_clusters")).as("n_dropped"))
  }

  /** Quality-aware near-dup removal: each near-dup CLUSTER keeps its
    * best member by `scoreCol` (highest wins; ties → smallest id)
    * instead of [[dedupByMinhash]]'s keep-smallest-id rule — the
    * pipeline that deduplicates a crawl wants the cleanest/longest
    * variant of a page, not whichever happened to get the lower id.
    *
    * Scale shape: the candidate graph and its component labels are the
    * bounded [[clusterByPairs]] machinery; the keep-best window runs
    * over PAIR MEMBERS ONLY (≤ 2·|pairs| rows, bounded by the capped
    * buckets) joined broadcast-style back to the corpus — the corpus
    * itself never shuffles, and the final drop is a broadcast anti-join
    * on the (tiny) loser ids. Null scores sort last (Spark desc ==
    * DESC NULLS LAST, spelled explicitly in the oracle). */
  def dedupNearKeepBest(df: DataFrame, textCol: String, idCol: String,
                        scoreCol: String, k: Int = 32, bands: Int = 8,
                        bucketCap: Int = 64,
                        minEstJaccard: Double = 0.5): DataFrame =
    keepBestByPairs(df,
      minhashCandidates(df, textCol, idCol, k, bands, bucketCap, minEstJaccard),
      idCol, scoreCol)

  private[graft] def keepBestByPairs(df: DataFrame, pairs: DataFrame,
                                     idCol: String, scoreCol: String): DataFrame = {
    requireIntegralId(df, idCol)
    val labels = componentLabels(df.sparkSession, pairs) // member ids only
    // no forced broadcast: the label/loser frames scale with the TOTAL
    // pair-member count (capped buckets bound each bucket, not the
    // number of buckets) — a high-duplication crawl could overflow a
    // mandated broadcast. AQE broadcasts them when they are in fact
    // small; otherwise these degrade to co-partitioned joins over the
    // narrow (id, score) projection, never the full corpus width.
    val member = df
      .select(col(idCol).cast("long").as("id"), col(scoreCol).as("__sc"))
      .join(labels, Seq("id"))
    val w = Window.partitionBy(col("component"))
      .orderBy(col("__sc").desc, col("id"))
    val losers = member.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") > 1)
      .select(col("id").as("__loser"))
    df.join(losers, col(idCol).cast("long") === col("__loser"), "left_anti")
  }
}
