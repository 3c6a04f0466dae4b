package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.hash48

/** Deterministic, reproducible corpus sampling — the selection layer of a
  * training-data pipeline. Beyond-reference (the reference's `shuffle`/
  * `randomHead` use process-local RNG, `dataframe.nim:2497-2541`).
  *
  * Everything here keys on a 48-bit md5 hash of (tag, seed, id) instead
  * of an RNG: membership is a pure per-row projection, so samples are
  *  - reproducible across runs, executors, and engines (the DuckDB
  *    oracle replays them exactly — RNG-based sampling can only ever be
  *    rows-only checked);
  *  - stable under repartitioning and retries (a Spark `sample()` after
  *    a shuffle can differ between task attempts);
  *  - consistent across tables: any table sharing the id space selects
  *    the SAME entities, giving free referentially-intact joins between
  *    sampled fact tables.
  * At 100 TB each sample/split/rate filter is a scan-local predicate —
  * no shuffle, no state, prunes straight down onto the parquet scan.
  */
object Sampling {

  private val Mod = 1000000L // hash buckets: rate resolution 1e-6

  /** Bucket cut for a fraction, at the advertised 1e-6 resolution.
    * `rint`, not `floor`: `(n/1e6) * 1e6` lands within ~2^-32 of the
    * rational value but on EITHER side, so floor is off by one for
    * ~1% of exact-millionth fractions (249e-6 → 248). Nearest-integer
    * is exact for every n/Mod as long as Mod stays well under 2^26
    * (product error << 0.5) — property-tested over all million cuts.
    *
    * COMPAT NOTE: releases before the rint fix used `floor`, which was
    * off by one for ~1% of exact-millionth fractions. For those
    * fractions, splits/samples persisted under the old arithmetic do
    * not replay bit-identically — membership can shift by one bucket
    * (≤ 1e-6 of rows). Exact-replay of legacy splits needs the legacy
    * floor cut; new pipelines get the corrected exact cuts. */
  private[graft] def cutFor(fraction: Double): Long =
    math.rint(fraction * Mod).toLong

  /** Uniform bucket in [0, Mod) from (tag, seed, id) — the sampling key. */
  def hashBucket(idCol: Column, tag: String, seed: Long): Column =
    pmod(hash48(concat(lit(s"graft_${tag}_${seed}_"), idCol.cast("string"))),
      lit(Mod))

  /** Keep a deterministic `fraction` of rows, keyed on `idCol`. */
  def hashSample(df: DataFrame, idCol: String, fraction: Double,
                 seed: Long = 42L): DataFrame =
    df.filter(hashBucket(col(idCol), "sample", seed) < lit(cutFor(fraction)))

  /** The eval-harness bound: the deterministic sample the exact-eval
    * harnesses (Jaccard truth joins, LSH recall/precision) run on — the
    * bounded-sample posture their scaladoc prescribes, as a fixture.
    * Identical mechanics to [[hashSample]] under a distinct tag, so the
    * eval subset is independent of any production sample and exactly
    * replayable by the oracle (`OracleSql.evalSampleWhere`). */
  def evalSample(df: DataFrame, idCol: String, fraction: Double,
                 seed: Long = 42L): DataFrame =
    df.filter(hashBucket(col(idCol), "eval", seed) < lit(cutFor(fraction)))

  /** EXACT-TOTAL weighted draw WITH replacement — systematic (low-
    * variance) resampling over deterministic grid points: with total
    * weight W and target `totalN`, place points p_j = (j + ½)·W/N
    * (j = 0..N−1) on the cumulative-weight axis and give each row one
    * copy per point inside its weight interval. This is the DRAW that
    * importance weighting (DSIR) actually consumes: rate samplers only
    * hit a total in expectation, [[proportionalSample]] draws without
    * replacement (a row can never be taken twice), but importance
    * RESAMPLING must emit heavy rows multiple times and exactly N in
    * total. The deterministic mid-point grid replaces the classic
    * single uniform offset — reproducible across runs and engines, and
    * n_i ∈ {⌊N·w_i/W⌋, ⌈N·w_i/W⌉} per row (the systematic-resampling
    * variance floor, Douc & Cappé 2005).
    *
    * All integer arithmetic: cum sums via [[GlobalCumSum]] (two-pass,
    * no single-partition window), copies-below-x as the integral
    * division (2·N·x + W) div (2·W) — monotone, 0 at x=0, N at x=W, so
    * the emitted copies sum to exactly N. Bit-replayable by a DuckDB
    * window sum + `//` (oracle `q_systematic_resample`). Weights must
    * be ≥ 0 (null → 0 → never drawn); `idCol` must be a unique total
    * order — under the window's RANGE frame a tie group shares one
    * cumulative value, so tied rows would each claim the whole group
    * interval and the copies would over-count. Uniqueness is therefore
    * a correctness precondition (the corpus id contract), enforced: a
    * duplicate id fails pass 2 loudly, naming the id (the GlobalShift
    * rule, [[RangeBuckets.refuseTies]]).
    *
    * Returns (idCol, n_copies) for rows with n_copies ≥ 1. Requires
    * 2·totalN·W < 2^63 (rescale weights at larger scale — integral
    * exactness is the point of the op). */
  def systematicResample(df: DataFrame, idCol: String, weightCol: String,
                         totalN: Long): DataFrame = {
    require(totalN >= 1 && totalN < Long.MaxValue / 2,
      s"systematicResample: totalN=$totalN out of range")
    import org.apache.spark.sql.catalyst.expressions.IntegralDivide
    import org.apache.spark.sql.graftshim.Shim
    // integral weights only — the exactness contract is integer
    // arithmetic; casting a double importance weight in (0,1) to long
    // would floor it to 0 and either fail opaquely ("total weight is
    // 0") or draw silently wrong. A DSIR caller with float weights
    // must fix-point-scale first (the GlobalCumSum cents discipline).
    Resolve.uniqueField(df, weightCol, "systematicResample").dataType match {
      case _: org.apache.spark.sql.types.ByteType |
           _: org.apache.spark.sql.types.ShortType |
           _: org.apache.spark.sql.types.IntegerType |
           _: org.apache.spark.sql.types.LongType => ()
      case dt => throw new IllegalArgumentException(
        s"systematicResample: weight column '$weightCol' must be integral " +
          s"(exact integer draw is the contract); got ${dt.simpleString} — " +
          "fix-point-scale fractional weights to a long first")
    }
    val wLong = coalesce(col(weightCol).cast("long"), lit(0L))
    // W, min-weight, and emptiness all ride GlobalCumSum's pass-1
    // stats rows — no separate whole-table aggregate scan
    // a tied id shares one RANGE-frame cum, which loses interval ends
    // and breaks the exact-N draw — refused loudly in pass 2
    val (cum, stats) = GlobalCumSum.withGlobalCumSumStats(
      df, wLong, Seq(col(idCol)), name = "__cum",
      refuseTies = Some(("systematicResample",
        "duplicate ids break the exact-N draw; make the id column unique")))
    if (stats.rows == 0L)
      return cum.select(col(idCol), lit(null).cast("long").as("n_copies"))
    val totW = stats.sum
    require(stats.min >= 0,
      "systematicResample: negative weights are not a distribution")
    require(totW > 0, "systematicResample: total weight is 0 — nothing to draw")
    // the evaluated expression is 2N·x + W with x ≤ W, peaking at
    // (2N+1)·W — bounding only 2N·W would admit inputs that wrap
    require(totW <= Long.MaxValue / (2 * totalN + 1),
      s"systematicResample: (2*totalN+1)*W = (2*$totalN+1)*$totW overflows " +
        "long arithmetic — rescale the weights (exactness is the contract)")
    def idiv(a: Column, d: Long): Column = Shim.toColumn(new IntegralDivide(
      Shim.toExpression(a), Shim.toExpression(lit(d))))
    // copies strictly below cumulative point x: (2Nx + W) div 2W
    def below(x: Column): Column = idiv(lit(2L * totalN) * x + lit(totW), 2L * totW)
    cum
      .withColumn("n_copies",
        (below(col("__cum")) - below(col("__cum") - wLong)).cast("long"))
      .filter(col("n_copies") >= 1L)
      .select(col(idCol), col("n_copies"))
  }

  /** EXACT mixture plan under availability caps — the water-filling
    * step between "target mixture weights" and the samplers that
    * execute them: apportion a token `budget` across domains
    * proportionally to `weightsPpm`, but no domain may exceed
    * `maxEpochs` passes over its available tokens. Domains whose
    * proportional share exceeds their cap get exactly the cap; their
    * unserved budget redistributes proportionally among the uncapped
    * (recursively — the classic water-filling fixpoint). Output per
    * domain present in the corpus: availability, weight, cap, a 0/1
    * `capped` flag, `planned_tokens`, and `epochs_micro`
    * (planned·1e6 DIV avail).
    *
    * Exactness: Σ planned = min(budget, Σ caps) to the token (Hamilton
    * largest-remainder rounding among the uncapped; a boundary domain
    * may exceed its cap by at most the 1-token rounding seat). The
    * fixpoint is computed in CLOSED FORM, not by iteration: sort
    * domains by cap/weight ascending — the order in which they hit
    * their caps as the water level λ rises — and find the stop
    * position with exclusive-prefix sums: with the first i−1 capped,
    * domain i stays uncapped iff (B − capSum_{i-1})·w_i < cap_i·wRest_i
    * (the λ comparison cross-multiplied, so the decision is pure
    * integer arithmetic; the sort key is one IEEE long÷long, identical
    * in both engines). Every window runs over the |domains|-row
    * aggregate only — the corpus is touched by exactly one
    * sum-per-domain scan.
    *
    * Bounds: budget·Σw and cap·Σw must stay under 2^63 — at ppm
    * weights that is ~9·10^12 tokens; plan in kilotokens past it
    * (`require`d for the budget side). Zero-weight domains plan 0;
    * weights naming absent domains are ignored (the plan covers the
    * corpus that exists). */
  def mixturePlan(df: DataFrame, domainCol: String, tokensCol: String,
                  weightsPpm: Map[String, Long], budget: Long,
                  maxEpochs: Int = 1): DataFrame = {
    require(budget >= 0, s"mixturePlan: budget=$budget must be >= 0")
    require(maxEpochs >= 1, s"mixturePlan: maxEpochs=$maxEpochs must be >= 1")
    require(weightsPpm.nonEmpty && weightsPpm.values.forall(_ >= 0L),
      "mixturePlan: weights must be a nonempty map of >= 0 ppm values")
    val wSumAll = weightsPpm.values.sum
    require(wSumAll > 0L, "mixturePlan: all weights are 0")
    require(budget <= Long.MaxValue / wSumAll,
      s"mixturePlan: budget*Σw overflows long — plan in coarser units")
    val avail = df.groupBy(col(domainCol).cast("string").as("domain"))
      .agg(sum(col(tokensCol).cast("long")).as("avail_tokens"))
      .withColumn("weight_ppm",
        coalesce(element_at(typedLit(weightsPpm), col("domain")), lit(0L)))
      .withColumn("cap_tokens", col("avail_tokens") * lit(maxEpochs.toLong))
      // cap-side overflow is data-dependent (cap·wRest in the stop
      // condition), so the budget-side `require` can't cover it — guard
      // per domain and FAIL LOUDLY instead of comparing wrapped
      // negatives into a silently wrong capped set (the GlobalCumSum
      // misalignment-guard discipline; |domains| rows, so the guard is
      // free)
      .withColumn("cap_tokens",
        when(col("cap_tokens") > lit(Long.MaxValue / wSumAll), raise_error(
          concat(lit("mixturePlan: cap_tokens*Σw overflows long for domain "),
            col("domain"), lit(" — plan in coarser units"))))
          .otherwise(col("cap_tokens")))
    val pos = avail.filter(col("weight_ppm") > 0L)
    // cap-fill order: cap/weight ascending (IEEE double of two longs —
    // bit-identical cross-engine), domain tiebreak
    val rKey = col("cap_tokens").cast("double") / col("weight_ppm")
    val ord = Window.orderBy(rKey, col("domain"))
    val exPrefix = ord.rowsBetween(Window.unboundedPreceding, -1)
    val runPrefix = ord.rowsBetween(Window.unboundedPreceding, 0)
    val all = ord.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val planned = pos
      .withColumn("__capEx", coalesce(sum(col("cap_tokens")).over(exPrefix), lit(0L)))
      .withColumn("__wEx", coalesce(sum(col("weight_ppm")).over(exPrefix), lit(0L)))
      .withColumn("__wRest", sum(col("weight_ppm")).over(all) - col("__wEx"))
      // with the first i-1 capped, does the water level stop below this
      // domain's cap? (λ < cap_i/w_i, cross-multiplied)
      .withColumn("__stop",
        ((lit(budget) - col("__capEx")) * col("weight_ppm") <
          col("cap_tokens") * col("__wRest")).cast("int"))
      .withColumn("capped",
        (max(col("__stop")).over(runPrefix) === 0).cast("long"))
      .withColumn("__capSumF",
        sum(when(col("capped") === 1L, col("cap_tokens")).otherwise(0L)).over(all))
      .withColumn("__wU",
        sum(when(col("capped") === 0L, col("weight_ppm")).otherwise(0L)).over(all))
      .withColumn("__remB", greatest(lit(budget) - col("__capSumF"), lit(0L)))
      // Hamilton apportionment of the remaining budget over the uncapped
      .withColumn("__base", when(col("capped") === 1L, lit(0L))
        .otherwise(expr("__remB * weight_ppm DIV __wU")))
      .withColumn("__rem", when(col("capped") === 1L, lit(-1L))
        .otherwise(expr("__remB * weight_ppm % __wU")))
      .withColumn("__seats", col("__remB") - sum(col("__base")).over(all))
      .withColumn("__rk", row_number().over(
        Window.orderBy(col("__rem").desc, col("domain"))))
      .withColumn("planned_tokens",
        when(col("capped") === 1L, col("cap_tokens"))
          .otherwise(col("__base") +
            when(col("__rk") <= col("__seats"), lit(1L)).otherwise(lit(0L))))
    planned
      .select(col("domain"), col("avail_tokens"), col("weight_ppm"),
        col("cap_tokens"), col("capped"), col("planned_tokens"))
      .unionByName(avail.filter(col("weight_ppm") === 0L)
        .select(col("domain"), col("avail_tokens"), col("weight_ppm"),
          col("cap_tokens"), lit(0L).as("capped"),
          lit(0L).as("planned_tokens")))
      .withColumn("epochs_micro",
        when(col("avail_tokens") <= 0L, lit(0L))
          // planned ≤ cap ≤ Long.MaxValue/Σw, which only bounds the
          // 1e6 multiply when Σw ≥ 1e6 — weights are an arbitrary
          // ppm-ish map, not forced to sum to 1e6, so guard the
          // multiply itself and fail loudly (same raise_error
          // discipline as the cap-side guard above)
          .when(col("planned_tokens") > lit(Long.MaxValue / 1000000L),
            raise_error(concat(
              lit("mixturePlan: planned_tokens*1e6 overflows long for domain "),
              col("domain"), lit(" — plan in coarser units"))).cast("long"))
          .otherwise(expr("planned_tokens * 1000000 DIV avail_tokens")))
  }

  /** Append a `split` column assigning each row to one of the named
    * fractions (e.g. train/val/test). Weights must sum to ≤ 1; any
    * remainder falls into the LAST split. */
  def splitAssign(df: DataFrame, idCol: String,
                  weights: Seq[(String, Double)],
                  seed: Long = 42L): DataFrame = {
    require(weights.nonEmpty, "splitAssign: no splits given")
    require(weights.forall(_._2 > 0), "splitAssign: weights must be positive")
    require(weights.map(_._2).sum <= 1.0 + 1e-9,
      s"splitAssign: weights sum to ${weights.map(_._2).sum} > 1")
    val b = hashBucket(col(idCol), "split", seed)
    val cuts = weights.map(_._2).scanLeft(0.0)(_ + _).tail.map(cutFor)
    val assigned = weights.init.zip(cuts.init).foldRight(
      lit(weights.last._1): Column) { case (((name, _), cut), rest) =>
      when(b < cut, lit(name)).otherwise(rest)
    }
    df.withColumn("split", assigned)
  }

  /** EXACT-TOTAL proportional stratified sample (largest-remainder /
    * Hamilton apportionment): draw exactly `totalN` rows overall,
    * allocated across strata proportionally to their sizes — the draw
    * neither a fixed-n-per-stratum sampler nor a rate-based sampler can
    * make (rates only hit a total in expectation). Quotas are pure
    * integer arithmetic: base = totalN·count DIV total, the leftover
    * seats go to the largest remainders (ties → stratum ascending);
    * within a stratum the deterministic md5-rank picks rows (the
    * stratifiedTopN discipline). Exact whenever totalN ≤ total rows
    * (above that every row returns).
    *
    * Scale shape: one bounded count aggregate (|strata| rows) computes
    * every quota — window over that tiny frame, never the corpus — then
    * quotas broadcast back and the per-stratum rank window prunes
    * map-side (WindowGroupLimit). */
  def proportionalSample(df: DataFrame, idCol: String, stratumCol: String,
                         totalN: Long, seed: Long = 42L): DataFrame = {
    require(totalN >= 0, s"proportionalSample: totalN >= 0, got $totalN")
    val counts = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("__c"))
    val tot = counts.agg(sum(col("__c")).as("__t"))
    val w = Window.orderBy(col("__rem").desc, col(stratumCol))
    val quotas = counts.crossJoin(broadcast(tot))
      .withColumn("__base", expr(s"$totalN * __c DIV __t"))
      .withColumn("__rem", expr(s"($totalN * __c) % __t"))
      .crossJoin(broadcast(counts.crossJoin(tot)
        .agg(sum(expr(s"$totalN * __c DIV __t")).as("__bsum"))))
      .withColumn("__seat",
        when(row_number().over(w) <= lit(totalN) - col("__bsum"), 1L)
          .otherwise(0L))
      .select(col(stratumCol), (col("__base") + col("__seat")).as("__quota"))
    val rw = Window.partitionBy(col(stratumCol))
      .orderBy(hashBucket(col(idCol), "propn", seed), col(idCol))
    df.join(broadcast(quotas), Seq(stratumCol))
      .withColumn("__rk", row_number().over(rw))
      .filter(col("__rk") <= col("__quota"))
      .drop("__quota", "__rk")
  }

  /** Quantile winsorization — the robust-statistics clip: values below
    * the `lo` quantile raise to it, values above the `hi` quantile
    * lower to it (heavy-tail taming before means/z-scores, the
    * complement of [[graft.operators.Outliers]]' flag-and-drop). Same
    * exact-percentile machinery as [[quantileGate]] (integral measure,
    * ONE percentile aggregate for both cuts, broadcast back, scan-local
    * clamp — the corpus never shuffles); output adds `<scoreCol>_w` as
    * a double (the interpolated cuts are fractional), null scores stay
    * null. */
  def winsorize(df: DataFrame, scoreCol: String,
                lo: Double = 0.25, hi: Double = 0.75): DataFrame = {
    require(lo > 0.0 && hi < 1.0 && lo < hi,
      s"winsorize: need 0 < lo < hi < 1, got ($lo, $hi)")
    val quoted = integralPercentileMeasure(df, scoreCol, "winsorize")
    val thr = df.agg(
      expr(s"percentile($quoted, CAST($lo AS DOUBLE))").as("__wlo"),
      expr(s"percentile($quoted, CAST($hi AS DOUBLE))").as("__whi"))
    val x = col(quoted).cast("double")
    df.crossJoin(broadcast(thr))
      // explicit null branch: both engines' GREATEST/LEAST skip nulls
      // rather than propagate them, which would silently clip a null
      // score to the lower cut
      .withColumn(s"${scoreCol}_w",
        when(x.isNull, lit(null).cast("double"))
          .otherwise(least(greatest(x, col("__wlo")), col("__whi"))))
      .drop("__wlo", "__whi")
  }

  /** Leakage-safe train/val/test split: [[splitAssign]] keyed on the
    * NEAR-DUP CLUSTER label instead of the doc id, so two near-duplicate
    * documents can NEVER straddle splits — the eval-leakage mode a
    * doc-keyed split guarantees at crawl scale (every popular page has
    * near-copies, and a plain 90/10 split puts some copy pair across the
    * boundary with near-certainty). Cluster labels come from
    * [[Dedup.clusterByMinhash]]'s bounded candidate machinery; the split
    * itself stays the deterministic md5-bucket rule, applied to
    * `cluster_id` — singleton docs (their own cluster) split exactly as
    * a doc-keyed split would. Output keeps `cluster_id` as evidence. */
  def leakageSafeSplit(df: DataFrame, textCol: String, idCol: String,
                       weights: Seq[(String, Double)], seed: Long = 42L,
                       minEstJaccard: Double = 0.5): DataFrame =
    splitAssign(Dedup.clusterByMinhash(df, textCol, idCol,
      minEstJaccard = minEstJaccard), "cluster_id", weights, seed)

  /** Per-row weighted deterministic sampling: keep a row with probability
    * `weight` (a Column in [0,1] — e.g. a quality score, so high-quality
    * documents are oversampled). The row's cut is `rint(weight * 1e6)`
    * computed PER ROW, compared against the row's hash bucket — still a
    * pure scan-local predicate (zero shuffle, prunes onto the scan), and
    * exactly replayable cross-engine as long as `weight` itself is
    * deterministic. Same 1e-6 rate resolution as [[hashSample]]. */
  def weightedHashSample(df: DataFrame, idCol: String, weight: Column,
                         seed: Long = 42L): DataFrame = {
    val cut = round(least(lit(1.0), greatest(lit(0.0), weight)) * lit(Mod.toDouble), 0)
      .cast("long")
    df.filter(hashBucket(col(idCol), "wsample", seed) < cut)
  }

  /** Stratified (per-stratum-rate) deterministic sampling: each stratum
    * value keeps its own fraction — the language/source rebalancing step
    * of corpus mixing. Strata absent from `rates` keep `defaultRate`. */
  def stratifiedHashSample(df: DataFrame, idCol: String, stratumCol: String,
                           rates: Map[String, Double],
                           defaultRate: Double = 1.0,
                           seed: Long = 42L): DataFrame = {
    val cut = rates.toSeq.sortBy(_._1).foldRight(
      lit(cutFor(defaultRate)): Column) {
      case ((stratum, rate), rest) =>
        when(col(stratumCol) === stratum, lit(cutFor(rate))).otherwise(rest)
    }
    df.filter(hashBucket(col(idCol), "strat", seed) < cut)
  }

  /** Exactly `n` rows per stratum (all of a stratum smaller than `n`),
    * chosen by deterministic hash rank — the balanced-sample counterpart
    * of [[stratifiedHashSample]]: exact counts ("20k docs per language
    * for the eval set") instead of per-stratum rates. One hash shuffle
    * on the stratum; the rank filter qualifies for Spark's
    * `WindowGroupLimit` pushdown, which prunes every map partition to
    * its local top-`n` BEFORE the exchange — a billion-row stratum
    * ships only `n` rows per input partition, not the stratum. */
  def stratifiedTopN(df: DataFrame, idCol: String, stratumCol: String,
                     n: Int, seed: Long = 42L): DataFrame = {
    require(n > 0, "stratifiedTopN: n must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol))
      .orderBy(hashBucket(col(idCol), "stratn", seed), col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= n)
      .drop("__rk")
  }

  /** Temperature-flattened domain mixture — the multinomial τ-sampling
    * of multilingual/multi-domain pretraining (public recipe of XLM-R,
    * Conneau et al. 2020 §3.1, and mT5): resample so domain `s`'s share
    * moves from its natural `n_s/N` toward `p_s ∝ n_s^τ`. Realized as a
    * per-domain DETERMINISTIC keep rate, largest-rate-normalized so no
    * domain is oversampled: `rate_s = (n_min / n_s)^(1−τ)` — the
    * smallest domain keeps everything, a domain `m×` bigger keeps
    * `m^(τ−1)` of its rows. `tau = 1` is the natural mixture (all rates
    * 1); `tau = 0` equalizes expected counts at `n_min` per domain.
    *
    * `tau = 0.5` (the common default) is spelled `sqrt`, which IEEE 754
    * requires to be correctly rounded — the rate, and therefore the
    * membership cut, replays BIT-EXACTLY in any compliant engine. Other
    * `tau` go through `pow`, whose last-ulp behavior is only
    * per-value-tested cross-engine (the ln contract of
    * [[Corpus.lmScore]]); prefer 0.5 in oracle-checked pipelines.
    *
    * Scale shape: one count aggregation bounded at one row per domain,
    * a one-row min broadcast onto it (the quantileGate scalar pattern),
    * and the resulting per-domain cuts broadcast-join back onto the
    * corpus — the big table is scanned, never shuffled, and the gate
    * itself is the usual scan-local [[hashBucket]] predicate. */
  def temperatureMixture(df: DataFrame, idCol: String, domainCol: String,
                         tau: Double = 0.5, seed: Long = 42L): DataFrame = {
    require(tau >= 0.0 && tau <= 1.0, s"temperatureMixture: tau in [0,1], got $tau")
    // a NULL domain is excluded from BOTH the rate computation and the
    // output (the equi-join below drops null keys anyway): without the
    // filter, a handful of null-domain rows would form the null GROUP,
    // capture min(n), and silently collapse every real domain's keep
    // rate. Filter or impute the domain upstream to keep those rows.
    val counts = df.filter(col(domainCol).isNotNull)
      .groupBy(col(domainCol)).agg(count(lit(1)).as("__n"))
    val mn = counts.agg(min("__n").as("__mn"))
    val ratio = col("__mn").cast("double") / col("__n").cast("double")
    val rate = if (tau == 0.5) sqrt(ratio) else pow(ratio, lit(1.0 - tau))
    val cuts = counts.crossJoin(broadcast(mn))
      .select(col(domainCol),
        round(rate * lit(Mod.toDouble), 0).cast("long").as("__cut"))
    df.join(broadcast(cuts), Seq(domainCol))
      .filter(hashBucket(col(idCol), "tmix", seed) < col("__cut"))
      .drop("__cut")
  }

  /** Token-BUDGET mixture: per domain, keep a deterministic selection of
    * documents until a token budget is met — how real training mixtures
    * are specified ("30B tokens of code, 10B of forums"), where
    * [[temperatureMixture]] reasons in document RATES. Documents are
    * ordered inside each domain by sampling hash (id tiebreak) and a
    * document survives iff the tokens of the domain's earlier picks
    * haven't reached the budget yet (exclusive running sum < budget) —
    * so the crossing document is INCLUDED and every selection totals ≥
    * budget when the domain has that much; short domains keep
    * everything. Fully deterministic, no RNG, engine-replayable.
    *
    * Plan: ONE window per domain partition (running sum over the hash
    * order). Parallelism is the domain count and the max task is the
    * largest domain — the natural unit for a mixture op (the
    * window-key house rule); a corpus that is one giant domain should
    * be budgeted globally via [[hashSample]] instead. `tokensCol` must
    * be integral (token counts — the house float rule). */
  def tokenBudgetSample(df: DataFrame, idCol: String, domainCol: String,
                        tokensCol: String, budget: Long,
                        seed: Long = 42L): DataFrame = {
    require(budget > 0L, s"tokenBudgetSample: budget > 0, got $budget")
    val w = Window.partitionBy(col(domainCol))
      .orderBy(hashBucket(col(idCol), "tbudget", seed), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("__prev", coalesce(sum(col(tokensCol)).over(w), lit(0L)))
      .filter(col("__prev") < lit(budget))
      .drop("__prev")
  }

  /** EXECUTE a [[mixturePlan]]: per-domain deterministic greedy fill up
    * to each domain's `planned_tokens` — [[tokenBudgetSample]]'s
    * crossing-doc rule (docs ordered by sampling hash then id; a doc is
    * kept while the EXCLUSIVE running sum is below the budget, so the
    * doc that crosses the line is included) with per-domain budgets
    * joined broadcast from the |domains|-row plan instead of one
    * constant. Same "tbudget" hash tag as the constant-budget sampler,
    * so the two draws are order-consistent. Domains absent from the
    * plan (or planned 0) contribute nothing. ONE-PASS semantics: a
    * domain whose plan exceeds its availability (maxEpochs > 1 binding
    * at the cap) yields its full availability once — epoch repetition
    * is the training writer's loop, not the sampler's. */
  def executeMixturePlan(df: DataFrame, idCol: String, domainCol: String,
                         tokensCol: String, plan: DataFrame,
                         seed: Long = 42L): DataFrame = {
    val w = Window.partitionBy(col(domainCol))
      .orderBy(hashBucket(col(idCol), "tbudget", seed), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    // reserved __-aliases for the plan side: joining on a bare
    // "domain"/"planned_tokens" would collide (ambiguous or silently
    // self-referential) when the caller's own domain column is named
    // "domain" — and the drop would take the caller's column with it
    val planned = broadcast(plan.select(
      col("domain").as("__plan_domain"),
      col("planned_tokens").as("__planned_tokens")))
    df.join(planned, col(domainCol) === col("__plan_domain"))
      .withColumn("__prev", coalesce(sum(col(tokensCol)).over(w), lit(0L)))
      .filter(col("__prev") < col("__planned_tokens"))
      .drop("__plan_domain", "__planned_tokens", "__prev")
  }

  /** Deterministic global shuffle: a total order by sampling hash (ties
    * broken by id). At scale this is ONE range-partitioned sort — exactly
    * what a training-data writer needs to decorrelate adjacent documents
    * — and, unlike `orderBy(rand())`, reproducible and engine-portable. */
  def hashShuffle(df: DataFrame, idCol: String, seed: Long = 42L): DataFrame =
    df.orderBy(hashBucket(col(idCol), "shuffle", seed), col(idCol))

  /** Global-quantile gate: keep rows whose `scoreCol` reaches the
    * corpus's exact interpolated `q`-quantile ("top 25% by quality").
    * The threshold is ONE scalar aggregate broadcast back onto the scan
    * (BM25-stats pattern) — the corpus itself never shuffles, so the
    * gate composes scan-local with whatever runs next. Spark's exact
    * `percentile` buffers (value → count), so its state is bounded by
    * the measure's DISTINCT values, not by rows: use integer-valued
    * measures (lengths, token counts, micro-quantized scores — the
    * house float rule already produces these) at 100 TB. The
    * interpolation arithmetic matches DuckDB's `quantile_cont` exactly
    * (hash-verified by q_percentiles), so threshold comparisons replay
    * engine-portably. */
  /** Resolve + validate an exact-percentile measure, shared by
    * [[quantileGate]] and [[quantileBuckets]]: exact percentile state is
    * bounded by DISTINCT measure values, not rows — only integral
    * measures (lengths, counts, micro-quantized scores) keep that bound
    * at 100 TB; a raw double score must be quantized by the caller
    * first (the house float rule). Returns the RESOLVED name,
    * backtick-escaped (`` is the quoted-identifier escape), so hostile
    * names — spaces, dots, even backticks — parse. */
  private def integralPercentileMeasure(df: DataFrame, scoreCol: String,
                                        op: String): String = {
    val field = Resolve.uniqueField(df, scoreCol, op)
    field.dataType match {
      case _: org.apache.spark.sql.types.ByteType | _: org.apache.spark.sql.types.ShortType |
           _: org.apache.spark.sql.types.IntegerType | _: org.apache.spark.sql.types.LongType => ()
      case dt => throw new IllegalArgumentException(
        s"$op: measure '$scoreCol' must be integral (exact percentile " +
          s"buffers one entry per distinct value); got ${dt.simpleString} — " +
          "micro-quantize the score to a long first")
    }
    "`" + field.name.replace("`", "``") + "`"
  }

  def quantileGate(df: DataFrame, scoreCol: String, q: Double): DataFrame = {
    require(q > 0.0 && q < 1.0, s"quantileGate: q in (0,1), got $q")
    val quoted = integralPercentileMeasure(df, scoreCol, "quantileGate")
    val thr = df.agg(
      expr(s"percentile($quoted, CAST($q AS DOUBLE))").as("__thr"))
    df.crossJoin(broadcast(thr))
      .filter(col(quoted).cast("double") >= col("__thr"))
      .drop("__thr")
  }

  /** Quantile BUCKETING — [[quantileGate]]'s labeling twin (CCNet-style
    * head/middle/tail splits, arXiv:1911.00359's perplexity buckets):
    * every row keeps flowing, stamped with the 0-based index of the
    * first quantile cut at or above its score (`cuts.size` for the top
    * tail). `cuts` must be strictly increasing fractions in (0,1); the
    * measure must be integral (same exact-percentile state bound as the
    * gate — micro-quantize doubles first). A null score yields a null
    * bucket (never a silent top-tail claim).
    *
    * Plan: ONE percentile aggregate computes every cut (the state is
    * shared), broadcast back; bucketing is then a scan-local CASE chain
    * — the corpus never shuffles, and the stamped frame composes with
    * any downstream filter/mixture. Threshold comparisons are
    * `score <= t` on the interpolated double — bit-replayable (the
    * quantileGate interpolation parity). */
  def quantileBuckets(df: DataFrame, scoreCol: String, cuts: Seq[Double],
                      name: String = "qbucket"): DataFrame = {
    require(cuts.nonEmpty, "quantileBuckets: need at least one cut")
    require(cuts.forall(c => c > 0.0 && c < 1.0),
      s"quantileBuckets: cuts in (0,1), got $cuts")
    require(cuts == cuts.sorted && cuts.distinct == cuts,
      s"quantileBuckets: cuts must be strictly increasing, got $cuts")
    val quoted = integralPercentileMeasure(df, scoreCol, "quantileBuckets")
    val thr = df.agg(
      expr(s"percentile($quoted, CAST(${cuts.head} AS DOUBLE))").as("__thr0"),
      cuts.tail.zipWithIndex.map { case (c, i) =>
        expr(s"percentile($quoted, CAST($c AS DOUBLE))").as(s"__thr${i + 1}")
      }: _*)
    val x = col(quoted).cast("double")
    val bucket = cuts.indices.foldRight(lit(cuts.size.toLong): Column) {
      (i, acc) => when(x <= col(s"__thr$i"), lit(i.toLong)).otherwise(acc)
    }
    df.crossJoin(broadcast(thr))
      .withColumn(name,
        when(col(quoted).isNull, lit(null).cast("long")).otherwise(bucket))
      .drop(cuts.indices.map(i => s"__thr$i"): _*)
  }
}
