package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Whole-table cumulative SUM without the single-partition window a
  * naive `SUM(v) OVER (ORDER BY …)` plans — the third member of the
  * two-pass global family ([[GlobalRank]], [[GlobalShift]]): bucket on
  * the order keys ([[RangeBuckets.stamp]]), cum-sum locally per bucket
  * with an ordinary parallel window, add broadcast per-bucket prefix
  * offsets as a scan-local map lookup. Pass 1 is one tiny row per
  * bucket (bounded by the shuffle fan-out, never by data).
  *
  * LONG values only, by contract: integer addition is associative, so
  * the partial-sums-plus-offsets decomposition is exactly the global
  * cumulative sum and the result is bit-replayable cross-engine
  * (`q_systematic_resample`'s oracle). A float cumsum is
  * order-dependent in IEEE arithmetic — its two-pass decomposition is
  * NOT the same float as the single-pass fold, so it has no exactness
  * contract to offer; callers who want one should fix-point-scale
  * (the `round(x*100)::long` cents discipline).
  *
  * Tie semantics: the window uses Spark's default RANGE frame (peers
  * included), matching the SQL/DuckDB default — equal order keys all
  * carry the tie group's full sum, which keeps the result deterministic
  * under non-unique orders. Null values contribute 0 (coalesced
  * in-plan, mirrored by the oracle); null ORDER keys follow the family
  * contract (NULLS FIRST; cross-engine parity for non-null keys).
  *
  * Nothing is cached; a pass-2 bucket missing from pass 1 (input not
  * deterministic upstream) fails loudly instead of silently corrupting
  * sums, as in [[GlobalRank]].
  *
  * Overflow: SUM(long) wraps silently past 2^63 with ANSI off — at a
  * total weight that large, rescale the weights first (the systematic
  * resampler `require`s headroom explicitly). */
object GlobalCumSum {

  /** Append the global cumulative sum of `value` over `order` as
    * `name`. */
  def withGlobalCumSum(df: DataFrame, value: Column, order: Seq[Column],
                       name: String = "cum"): DataFrame =
    withGlobalCumSumStats(df, value, order, name)._1

  /** Whole-table facts pass 1 computes for free while deriving the
    * offsets — row count, total value sum, min value. Exposed so
    * callers needing them (the systematic resampler's W and its bounds
    * checks) don't pay a separate whole-table aggregate scan. */
  private[operators] final case class Stats(rows: Long, sum: Long, min: Long)

  /** [[withGlobalCumSum]] plus the pass-1 [[Stats]] — saves the caller
    * one full input scan. `refuseTies = Some((op, why))` makes pass 2
    * fail on a tied order tuple, naming it ([[RangeBuckets.refuseTies]]):
    * for a caller whose contract needs a unique order, where the RANGE
    * frame would otherwise quietly give tied rows one shared sum. */
  private[operators] def withGlobalCumSumStats(
      df: DataFrame, value: Column, order: Seq[Column],
      name: String = "cum",
      refuseTies: Option[(String, String)] = None): (DataFrame, Stats) = {
    require(order.nonEmpty, "withGlobalCumSum: need at least one order column")
    val reserved = Seq("__pid", "__cv") ++ order.indices.map(i => s"__ok$i")
    val clash = df.columns.toSet.intersect(reserved.toSet)
    require(clash.isEmpty,
      s"withGlobalCumSum: input columns ${clash.mkString(", ")} collide " +
        "with reserved internal names — rename them first")
    require(!df.columns.contains(name),
      s"withGlobalCumSum: output column '$name' already exists")
    val okNames = order.indices.map(i => s"__ok$i")
    val keyed = order.zip(okNames).foldLeft(
      df.withColumn("__cv", coalesce(value.cast("long"), lit(0L)))) {
      case (d, (c, n)) => d.withColumn(n, c)
    }
    val numParts = df.sparkSession.sessionState.conf.numShufflePartitions
    val parted = RangeBuckets.stamp(keyed, okNames, numParts)

    // pass 1: per-bucket value sums (one row per bucket), plus the
    // whole-table row/sum/min facts the same rows carry for free
    val stats = parted.groupBy("__pid")
      .agg(sum(col("__cv")).as("__s"), count(lit(1)).as("__n"),
        min(col("__cv")).as("__m"))
      .collect().map(r => (r.getAs[Int]("__pid"), r.getAs[Long]("__s"),
        r.getAs[Long]("__n"), r.getAs[Long]("__m")))
    // empty input: typedLit of an empty map has no value type to infer
    if (stats.isEmpty)
      return (df.withColumn(name, lit(null).cast("long")).filter(lit(false)),
        Stats(0L, 0L, 0L))
    val facts = Stats(stats.map(_._3).sum, stats.map(_._2).sum,
      stats.map(_._4).min)
    val off = RangeBuckets.prefixOffset("GlobalCumSum", stats.map(s => s._1 -> s._2))

    // pass 2: parallel within-bucket window + broadcast offset
    val w = Window.partitionBy("__pid").orderBy(okNames.map(col): _*)
    val cum = (off + sum(col("__cv")).over(w)).cast("long")
    (parted
      .withColumn(name, refuseTies.fold(cum) { case (op, why) =>
        RangeBuckets.refuseTies(op, why, w, okNames.map(col), cum) })
      .drop(okNames :+ "__pid" :+ "__cv": _*), facts)
  }
}
