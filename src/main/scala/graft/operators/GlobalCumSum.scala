package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Whole-table cumulative SUM without the single-partition window a
  * naive `SUM(v) OVER (ORDER BY …)` plans — the third member of the
  * global family ([[GlobalRank]], [[GlobalShift]]), a two-pass prefix
  * scan over range buckets ([[RangeBuckets.prefixScan]]): pass 1 sums
  * each bucket, pass 2 cum-sums locally and adds the prefix offsets.
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
    val scan = RangeBuckets.prefixScan("withGlobalCumSum", df, order, Seq(name),
      inputs = Seq("__cv" -> coalesce(value.cast("long"), lit(0L))))(_ =>
      Seq(sum(col("__cv")).as("__s"), min(col("__cv")).as("__m")))
    val facts = Stats(scan.rows, scan.total("__s"),
      scan.buckets.map(_.getAs[Long]("__m")).minOption.getOrElse(0L))
    val cum = (scan.offset("__s") + sum(col("__cv")).over(scan.w)).cast("long")
    (scan.finish(scan.parted.withColumn(name, refuseTies.fold(cum) {
      case (op, why) => RangeBuckets.refuseTies(op, why, scan.w, scan.okCols, cum)
    })), facts)
  }
}
