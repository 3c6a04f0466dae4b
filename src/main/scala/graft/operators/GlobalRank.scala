package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Whole-table (global) rank family WITHOUT the single-partition window a
  * naive `rank() OVER (ORDER BY …)` plans — the classic two-pass pattern:
  * bucket on the order keys ([[RangeBuckets.stamp]]), rank locally per
  * bucket, then add broadcast per-bucket offsets. Beyond-reference
  * extension (the reference ranks by sorting the whole frame in one
  * process, `dataframe.nim:2298-2341`-adjacent; a distributed engine must
  * not).
  *
  * Pass 1 aggregates per-bucket row/distinct-key counts (one tiny row per
  * bucket, collected to the driver and prefix-summed — bounded by the
  * shuffle-partition count, never by data). Pass 2 ranks inside each
  * bucket with an ordinary parallel window and adds the offsets as a
  * scan-local map lookup. Equal keys share a bucket by construction, so
  * ties never straddle buckets and
  *   global rank       = bucket row offset + local rank
  *   global dense_rank = bucket key offset + local dense_rank
  *   percent_rank      = (rank − 1) / (N − 1)
  *   cume_dist         = (rank + tie_size − 1) / N
  * — every derivation a single division of exact integers, so the doubles
  * are bit-identical cross-engine (oracle-proven by `q_global_rank`).
  *
  * Scale shape: max task size is ~N / shuffle-partitions rows (plus tie
  * skew), asserted in GlobalRankSuite — parallelism grows with the
  * cluster instead of being capped at 1 (or at the cardinality of some
  * low-card partition key).
  *
  * `__pid` is a pure projection of the row, so both passes agree on
  * every row's bucket as long as the input itself is deterministic; a
  * pass-2 bucket with no pass-1 stats row fails loudly via `raise_error`
  * instead of silently nulling ranks.
  *
  * Order-key nulls: keys are ranked with Spark's default ASC NULLS
  * FIRST; DuckDB (and the SQL standard default for ASC) is NULLS LAST,
  * so the oracle family's bit-exactness claim holds for NON-NULL order
  * keys only — that is part of this operator's contract. Callers with
  * nullable keys should `coalesce` them to a sentinel (or filter) first;
  * the rank arithmetic itself stays correct either way, only the
  * cross-engine tie order of the null group differs. */
object GlobalRank {

  /** Append global `rnk`/`drnk`/`prnk`/`cdist` over `order`. Tie-stable:
    * a non-unique order still yields deterministic values (ntile is
    * excluded here for exactly that reason — see DataTable.withNtile). */
  def withGlobalRanks(df: DataFrame, order: Seq[Column],
                      rankName: String = "rnk", denseName: String = "drnk",
                      pctName: String = "prnk", cumeName: String = "cdist"): DataFrame =
    build(df, order, rankName, denseName, pctName, cumeName)._1

  /** Global `NTILE(buckets)` over a UNIQUE total order, two-pass — the
    * whole-table quantile bucketing a naive
    * `ntile(b) OVER (ORDER BY …)` funnels through one SinglePartition
    * window. Pass 1's per-partition counts give the global row number
    * (rank ≡ row_number under a unique order — non-uniqueness FAILS
    * LOUDLY, checked from the same stats rows) AND the total N, so the
    * bucket is a scan-local integer formula replicating the SQL-standard
    * remainder rule: with q = N div b, r = N mod b, the first r buckets
    * take q+1 rows. All `IntegralDivide` arithmetic — exact past 2^53,
    * bit-replayable by a DuckDB `NTILE(b)` over the same order.
    *
    * Order-key nulls follow the family contract (NULLS FIRST — oracle
    * parity for non-null keys only). */
  def withGlobalNtile(df: DataFrame, buckets: Int, uniqueOrder: Seq[Column],
                      name: String = "bucket"): DataFrame = {
    require(buckets >= 1, s"withGlobalNtile: buckets=$buckets must be >= 1")
    import org.apache.spark.sql.catalyst.expressions.IntegralDivide
    import org.apache.spark.sql.graftshim.Shim
    val rn = "__nt_rn"
    val helpers = Seq("__nt_d", "__nt_p", "__nt_c")
    val (ranked, total) = build(df, uniqueOrder, rn, helpers(0),
      helpers(1), helpers(2), requireUnique = true)
    val q = total / buckets
    val r = total % buckets
    def idiv(a: Column, d: Long): Column = Shim.toColumn(new IntegralDivide(
      Shim.toExpression(a), Shim.toExpression(lit(d))))
    val rn0 = col(rn) - lit(1L)
    // q == 0 (fewer rows than buckets): r = N, so the first branch
    // covers every row; the guarded max keeps the dead branch's divisor
    // non-zero
    val bucket =
      when(rn0 < lit(r * (q + 1)), idiv(rn0, q + 1) + lit(1L))
        .otherwise(lit(r) + idiv(rn0 - lit(r * (q + 1)), math.max(q, 1L)) +
          lit(1L))
    ranked.withColumn(name, bucket.cast("long"))
      .drop(rn +: helpers: _*)
  }

  /** Core: returns (ranked plan, total row count). */
  private def build(df: DataFrame, order: Seq[Column],
                    rankName: String, denseName: String,
                    pctName: String, cumeName: String,
                    requireUnique: Boolean = false): (DataFrame, Long) = {
    require(order.nonEmpty, "withGlobalRanks: need at least one order column")
    val okNames = order.indices.map(i => s"__ok$i")
    val keyed = order.zip(okNames).foldLeft(df) { case (d, (c, n)) => d.withColumn(n, c) }
    val okCols = okNames.map(col)
    val numParts = df.sparkSession.sessionState.conf.numShufflePartitions
    val parted = RangeBuckets.stamp(keyed, okNames, numParts)

    // pass 1: per-bucket row + distinct-key counts (one row/bucket)
    val stats = parted.groupBy("__pid").agg(
      count(lit(1)).as("__rows"),
      count_distinct(struct(okCols: _*)).as("__keys"))
      .collect().map(r => (r.getAs[Int]("__pid"),
        r.getAs[Long]("__rows"), r.getAs[Long]("__keys")))
    val total = stats.map(_._2).sum
    // ntile contract: with a NON-unique order, equal keys share a rank
    // and the bucket arithmetic silently diverges from SQL NTILE (which
    // splits ties by position) — pass 1 already counted rows AND
    // distinct keys, so enforce for free instead of diverging
    if (requireUnique) {
      val keys = stats.map(_._3).sum
      require(keys == total,
        s"withGlobalNtile: order is not unique ($total rows, $keys " +
          "distinct keys) — NTILE over a non-unique order is " +
          "position-dependent; add a tiebreaker key")
    }
    // empty input: no stats rows → typedLit of an empty map has no value
    // type to infer; short-circuit with the same (empty) schema
    if (total == 0L)
      return (df
        .withColumn(rankName, lit(null).cast("long"))
        .withColumn(denseName, lit(null).cast("long"))
        .withColumn(pctName, lit(null).cast("double"))
        .withColumn(cumeName, lit(null).cast("double"))
        .filter(lit(false)), 0L)
    val rowOff = RangeBuckets.prefixOffset("GlobalRank", stats.map(s => s._1 -> s._2))
    val keyOff = RangeBuckets.prefixOffset("GlobalRank", stats.map(s => s._1 -> s._3))

    // pass 2: ordinary parallel windows inside each bucket
    val w = Window.partitionBy("__pid").orderBy(okCols: _*)
    val rnk = rowOff + rank().over(w)
    val drnk = keyOff + dense_rank().over(w)
    // SQL defines percent_rank of a 1-row table as 0.0 — avoid 0/0
    val prnk =
      if (total > 1L)
        (col(rankName) - lit(1L)).cast("double") / lit((total - 1L).toDouble)
      else lit(0.0)
    // cume_dist numerator = rows ≤ current in the order, PEERS INCLUDED —
    // exactly count(*) over the default RANGE UNBOUNDED PRECEDING ..
    // CURRENT ROW frame of the SAME (partition, order) spec the ranks
    // use: locally that count is rank + tie_size − 1, so the global
    // numerator is rowOffset + localCount. Sharing w keeps every window
    // expression in ONE Window operator (guide §2.4: operations keyed
    // the same way share one exchange).
    val cume = (rowOff + count(lit(1)).over(w)).cast("double") /
      lit(total.toDouble)
    (parted
      .withColumn(rankName, rnk)
      .withColumn(denseName, drnk)
      .withColumn(pctName, prnk)
      .withColumn(cumeName, cume)
      .drop(okNames :+ "__pid": _*), total)
  }
}
