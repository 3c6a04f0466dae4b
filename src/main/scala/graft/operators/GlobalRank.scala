package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Whole-table (global) rank family WITHOUT the single-partition window a
  * naive `rank() OVER (ORDER BY …)` plans: a two-pass prefix scan over
  * range buckets ([[RangeBuckets.prefixScan]]). Beyond-reference
  * extension (the reference ranks by sorting the whole frame in one
  * process, `dataframe.nim:2298-2341`-adjacent; a distributed engine must
  * not).
  *
  * Pass 1 counts each bucket's distinct keys next to the skeleton's row
  * count; pass 2 ranks inside each bucket and adds the prefix offsets.
  * Equal keys share a bucket by construction, so ties never straddle
  * buckets and
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
                      pctName: String = "prnk", cumeName: String = "cdist"): DataFrame = {
    val scan = pass1("withGlobalRanks", df, order,
      Seq(rankName, denseName, pctName, cumeName))
    val total = scan.rows
    val rowOff = scan.offset("__n")
    val rnk = rowOff + rank().over(scan.w)
    val drnk = scan.offset("__keys") + dense_rank().over(scan.w)
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
    val cume = (rowOff + count(lit(1)).over(scan.w)).cast("double") /
      lit(total.toDouble)
    scan.finish(scan.parted
      .withColumn(rankName, rnk)
      .withColumn(denseName, drnk)
      .withColumn(pctName, prnk)
      .withColumn(cumeName, cume))
  }

  /** Global `NTILE(buckets)` over a UNIQUE total order, two-pass — the
    * whole-table quantile bucketing a naive
    * `ntile(b) OVER (ORDER BY …)` funnels through one SinglePartition
    * window. Pass 1 gives the global row number (rank ≡ row_number under
    * a unique order — non-uniqueness FAILS LOUDLY, checked from the same
    * per-bucket distinct-key counts) AND the total N, so the
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
    val scan = pass1("withGlobalNtile", df, uniqueOrder, Seq(name))
    val total = scan.rows
    // ntile contract: with a NON-unique order, equal keys share a rank
    // and the bucket arithmetic silently diverges from SQL NTILE (which
    // splits ties by position) — pass 1 already counted rows AND
    // distinct keys, so enforce for free instead of diverging
    val keys = scan.total("__keys")
    require(keys == total,
      s"withGlobalNtile: order is not unique ($total rows, $keys " +
        "distinct keys) — NTILE over a non-unique order is " +
        "position-dependent; add a tiebreaker key")
    val q = total / buckets
    val r = total % buckets
    def idiv(a: Column, d: Long): Column = Shim.toColumn(new IntegralDivide(
      Shim.toExpression(a), Shim.toExpression(lit(d))))
    val rn0 = scan.offset("__n") + row_number().over(scan.w) - lit(1L)
    // q == 0 (fewer rows than buckets): r = N, so the first branch
    // covers every row; the guarded max keeps the dead branch's divisor
    // non-zero
    val bucket =
      when(rn0 < lit(r * (q + 1)), idiv(rn0, q + 1) + lit(1L))
        .otherwise(lit(r) + idiv(rn0 - lit(r * (q + 1)), math.max(q, 1L)) +
          lit(1L))
    scan.finish(scan.parted.withColumn(name, bucket.cast("long")))
  }

  /** Pass 1 of both: per-bucket distinct order tuples beside the row count. */
  private def pass1(op: String, df: DataFrame, order: Seq[Column],
                    outputs: Seq[String]): RangeBuckets.Scan =
    RangeBuckets.prefixScan(op, df, order, outputs)(ok =>
      Seq(count_distinct(struct(ok: _*)).as("__keys")))
}
