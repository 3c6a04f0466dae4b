package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api._
import graft.sources.Tables
import graft.Queries._
import graft.functions.TextFunctions._
import graft.operators.{Blocklist, Bm25, Corpus, Dedup, Diagnostics, Layout, Multimodal, Outliers, Pack, RangeJoin, Sampling, Similarity}

/** Window and ordering surface: lag/lead, rolling/running frames,
  * rank family, and the two-pass global rank/shift operators.
  *
  * One ledger family of [[Queries.all]] (oracle-parity rules documented
  * there); assembled and key-set-ratcheted by SparkEntry/EntrySuite. */
private[graft] object QueriesWindows {

  val queries: Map[String, Q] = Map(


    // lag over explicit order, partitioned per user (column.nim:1177-1213)
    "q_lag" -> ((s: SparkSession, dir: String) =>
      Tables(s, dir, "events")
        .withLag("prev_value", col("value"), 1,
          order = Seq(col("ts"), col("event_id")), partitionBy = Seq("user_id"))
        .select("event_id", "user_id", "value", "prev_value")
        .arrange("event_id").df),


    // lead over explicit order (column.nim:1177-1213; the lag twin)
    "q_lead" -> ((s: SparkSession, dir: String) =>
      Tables(s, dir, "events")
        .withLead("next_value", col("value"), 1,
          order = Seq(col("ts"), col("event_id")), partitionBy = Seq("user_id"))
        .select("event_id", "user_id", "value", "next_value")
        .arrange("event_id").df),


    // rolling trailing-frame aggregate (beyond-reference): per-user sum of
    // the last 3 events under a total (ts, event_id) order. Cents-exact
    // per the money house rule so the 3-element frame sums identically in
    // any engine; state bounded by the frame, one shuffle on user_id.
    "q_rolling" -> ((s: SparkSession, dir: String) =>
      Tables(s, dir, "events")
        .withRolling("roll_cents",
          sum(round(col("value") * 100.0, 0).cast("long")), 3,
          uniqueOrder = Seq(col("ts"), col("event_id")),
          partitionBy = Seq("user_id"))
        .select("event_id", "user_id", "roll_cents")
        .arrange("event_id").df),


    // time-based trailing frame (RANGE, not ROWS): cents within the
    // user's trailing hour by clock — frames shrink over gaps and need
    // no tie-break (RANGE includes all order-value peers). Micros on
    // both engines (ts div 1000 ↔ epoch_us, the established mapping).
    "q_rolling_time" -> ((s: SparkSession, dir: String) =>
      graft.api.DataTable(
        Tables.eventsUs(s, dir))
        .withRollingRange("hour_cents",
          sum(round(col("value") * 100.0, 0).cast("long")),
          col("ts_us"), 3600L * 1000000L,
          partitionBy = Seq("user_id"))
        .select("event_id", "user_id", "hour_cents")
        .arrange("event_id").df),


    // running (cumulative) aggregate — the prefix twin of q_rolling:
    // per-user cumulative cents and event count under the same total
    // order. Integer-exact prefix sums replay bit-identically.
    "q_running" -> ((s: SparkSession, dir: String) =>
      Tables(s, dir, "events")
        .withRunning("cum_cents",
          sum(round(col("value") * 100.0, 0).cast("long")),
          uniqueOrder = Seq(col("ts"), col("event_id")),
          partitionBy = Seq("user_id"))
        .withRunning("cum_n", count(lit(1)),
          uniqueOrder = Seq(col("ts"), col("event_id")),
          partitionBy = Seq("user_id"))
        .select("event_id", "user_id", "cum_cents", "cum_n")
        .arrange("event_id").df),


    // window rank family (beyond-reference; no distributed analogue of the
    // reference's sort+zip-index ranking). rank/dense_rank/percent_rank/
    // cume_dist over a tie-bearing order are tie-stable; ntile takes the
    // unique (quantity, orderkey, linenumber) order. percent_rank/cume_dist
    // are single divisions of exact ints — bit-identical cross-engine.
    // Partition key is l_partkey (high cardinality) so window parallelism
    // scales with the data — a 3-value key like l_returnflag would funnel
    // the whole table into 3 sort tasks at any cluster size. For ranks
    // over the WHOLE table (no partition key at all) see q_global_rank.
    "q_window_ranks" -> ((s: SparkSession, dir: String) =>
      graft.api.DataTable(
        lineitem(s, dir)
          .withRanks(Seq(col("l_quantity")), partitionBy = Seq("l_partkey"))
          .withNtile("tile", 10,
            Seq(col("l_quantity"), col("l_orderkey"), col("l_linenumber")),
            partitionBy = Seq("l_partkey"))
          .df.select(col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("l_quantity"),
            col("rnk").cast("long").as("rnk"),
            col("drnk").cast("long").as("drnk"),
            col("prnk"), col("cdist"),
            col("tile").cast("long").as("tile")))
        // (l_orderkey, l_linenumber) is NOT unique in the synthetic
        // lineitem — extend to the unique (ok, ln, pk, qty) so row order
        // is total and both engines emit identical sequences
        .arrange("l_orderkey", "l_linenumber", "l_partkey", "l_quantity").df),


    // whole-table rank family WITHOUT a single-partition window: the
    // two-pass range-partition pattern (GlobalRank.withGlobalRanks) —
    // local ranks per range partition + broadcast offsets. rank/dense_rank
    // are exact integers; percent_rank/cume_dist are single divisions of
    // exact integers, so the doubles replay bit-identically in DuckDB's
    // one-partition window even though the Spark plan never has one.
    "q_global_rank" -> ((s: SparkSession, dir: String) =>
      graft.api.DataTable(
        graft.operators.GlobalRank.withGlobalRanks(
          lineitem(s, dir).df, Seq(col("l_quantity")))
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            col("rnk").cast("long").as("rnk"),
            col("drnk").cast("long").as("drnk"),
            col("prnk"), col("cdist")))
        // ties on (ok, ln) exist; adding l_quantity makes every projected
        // column identical within any remaining tie, so order is immaterial
        .arrange("l_orderkey", "l_linenumber", "l_quantity").df),


    // whole-table lag/lead WITHOUT a single-partition window: the
    // GlobalRank two-pass pattern applied to shifts (GlobalShift —
    // per-range-partition window shifts + broadcast boundary strips,
    // replacing DataTable.withLag's documented small-data-only global
    // funnel). Shifts are positional, so the order is the UNIQUE 4-key
    // total order; values are exact copies (no arithmetic), hash-exact.
    "q_global_lag" -> ((s: SparkSession, dir: String) => {
      val ord = Seq(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_quantity"))
      graft.api.DataTable(
        graft.operators.GlobalShift.withGlobalShifts(
          lineitem(s, dir).df,
          Seq(
            graft.operators.GlobalShift.Shift(
              "prev_qty", col("l_quantity"), 2, isLead = false),
            graft.operators.GlobalShift.Shift(
              "next_price", col("l_extendedprice"), 3, isLead = true)),
          ord)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
            col("l_quantity"), col("prev_qty"), col("next_price")))
        .arrange("l_orderkey", "l_linenumber", "l_partkey", "l_quantity").df
    }),


    // whole-table NTILE without a single-partition window: global row
    // number from the two-pass counts + the SQL remainder rule as exact
    // IntegralDivide arithmetic. The order must be UNIQUE (enforced
    // loudly from the pass-1 stats) — (price, ok, ln) is, at all scales.
    // Any key type buckets through the one split-point stamp; nothing
    // persists.
    "q_ntile_global" -> ((s: SparkSession, dir: String) =>
      graft.api.DataTable(
        graft.operators.GlobalRank.withGlobalNtile(
          lineitem(s, dir).df.select(col("l_orderkey"), col("l_linenumber"),
            col("l_extendedprice")),
          7,
          Seq(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")))
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_extendedprice"), col("bucket")))
        .arrange("l_orderkey", "l_linenumber").df),


    // whole-table cumulative sum without a single-partition window:
    // the two-pass GlobalCumSum decomposition itself, hash-checked
    // directly (previously only exercised compositely through
    // q_systematic_resample). LONG cents (the house float rule) over
    // the unique (orderkey, linenumber) order; nothing persists.
    "q_global_cumsum" -> ((s: SparkSession, dir: String) =>
      graft.api.DataTable(
        graft.operators.GlobalCumSum.withGlobalCumSum(
          lineitem(s, dir).df.select(col("l_orderkey"), col("l_linenumber"),
            col("l_quantity")),
          round(col("l_quantity") * 100.0, 0).cast("long"),
          Seq(col("l_orderkey"), col("l_linenumber")),
          name = "cum_cents")
          .select(col("l_orderkey"), col("l_linenumber"), col("cum_cents")))
        .arrange("l_orderkey", "l_linenumber").df)
  )

  val oracles: Map[String, String] = Map(


    "q_lag" ->
      """SELECT event_id, user_id, value,
        |  LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
        |FROM events ORDER BY event_id""".stripMargin,


    "q_lead" ->
      """SELECT event_id, user_id, value,
        |  LEAD(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_value
        |FROM events ORDER BY event_id""".stripMargin,


    "q_rolling" ->
      s"""SELECT event_id, user_id,
        |  ${OracleSql.centsSum("value",
             "OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)")} AS roll_cents
        |FROM events ORDER BY event_id""".stripMargin,


    "q_rolling_time" ->
      s"""SELECT event_id, user_id,
        |  ${OracleSql.centsSum("value",
             "OVER (PARTITION BY user_id ORDER BY epoch_us(ts) RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)")} AS hour_cents
        |FROM events ORDER BY event_id""".stripMargin,


    "q_running" ->
      s"""SELECT event_id, user_id,
        |  ${OracleSql.centsSum("value", "OVER w")} AS cum_cents,
        |  COUNT(*) OVER w AS cum_n
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,


    "q_window_ranks" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
        |  rank() OVER w AS rnk,
        |  dense_rank() OVER w AS drnk,
        |  percent_rank() OVER w AS prnk,
        |  cume_dist() OVER w AS cdist,
        |  ntile(10) OVER wu AS tile
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_partkey ORDER BY l_quantity),
        |  wu AS (PARTITION BY l_partkey
        |         ORDER BY l_quantity, l_orderkey, l_linenumber)
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity""".stripMargin,


    // DuckDB ranks in one partition; the Spark side must produce the SAME
    // numbers from its two-pass range-partitioned plan — that equivalence
    // is exactly what this row proves
    "q_global_rank" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |  rank() OVER w AS rnk,
        |  dense_rank() OVER w AS drnk,
        |  percent_rank() OVER w AS prnk,
        |  cume_dist() OVER w AS cdist
        |FROM lineitem
        |WINDOW w AS (ORDER BY l_quantity)
        |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin,


    // DuckDB shifts in one partition; the Spark side produces the SAME
    // values from range-partitioned windows + boundary hand-off
    "q_global_lag" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
        |  lag(l_quantity, 2) OVER w AS prev_qty,
        |  lead(l_extendedprice, 3) OVER w AS next_price
        |FROM lineitem
        |WINDOW w AS (ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity)
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity""".stripMargin,


    // DuckDB buckets in one partition; the Spark side derives the same
    // buckets from two-pass offsets + the standard remainder formula
    "q_ntile_global" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice,
        |  NTILE(7) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber)::BIGINT
        |    AS bucket
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,


    // DuckDB cumsums in one partition (window SUM(BIGINT) is HUGEINT —
    // cast back, or the type-sensitive hash diverges on equal values);
    // the Spark side produces the SAME longs from range-bucketed local
    // windows + broadcast prefix offsets
    "q_global_cumsum" ->
      s"""SELECT l_orderkey, l_linenumber,
        |  ${OracleSql.centsSum("l_quantity",
             "OVER (ORDER BY l_orderkey, l_linenumber)")} AS cum_cents
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin
  )
}
