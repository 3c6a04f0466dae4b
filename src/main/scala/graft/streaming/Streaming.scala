package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface over the `events` table — beyond-reference
  * (the reference has no streaming at all, SURVEY.md §2.10).
  *
  * The transforms are written once and used by BOTH the batch queries
  * (`q_events_hourly`) and streaming jobs: `withWatermark` is a no-op in
  * batch execution, so batch/stream parity holds by construction. On a
  * stream the watermark bounds state: hourly windows older than the
  * watermark are finalized and evicted — the shape that runs indefinitely
  * on an unbounded 100 TB/day event feed.
  */
object Streaming {

  /** Hourly tumbling-window rollup per event type: count + exact money sum
    * (cent-scaled, order-insensitive — the oracle-parity trick from
    * Queries). Input needs `ts_utc: timestamp`, `event_type`, `value`. */
  def hourlyRollup(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts_utc", watermark)
      .groupBy(window(col("ts_utc"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        (sum(round(col("value") * lit(100.0), 0).cast("long")) / lit(100.0)).as("sum_v"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("hour"),
        col("event_type"), col("n"), col("sum_v"))

  /** Hourly distinct users. Exact `countDistinct` in batch (two-phase
    * partial aggregate — scales); on an unbounded stream exact distinct
    * would hold every key in the state store, so the streaming path
    * trades to `approx_count_distinct` (HyperLogLog++, constant state
    * per window, `rsd` relative error) — parity within the HLL bound is
    * asserted in StreamingSuite. Input needs `ts_utc`, `user_id`. */
  def hourlyUniques(events: DataFrame, watermark: String = "2 hours",
                    rsd: Double = 0.05): DataFrame = {
    val agged = events
      .withWatermark("ts_utc", watermark)
      .groupBy(window(col("ts_utc"), "1 hour"))
      .agg(
        if (events.isStreaming) approx_count_distinct(col("user_id"), rsd).as("n_users")
        else countDistinct(col("user_id")).as("n_users"))
    agged.select(
      date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("hour"),
      col("n_users"))
  }

  /** Sliding-window event rate (5-minute hops over 1-hour windows) —
    * the monitoring-style companion to [[hourlyRollup]]. */
  def slidingRate(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts_utc", watermark)
      .groupBy(window(col("ts_utc"), "1 hour", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("win_start"),
        col("event_type"), col("n"))

  /** Running per-user state for [[runningUserCounts]]. */
  case class UserState(user_id: Long, n_events: Long, last_ts_us: Long)

  /** Custom keyed state via `mapGroupsWithState`: a running per-user
    * event count + last-seen timestamp, updated incrementally per
    * micro-batch. The state store holds one `UserState` per user across
    * batches — the primitive that windowed aggregations can't express
    * (cross-batch custom accumulators, CEP-ish logic). On a BATCH
    * Dataset the same code runs with empty initial state, i.e. it
    * degrades to a per-group aggregate — used by the parity test.
    * Input needs `user_id: long` and `ts_us: long`. */
  def runningUserCounts(events: DataFrame): Dataset[UserState] = {
    val s = events.sparkSession
    import s.implicits._
    events.selectExpr("user_id", "ts_us").as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[UserState, UserState](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long)], state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(uid, 0L, Long.MinValue))
          var n = prev.n_events
          var last = prev.last_ts_us
          rows.foreach { case (_, t) =>
            n += 1
            if (t > last) last = t
          }
          val next = UserState(uid, n, last)
          state.update(next)
          next
      }
  }

  /** Streaming exact dedup: drop repeats of `keyCols` as they arrive.
    * `dropDuplicatesWithinWatermark` bounds the state store to keys seen
    * within the watermark horizon — the only dedup that runs forever on
    * an unbounded feed (a plain `dropDuplicates` on a stream retains
    * every key ever seen). Batch execution degrades to
    * [[graft.api.DataTable.unique]], one row per key — same semantics,
    * no state. The caller must have applied `withWatermark` on a
    * stream. */
  def streamingDedup(events: DataFrame, keyCols: Seq[String]): DataFrame =
    if (events.isStreaming) events.dropDuplicatesWithinWatermark(keyCols)
    else graft.api.DataTable(events).unique(keyCols: _*).df

  /** Streaming MinHash near-dup dedup — the streaming twin of
    * `operators.Dedup.dedupByMinhash`. The signature and per-band LSH
    * bucket hashes are stateless projections, so they run per-row on an
    * unbounded stream; each (band, bucket) is then CLAIMED by the first
    * document to arrive (`dropDuplicatesWithinWatermark`, so claim state
    * is bounded by the watermark horizon), and a document survives iff it
    * claimed every one of its bands — i.e. no band collided with an
    * earlier document. Arrival order stands in for the batch rule's id
    * order (drop the larger id of a candidate pair); the batch greedy
    * verify step (signature agreement >= threshold) is traded for pure
    * band collision, the standard streaming approximation.
    *
    * Emits `(idCol, win_start)` per surviving document once its
    * event-time window finalizes (append mode, two chained stateful
    * operators: dedup then windowed count). Batch execution runs the
    * same plan with a deterministic earliest-(ts, id) claim window —
    * parity-tested in StreamingSuite. */
  def streamingNearDedup(docs: DataFrame, textCol: String, idCol: String,
                         tsCol: String = "ts_utc", watermark: String = "2 hours",
                         k: Int = 32, bands: Int = 8,
                         windowLen: String = "1 hour"): DataFrame = {
    val banded = graft.operators.Dedup.withBandHashes(docs, textCol, k, bands)
      .select(col(idCol), col(tsCol),
        posexplode(col("__bands")).as(Seq("band", "bhash")))
    firstArrivalClaimSurvivors(banded, docs.isStreaming,
      Seq("band", "bhash"), bands, idCol, tsCol, watermark, windowLen)
  }

  /** The shared claim-and-count scaffold of the streaming dedup family:
    * each (key) bucket is claimed first-arrival (within the watermark on
    * a stream; earliest (ts, id) on the deterministic batch twin), and a
    * doc survives iff it claimed all `nClaims` of its buckets. */
  private def firstArrivalClaimSurvivors(keyed: DataFrame, streaming: Boolean,
                                         keyCols: Seq[String], nClaims: Int,
                                         idCol: String, tsCol: String,
                                         watermark: String,
                                         windowLen: String): DataFrame = {
    val claimed =
      if (streaming)
        keyed.withWatermark(tsCol, watermark)
          .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keyCols.map(col): _*)
          .orderBy(col(tsCol), col(idCol))
        keyed.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      }
    claimed
      .groupBy(window(col(tsCol), windowLen), col(idCol))
      .agg(count(lit(1)).as("n_claimed"))
      .filter(col("n_claimed") === lit(nClaims))
      .select(col(idCol), col("window.start").as("win_start"))
  }

  /** [[streamingNearDedup]]'s SimHash twin — the Hamming-family screen
    * on an unbounded feed: each doc's 48-bit simhash splits into 4
    * 12-bit chunk buckets, buckets are claimed FIRST-ARRIVAL within the
    * watermark, and a doc survives iff it claims all 4. The candidate
    * rule is CHUNK EQUALITY only (no in-bucket Hamming re-check — the
    * claim state cannot expose the winner's simhash), i.e. a STRICTER
    * screen than batch [[graft.operators.Dedup.simhashCandidates]]:
    * stream-dropped docs are a subset of what a batch Hamming pass at
    * maxHamming ≥ 0 would drop. Watermark-bounded state, the
    * [[streamingNearDedup]] lifecycle exactly. */
  def streamingSimhashDedup(docs: DataFrame, textCol: String, idCol: String,
                            tsCol: String = "ts_utc",
                            watermark: String = "2 hours",
                            windowLen: String = "1 hour"): DataFrame = {
    val chunked = docs
      .withColumn("__sh", org.apache.spark.sql.graftshim.Shim.toColumn(
        org.apache.spark.sql.graftshim.SimHashText(
          org.apache.spark.sql.graftshim.Shim.toExpression(col(textCol)))))
      // null text → null simhash: such a doc has nothing to claim (the
      // MinHash twin drops these implicitly — posexplode of a null band
      // array emits no rows — while array-of-null chunk values WOULD
      // emit 4 null-keyed rows and claim a shared null bucket, a
      // survivor set the oracle's equality join can never reproduce)
      .filter(col("__sh").isNotNull)
      .select(col(idCol), col(tsCol),
        posexplode(array((0 until 4).map(i =>
          shiftright(col("__sh"), i * 12).bitwiseAND(lit(0xFFFL))): _*))
          .as(Seq("chunk", "cval")))
    firstArrivalClaimSurvivors(chunked, docs.isStreaming,
      Seq("chunk", "cval"), 4, idCol, tsCol, watermark, windowLen)
  }

  /** Open-session state for [[statefulSessions]]. */
  case class OpenSession(start_us: Long, last_us: Long, n: Long)

  /** One closed session emitted by [[statefulSessions]]. */
  case class SessionEmit(user_id: Long, session_start_us: Long,
                         n_events: Long, dur_us: Long)

  /** Gap-based sessionization via `flatMapGroupsWithState` with
    * EVENT-TIME TIMEOUTS — the fully-custom state machine that
    * `session_window` can't express (emit-on-close with arbitrary
    * per-session payload, CEP-style logic between events).
    *
    * Streaming behavior: each micro-batch folds a user's new events into
    * the open session, EMITS every session closed by the gap rule, and
    * arms an event-time timeout at `last + gap`; when the watermark
    * passes that point with no new events, the timeout invocation closes
    * and emits the open session and clears its state — so state size is
    * one `OpenSession` per active user, bounded by the watermark, the
    * shape that runs indefinitely on an unbounded feed.
    *
    * Batch behavior (`events.isStreaming == false`): timeouts don't
    * exist, so the open session is flushed at end of group — the result
    * is exactly the batch sessionizer's output (parity-tested against
    * `operators.Sessionize`). Events are sorted in-memory per user per
    * micro-batch (bounded by batch volume, not corpus size).
    *
    * Input needs `user_id: long`, `ts_us: long`, and `ts_utc: timestamp`;
    * on a stream the caller must have applied `withWatermark` to
    * `ts_utc`, which must flow INTO the stateful operator (Spark's
    * checker rejects event-time timeouts if the watermarked column was
    * projected away upstream). */
  def statefulSessions(events: DataFrame, gapUs: Long): Dataset[SessionEmit] = {
    val sess = events.sparkSession
    import sess.implicits._
    val streaming = events.isStreaming
    val gapMs = gapUs / 1000L
    val timeout =
      if (streaming) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.selectExpr("user_id", "ts_us", "ts_utc")
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, SessionEmit](
        OutputMode.Append, timeout) {
        (uid: Long, rows: Iterator[(Long, Long, java.sql.Timestamp)],
         state: GroupState[OpenSession]) =>
          def close(o: OpenSession) =
            SessionEmit(uid, o.start_us, o.n, o.last_us - o.start_us)
          if (state.hasTimedOut) {
            val o = state.get
            state.remove()
            Iterator(close(o))
          } else {
            val ts = rows.map(_._2).toArray
            java.util.Arrays.sort(ts)
            var open = state.getOption
            val out = scala.collection.mutable.ArrayBuffer.empty[SessionEmit]
            ts.foreach { t =>
              open match {
                case Some(o) if t - o.last_us <= gapUs =>
                  open = Some(o.copy(last_us = math.max(o.last_us, t), n = o.n + 1))
                case Some(o) =>
                  out += close(o)
                  open = Some(OpenSession(t, t, 1))
                case None =>
                  open = Some(OpenSession(t, t, 1))
              }
            }
            open.foreach { o =>
              if (streaming) {
                state.update(o)
                // must be beyond the current watermark or Spark rejects it
                state.setTimeoutTimestamp(
                  math.max(o.last_us / 1000L + gapMs,
                    state.getCurrentWatermarkMs() + 1))
              } else out += close(o) // batch: no more data will ever come
            }
            out.iterator
          }
      }
  }

  /** Gap-based per-user sessions via the built-in `session_window` —
    * state-store backed on a stream, same gap semantics as the batch
    * operator `graft.operators.Sessionize` (cross-validated in tests).
    * Emits one row per closed session with event count and span. */
  def sessionRollup(events: DataFrame, gap: String = "30 minutes",
                    watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts_utc", watermark)
      .groupBy(session_window(col("ts_utc"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"))

  /** Stream-STREAM interval join (attribution): every purchase paired
    * with the same user's clicks from the trailing `boundSec` window —
    * the canonical two-stream join Structured Streaming supports that
    * stream-static enrichment can't express. Both sides carry a
    * watermark and the join condition bounds event time in BOTH
    * directions, which is exactly what lets the state store evict each
    * side once the other's watermark passes the bound — bounded state
    * on two unbounded feeds. On a BATCH frame the same transform plans
    * an ordinary hash join + range filter, which is the oracle parity
    * path (`q_attribution`). Self-joining one source stream filtered
    * two ways is the supported pattern for same-feed event types.
    * Input needs `user_id`, `event_type`, `event_id`, `ts` (nano long
    * or timestamp — normalized by [[graft.sources.Tables.tsStamp]]). */
  def attributionJoin(events: DataFrame, boundSec: Long = 1800L,
                      watermark: String = "2 hours"): DataFrame = {
    val base = events.withColumn("ts_utc", graft.sources.Tables.tsStamp(events))
    def side(t: String, idAs: String, tsAs: String) = {
      val s0 = base.filter(col("event_type") === t)
        .select(col("user_id"), col("event_id").as(idAs), col("ts_utc").as(tsAs))
      if (s0.isStreaming) s0.withWatermark(tsAs, watermark) else s0
    }
    val clicks = side("click", "click_id", "click_ts")
    val buys = side("purchase", "purchase_id", "purchase_ts")
    clicks.join(buys,
      clicks("user_id") === buys("user_id") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") > col("purchase_ts") - expr(s"INTERVAL $boundSec SECONDS"),
      "inner")
      .select(clicks("user_id"), col("click_id"), col("purchase_id"))
  }
}
