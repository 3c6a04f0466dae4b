package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, IntegerType, StructField, StructType}

/** Whole-table (global, empty-`partitionBy`) lag/lead WITHOUT the
  * single-partition window a naive `lag() OVER (ORDER BY …)` plans — the
  * [[GlobalRank]] two-pass pattern applied to shifts. The reference's
  * shift is a physical whole-column move (`column.nim:1177-1213`), which
  * a distributed engine must not replicate by funneling the table
  * through one task (the documented small-data-only fallback
  * `DataTable.withLag` used to be the only option).
  *
  * Pass 1 splits the table into buckets contiguous in the global order
  * ([[RangeBuckets.stamp]] — `__pid` is a pure projection, so both passes
  * agree on every row's bucket and nothing is cached) and collects each
  * bucket's BOUNDARY STRIP: the last `n` rows' shift values (for lag;
  * first `n` for lead) — at most n × buckets tiny rows, bounded by the
  * shuffle-partition count, never by data. Pass 2 runs an ordinary
  * parallel per-bucket window shift — exact for every row beyond the
  * first/last `n` of its bucket — and fills those boundary rows from the
  * strips via a broadcast (pid, rn) join: the first row of each bucket
  * takes the previous bucket's tail, which is exactly the hand-off
  * GlobalShiftSuite pins.
  *
  * CONTRACT: `order` must be a UNIQUE total order (the
  * [[graft.api.DataTable.withNtile]] rule): a shift is positional, so
  * under ties the result would be nondeterministic. Pass 2 enforces it:
  * a row whose order tuple equals its predecessor's fails loudly.
  * Plain ascending value columns only (the [[GlobalRank]] key contract);
  * non-null keys for cross-engine bit-exactness (Spark ASC NULLS FIRST
  * vs DuckDB NULLS LAST). */
object GlobalShift {

  /** Append global `lag(c, n)` over `order` as column `name` (`default`
    * when fewer than `n` rows precede globally). */
  def withGlobalLag(df: DataFrame, name: String, c: Column, n: Int,
                    order: Seq[Column], default: Any = null): DataFrame =
    build(df, Seq(Shift(name, c, n, isLead = false, default)), order)

  /** Append global `lead(c, n)` over `order` as column `name`. */
  def withGlobalLead(df: DataFrame, name: String, c: Column, n: Int,
                     order: Seq[Column], default: Any = null): DataFrame =
    build(df, Seq(Shift(name, c, n, isLead = true, default)), order)

  /** TEST SEAM (GlobalShiftSuite): when set, [[build]] records the pass-1
    * strip job's physical plan string — the strip executes eagerly inside
    * build(), so no returned frame can be asked to explain it. Off in
    * production (no plan stringification on the query path). */
  private[graft] var captureStripPlanForTest = false
  private[graft] var lastStripPlanForTest: String = ""

  /** TEST SEAM: Some(true/false) forces the pass-1 strip tier (bounded
    * rank-limit strips vs single-exchange strip) regardless of the
    * input-size rule, so the suite can pin both plans and their result
    * parity on one tiny frame. None (production) = input-derived rule. */
  private[graft] var forceBoundedStripForTest: Option[Boolean] = None

  /** Hard bound on strip/fill rows (n × partitions). Beyond it the
    * "boundary hand-off" framing is false — pass 1's collect and the
    * broadcast fill would scale with the shift distance, the exact
    * driver funnel this operator exists to avoid. ~4M (pid, rn, value)
    * rows ≈ 128 MB of transient driver heap at 32-byte values. */
  private val MaxBoundaryRows: Long = 1L << 22

  /** One requested shift column: global `lag(value, n)` (or `lead` when
    * `isLead`) over the shared order, emitted as `name` (`default` when
    * fewer than `n` rows precede/follow globally). */
  final case class Shift(name: String, value: Column, n: Int,
                         isLead: Boolean, default: Any = null)

  /** Several global shifts over ONE shared order in ONE two-pass run —
    * the API to reach for when adding more than one shift column:
    * composing single-shift calls would re-execute the upstream plan
    * once per pass-1 job of every later call, where this runs one
    * quantile job, one strip job, and one output plan for the whole
    * batch. */
  def withGlobalShifts(df: DataFrame, shifts: Seq[Shift],
                       order: Seq[Column]): DataFrame =
    build(df, shifts, order)

  /** Core. `tamperCountsForTest` is a TEST SEAM (identity in production):
    * it distorts only the GUARD's view of the pass-1 counts, so the suite
    * can simulate a pass-2/pass-1 bucket mismatch — what an input that is
    * not deterministic upstream looks like — without such an input. */
  private[graft] def build(df: DataFrame, shifts: Seq[Shift],
                    order: Seq[Column],
                    tamperCountsForTest: Map[Int, Long] => Map[Int, Long] =
                      identity): DataFrame = {
    require(order.nonEmpty, "GlobalShift: need at least one order column")
    require(shifts.nonEmpty, "GlobalShift: need at least one shift")
    shifts.foreach(sp => require(sp.n >= 1,
      s"GlobalShift: n must be >= 1, got ${sp.n} for '${sp.name}'"))
    require(shifts.map(_.name).distinct.size == shifts.size,
      s"GlobalShift: duplicate output names in ${shifts.map(_.name)}")
    val okNames = order.indices.map(i => s"__ok$i")
    val svNames = shifts.indices.map(i => s"__sv$i")
    val fillNames = shifts.indices.map(i => s"__fill$i")
    val haveNames = shifts.indices.map(i => s"__have$i")
    val hasNames = shifts.indices.map(i => s"__has$i")
    // reserved internal names: withColumn would silently OVERWRITE an
    // input column of the same name and the final drop would erase it —
    // fail loudly instead (the operator's guard discipline)
    val reserved = okNames.toSet ++ svNames ++ fillNames ++ haveNames ++
      hasNames ++ Set("__pid", "__bi", "__j", "__cnt", "__sv", "__fill",
        "__have", "__has")
    val clash = df.columns.filter(reserved)
    require(clash.isEmpty,
      s"GlobalShift: input columns ${clash.mkString(", ")} collide with " +
        "reserved internal names (__sv<i>, __pid, __bi, __fill<i>, " +
        "__have<i>, __has<i>, __j, __cnt, __ok<i>) — rename them first")
    // the OUTPUT names hit the same machinery: the result would be
    // written into an internal slot and erased by the closing drop —
    // the caller would get a frame with no output column at all
    shifts.foreach(sp => require(!reserved(sp.name),
      s"GlobalShift: output name '${sp.name}' collides with a reserved " +
        "internal name — pick another"))
    val keyed = shifts.zip(svNames).foldLeft(
      order.zip(okNames).foldLeft(df) {
        case (d, (oc, nm)) => d.withColumn(nm, oc)
      }) { case (d, (sp, nm)) => d.withColumn(nm, sp.value) }
    val okCols = okNames.map(col)
    val maxLag = shifts.filter(!_.isLead).map(_.n).maxOption.getOrElse(0)
    val maxLead = shifts.filter(_.isLead).map(_.n).maxOption.getOrElse(0)
    val numParts = df.sparkSession.sessionState.conf.numShufflePartitions
    require((maxLag.toLong + maxLead) * numParts <= MaxBoundaryRows,
      s"GlobalShift: shift distances (lag $maxLag + lead $maxLead) × " +
        s"$numParts partitions = ${(maxLag.toLong + maxLead) * numParts} " +
        s"boundary rows exceeds $MaxBoundaryRows — a shift this deep is " +
        "not a boundary hand-off any more (pass 1 would collect and " +
        "re-broadcast O(n × partitions) rows); reformulate as a join on " +
        "global rank, or reduce n")
    val parted = RangeBuckets.stamp(keyed, okNames, numParts)

    // pass 1: ONE job, ONE collect, gathering the boundary strips AND
    // per-partition counts as rows of a shared (pid, kind, j, cnt, sv…)
    // schema. TWO strip tiers (r22), picked by the input's map-side
    // parallelism:
    //
    //  - BOUNDED tier (the at-scale shape): three unioned subtrees — the
    //    first maxLead rows per bucket via an ascending rank-limit
    //    window, the last maxLag rows via a DESCENDING rank-limit
    //    window, and a hash-agg row count. Each rank-limit filter sits
    //    directly above its window, so Catalyst's InferWindowGroupLimit
    //    inserts map-side WindowGroupLimit bounded selection: only ≤ n
    //    candidate rows per bucket per map task reach the shuffle, where
    //    the exchange tier shuffles and sorts EVERY row just to keep the
    //    n boundary rows of each bucket (guide §2.3/§2.4 — at 100 TB
    //    this removes a full-data shuffle from pass 1). Under the
    //    UNIQUE-total-order contract the descending row_number k selects
    //    exactly the row the ascending strip indexes at cnt − k + 1, so
    //    the hand-off values are identical by construction.
    //  - EXCHANGE tier (the small-input shape): the pre-r22 single
    //    window stack — one hash exchange on __pid, row_number + count
    //    windows over one sort, boundary filter. The bounded tier's
    //    map-side sorts run on the SCAN's partitions, and a small
    //    parquet input is a handful of splits (sf0.1 lineitem is ONE) —
    //    two serial full-input sorts measured ~3× slower there than one
    //    exchange that fans the sort across numParts tasks (ProfileOne
    //    r22: strip jobs 0.3→1.4+1.3 s). The exchange of a small input
    //    is the cheaper way to BUY parallelism; at scale it is the cost.
    //
    // Tier rule: bounded when the estimated scan task count reaches
    // numParts/2 (map sorts then no less parallel than the exchange
    // tier's reduce sorts, and the saved shuffle only grows with data).
    // Env override SPARK_GRAFT_SHIFT_BOUNDED=1/0 for deployment tuning
    // and plan audits; the crossover is input-derived, not a local[32]
    // constant.
    //
    // The counts stay load-bearing either way: (1) they translate "i-th
    // row before the END of a bucket" into the ascending row_number
    // pass 2 computes (lead fills attach at rn = cnt − i + 1); (2) they
    // bound every partition at Int.MaxValue rows — pass 2's row_number
    // IntegerType wraps past that and a wrapped interior row could
    // silently collide with a boundary fill key — and (3) their key set
    // is the misalignment-guard domain below (the GlobalRank rule).
    val svTypes = svNames.map(nm => parted.schema(nm).dataType)
    val narrow = parted.select((col("__pid") +: okCols) ++ svNames.map(col): _*)
    val boundedStrips: Boolean = sys.env.get("SPARK_GRAFT_SHIFT_BOUNDED") match {
      case Some("1") => true
      case Some("0") => false
      case _ => forceBoundedStripForTest.getOrElse {
        val conf = df.sparkSession.sessionState.conf
        val maxSplit = math.max(1L, conf.filesMaxPartitionBytes)
        val inBytes = narrow.queryExecution.optimizedPlan.stats.sizeInBytes
        // unknown catalyst stats read as Long.MaxValue-scale — treat as
        // large (the scale side is the safe default for this operator)
        if (inBytes <= 0 || inBytes >= BigInt(Long.MaxValue) / 4) true
        else (inBytes / maxSplit + 1) * 2 >= numParts
      }
    }
    def stripDf(isHead: Boolean, lim: Int): DataFrame = {
      val ord = if (isHead) okCols else okCols.map(_.desc)
      val w = Window.partitionBy(col("__pid")).orderBy(ord: _*)
      narrow.withColumn("__j", row_number().over(w))
        .filter(col("__j") <= lim)
        .select(Seq(col("__pid"), lit(if (isHead) 0 else 1).as("__kind"),
          col("__j"), lit(null).cast("long").as("__cnt")) ++
          svNames.map(col): _*)
    }
    val cntDf = narrow.groupBy(col("__pid"))
      .agg(count(lit(1)).as("__cnt"))
      .select(Seq(col("__pid"), lit(2).as("__kind"), lit(0).as("__j"),
        col("__cnt")) ++
        svNames.zip(svTypes).map { case (nm, t) =>
          lit(null).cast(t).as(nm) }: _*)
    val exchangeStrip: DataFrame = {
      val w = Window.partitionBy(col("__pid")).orderBy(okCols: _*)
      val cntW = Window.partitionBy(col("__pid"))
      val headCond =
        if (maxLead > 0) col("__j") <= maxLead else lit(false)
      val tailCond =
        if (maxLag > 0) col("__j") > col("__cnt") - maxLag else lit(false)
      narrow.withColumn("__j", row_number().over(w))
        .withColumn("__cnt", count(lit(1)).over(cntW))
        .filter(headCond || tailCond)
        .select(Seq(col("__pid"), lit(3).as("__kind"), col("__j"),
          col("__cnt")) ++ svNames.map(col): _*)
    }
    val subtrees =
      if (boundedStrips)
        (if (maxLead > 0) Seq(stripDf(isHead = true, maxLead)) else Nil) ++
          (if (maxLag > 0) Seq(stripDf(isHead = false, maxLag)) else Nil) :+
          cntDf
      else Seq(exchangeStrip)
    val stripFrame = subtrees.reduce(_.union(_))
    if (captureStripPlanForTest)
      lastStripPlanForTest = stripFrame.queryExecution.executedPlan.toString
    val strip = stripFrame.collect()
    def stripMap(kind: Int): Map[Int, Map[Int, Row]] = strip
      .filter(_.getInt(1) == kind)
      .groupBy(_.getInt(0))
      .map { case (p, rs) => p -> rs.map(r => r.getInt(2) -> r).toMap }
    val legacyRows = strip.filter(_.getInt(1) == 3)
    // pid -> (k-th from bucket START -> row)
    val headRows: Map[Int, Map[Int, Row]] =
      if (boundedStrips) stripMap(0)
      else legacyRows.filter(r => maxLead > 0 && r.getInt(2) <= maxLead)
        .groupBy(_.getInt(0))
        .map { case (p, rs) => p -> rs.map(r => r.getInt(2) -> r).toMap }
    // pid -> (k-th from bucket END -> row); on the exchange tier the
    // end-index is derived as cnt − j + 1 (the pre-r22 tailVal formula)
    val tailRows: Map[Int, Map[Int, Row]] =
      if (boundedStrips) stripMap(1)
      else legacyRows
        .filter(r => maxLag > 0 && r.getInt(2) > r.getLong(3) - maxLag)
        .groupBy(_.getInt(0))
        .map { case (p, rs) => p -> rs.map(r =>
          (r.getLong(3) - r.getInt(2) + 1).toInt -> r).toMap }
    val counts: Map[Int, Long] =
      (if (boundedStrips) strip.filter(_.getInt(1) == 2) else legacyRows)
        .map(r => r.getInt(0) -> r.getLong(3)).toMap
    counts.foreach { case (p, cnt) =>
      require(cnt <= Int.MaxValue,
        s"GlobalShift: range partition $p holds $cnt rows — row_number " +
          "wraps past Int.MaxValue and boundary fills would be silently " +
          "wrong; raise spark.sql.shuffle.partitions")
    }
    val pids = counts.keys.toSeq.sorted
    // k-th strip value (1-based, nearest-boundary first) of partition q
    // for shift spec si: heads count from the partition start (lead
    // hand-off), tails from the end (lag hand-off)
    def headVal(q: Int, k: Int, si: Int): Any = headRows(q)(k).get(4 + si)
    def tailVal(q: Int, k: Int, si: Int): Any = tailRows(q)(k).get(4 + si)

    // driver-side hand-off: for target partition p and spec s, the
    // cross-boundary sequence b[1], b[2], … (b[1] = nearest row beyond
    // p's boundary in the shift direction) is the in-order concat of
    // neighbor strips — partitions contribute at most n values each, so
    // the first n of the concat are exactly the rows any boundary row
    // of p can need. Row with boundary index i (i-th from the reached
    // boundary, 1-based) needs b[n - i + 1]; a fill row is emitted for
    // EVERY boundary position (with `__have<si>` = false when no global
    // predecessor/successor exists) so the join match itself marks
    // "boundary row" and the miss side is always the local shift. One
    // fill ROW per (pid, rn) carries the cells of every spec needing a
    // fill there (`__has<si>` = false for the rest).
    val fillRows = pids.flatMap { p =>
      val cnt = counts(p)
      // per spec: rn -> (value, have)
      val perSpec: Seq[Map[Long, (Any, Boolean)]] =
        shifts.zipWithIndex.map { case (sp, si) =>
          val sources =
            if (sp.isLead) pids.filter(_ > p) else pids.filter(_ < p).reverse
          val b = sources.iterator.flatMap { q =>
            val m = math.min(sp.n, counts(q).toInt)
            (1 to m).iterator.map(k =>
              if (sp.isLead) headVal(q, k, si) else tailVal(q, k, si))
          }.take(sp.n).toIndexedSeq
          (1 to sp.n).flatMap { i =>
            // ascending row_number of the row i-from-the-boundary: the
            // reached boundary is the partition START for lag, END for lead
            val rn = if (sp.isLead) cnt - i + 1 else i.toLong
            if (rn < 1) None
            else {
              val j = sp.n - i + 1
              val have = b.length >= j
              Some(rn -> ((if (have) b(j - 1) else null, have)))
            }
          }.toMap
        }
      perSpec.flatMap(_.keys).distinct.sorted.map { rn =>
        val cells: Seq[Any] = shifts.indices.flatMap { si =>
          perSpec(si).get(rn) match {
            case Some((v, have)) => Seq[Any](v, have, true)
            case None => Seq[Any](null, false, false)
          }
        }
        Row.fromSeq(p +: rn.toInt +: cells)
      }
    }
    val spark = df.sparkSession
    val fillDf = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(fillRows).asJava),
      StructType(
        StructField("__pid", IntegerType, nullable = false) +:
        StructField("__bi", IntegerType, nullable = false) +:
        shifts.indices.flatMap(si => Seq(
          StructField(fillNames(si), svTypes(si), nullable = true),
          StructField(haveNames(si), BooleanType, nullable = false),
          StructField(hasNames(si), BooleanType, nullable = false)))))

    // pass 2: ordinary parallel per-partition shifts; boundary rows
    // (join-matched with the spec's __has flag set) take the broadcast
    // fill instead — a conditional, NOT coalesce, so a genuine null
    // shift value in the interior survives. row_number and every shift
    // share the SAME window spec, so the final plan carries one
    // per-partition sort total.
    val w = Window.partitionBy(col("__pid")).orderBy(okCols: _*)
    val biCol = row_number().over(w)
    // misalignment guard: __pid is a pure projection, so pass 2 sees
    // pass 1's buckets unless the input is not deterministic upstream
    // (a recomputed source returning different rows). Boundary rows
    // would then silently miss (or misattach) their fills, so two
    // in-plan checks fail loudly instead: (1) the pass-2 pid must exist
    // in the pass-1 map; (2) PASS-PARITY: the pass-2 bucket's recount (an
    // unbounded count over the same __pid partitioning — it reuses the
    // pass-2 sort, no extra exchange) must EQUAL pass 1's count. Skipped
    // only on empty input (no rows can reach the guard anyway).
    val guardCounts = tamperCountsForTest(counts)
    val guardedBi =
      if (guardCounts.isEmpty) biCol
      else {
        val known = element_at(typedLit(guardCounts), col("__pid"))
        val recount = count(lit(1)).over(Window.partitionBy(col("__pid")))
        when(known.isNull || known =!= recount, raise_error(concat(
          lit("GlobalShift: bucket misalignment between strip and shift " +
            "passes (input not deterministic upstream), pid="),
          col("__pid").cast("string"),
          lit(" pass1="), coalesce(known.cast("string"), lit("absent")),
          lit(" pass2="), recount.cast("string")))).otherwise(biCol)
      }
    // unique-total-order contract: equal tuples share a bucket, so
    // comparing each row with its predecessor under the same window spec
    // (reusing the pass-2 sort) finds every tie. Per key, not as one
    // struct: a lag(struct) input is projected below the exchange and
    // would shuffle every order key twice. A bucket's first row has no
    // predecessor, whose null lag must not match a null key
    val tied = okCols.map(k => lag(k, 1).over(w) <=> k).foldLeft(biCol > 1)(_ && _)
    val checkedBi = when(tied, raise_error(concat(
      lit("GlobalShift: order is not a unique total order, duplicate order " +
        "tuple "), struct(okCols: _*).cast("string"),
      lit(" — a shift over tied keys is position-dependent; add a tiebreaker key"))))
      .otherwise(guardedBi)
    val joined = parted
      .withColumn("__bi", checkedBi)
      .join(broadcast(fillDf), Seq("__pid", "__bi"), "left")
    val withOutputs = shifts.zipWithIndex.foldLeft(joined) {
      case (d, (sp, si)) =>
        val localShift =
          if (sp.isLead) lead(col(svNames(si)), sp.n).over(w)
          else lag(col(svNames(si)), sp.n).over(w)
        val defLit =
          if (sp.default == null) lit(null).cast(svTypes(si))
          else lit(sp.default).cast(svTypes(si))
        d.withColumn(sp.name,
          when(col(hasNames(si)),
            when(col(haveNames(si)), col(fillNames(si))).otherwise(defLit))
            .otherwise(localShift))
    }
    withOutputs.drop(
      okNames ++ svNames ++ fillNames ++ haveNames ++ hasNames ++
        Seq("__pid", "__bi"): _*)
  }
}
