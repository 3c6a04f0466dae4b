package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortDirection}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.CollectTopN
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
  * agree on every row's bucket and nothing is cached) and collects, in
  * one aggregate, each bucket's row count and BOUNDARY STRIP: the last
  * `n` rows' shift values (for lag; first `n` for lead) — at most
  * n × buckets tiny rows, bounded by the shuffle-partition count, never
  * by data. Pass 2 runs an ordinary parallel per-bucket window shift —
  * exact for every row beyond the first/last `n` of its bucket — and
  * fills those boundary rows from the strips via a broadcast (pid, rn)
  * join: the first row of each bucket takes the previous bucket's tail,
  * which is exactly the hand-off GlobalShiftSuite pins.
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
      hasNames ++ Set("__pid", "__bi", "__sv", "__fill", "__have", "__has")
    val clash = df.columns.filter(reserved)
    require(clash.isEmpty,
      s"GlobalShift: input columns ${clash.mkString(", ")} collide with " +
        "reserved internal names (__sv<i>, __pid, __bi, __fill<i>, " +
        "__have<i>, __has<i>, __ok<i>) — rename them first")
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

    // pass 1: ONE aggregate, ONE collect, the GlobalRank/GlobalCumSum
    // pass-1 shape: per bucket, its row count and its first maxLead /
    // last maxLag rows as bounded top-N aggregates over the order keys
    // (shift values as payload), merged map-side — no window, no
    // full-data exchange, and no sort below 128 buckets per map task
    // (past that, Spark's sort-based fallback; see CollectTopN). DESC
    // NULLS LAST is the exact reverse of pass 2's ASC NULLS FIRST window,
    // so the k-th descending row is the k-th from the bucket END.
    //
    // The counts stay load-bearing: (1) they translate "i-th row before
    // the END of a bucket" into the ascending row_number pass 2 computes
    // (lead fills attach at rn = cnt − i + 1); (2) they bound every
    // partition at Int.MaxValue rows — pass 2's row_number IntegerType
    // wraps past that and a wrapped interior row could silently collide
    // with a boundary fill key — and (3) their key set is the
    // misalignment-guard domain below (the GlobalRank rule).
    val svTypes = svNames.map(nm => parted.schema(nm).dataType)
    val strip = struct((okNames ++ svNames).map(col): _*)
    def edge(name: String, n: Int, dir: SortDirection): Seq[Column] =
      if (n > 0) Seq(CollectTopN.column(strip, n, okNames.map(_ => dir): _*).as(name))
      else Nil
    val stripFrame = parted.groupBy(col("__pid")).agg(count(lit(1)).as("__cnt"),
      edge("__head", maxLead, Ascending) ++ edge("__tail", maxLag, Descending): _*)
    val pass1 = stripFrame.collect()
    val counts: Map[Int, Long] = pass1.map(r => r.getInt(0) -> r.getLong(1)).toMap
    counts.foreach { case (p, cnt) =>
      require(cnt <= Int.MaxValue,
        s"GlobalShift: range partition $p holds $cnt rows — row_number " +
          "wraps past Int.MaxValue and boundary fills would be silently " +
          "wrong; raise spark.sql.shuffle.partitions")
    }
    val pids = counts.keys.toSeq.sorted
    // pid -> strip rows, nearest-boundary first: heads from the bucket
    // start (lead hand-off), tails from its end (lag hand-off). Under a
    // tied order a strip keeps equal keys once, and pass 2 fails anyway
    def edgeRows(name: String): Map[Int, Seq[Row]] =
      if (!stripFrame.columns.contains(name)) Map.empty
      else pass1.map(r => r.getInt(0) -> r.getAs[Seq[Row]](name)).toMap
    val headRows = edgeRows("__head")
    val tailRows = edgeRows("__tail")

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
          val strips = if (sp.isLead) headRows else tailRows
          val b = sources.iterator.flatMap(q => strips(q).iterator.map(_.get(okNames.size + si)))
            .take(sp.n).toIndexedSeq
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
    // unique-total-order contract: a tied tuple fails naming itself
    val checkedBi = RangeBuckets.refuseTies("GlobalShift",
      "a shift over tied keys is position-dependent; add a tiebreaker key",
      w, okCols, guardedBi)
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
