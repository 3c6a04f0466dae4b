package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}
import graft.operators.GlobalShift

/** Pins the two-pass global lag/lead (VERDICT r13 #4): exact equality
  * with the single-partition reference shift, the boundary hand-off
  * (first rows of each range partition take the previous partition's
  * tail), and the no-SinglePartition plan shape that is the operator's
  * whole reason to exist. */
class GlobalShiftSuite extends SparkSpec {
  import spark.implicits._

  /** 100 unique keys scattered so repartitionByRange(4) actually splits
    * them (asserted below — a one-partition accident would make the
    * hand-off vacuous). */
  private def frame = (1 to 100).map(i => (i.toLong, i * 10L)).reverse
    .toDF("k", "v").repartition(8)

  private def expectedLag(n: Int): Seq[Option[Long]] =
    (1 to 100).map(i => if (i - n >= 1) Some((i - n) * 10L) else None)

  private def expectedLead(n: Int): Seq[Option[Long]] =
    (1 to 100).map(i => if (i + n <= 100) Some((i + n) * 10L) else None)

  private def got(df: org.apache.spark.sql.DataFrame, c: String): Seq[Option[Long]] =
    df.orderBy("k").select(c).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq

  test("global lag matches the single-partition reference for n = 1, 3, 7") {
    for (n <- Seq(1, 3, 7)) {
      val out = GlobalShift.withGlobalLag(
        frame, "prev", col("v"), n, Seq(col("k")))
      assert(got(out, "prev") == expectedLag(n), s"lag n=$n")
    }
  }

  test("global lead matches the single-partition reference for n = 1, 3, 7") {
    for (n <- Seq(1, 3, 7)) {
      val out = GlobalShift.withGlobalLead(
        frame, "next", col("v"), n, Seq(col("k")))
      assert(got(out, "next") == expectedLead(n), s"lead n=$n")
    }
  }

  test("the data really spans several range partitions (hand-off not vacuous)") {
    val parts = frame.repartitionByRange(4, col("k"))
      .select(spark_partition_id()).distinct().count()
    assert(parts > 1, s"expected multiple range partitions, got $parts")
  }

  test("boundary hand-off: first row of a partition takes the previous tail") {
    // with 100 rows over 4 range partitions, every partition holds ~25
    // rows, so n=1 fills exactly the 3 interior partition-start rows
    // from across the boundary — if the hand-off were broken those rows
    // would be null/default, not the true predecessor
    val out = GlobalShift.withGlobalLag(
      frame, "prev", col("v"), 1, Seq(col("k")), default = -1L)
    val vals = got(out, "prev")
    assert(vals.head == Some(-1L), "global first row takes the default")
    assert(vals.tail == expectedLag(1).tail.map(_.orElse(Some(-1L))),
      "every non-first row must see its true global predecessor")
  }

  test("default fills only positions with no global predecessor/successor") {
    val out = GlobalShift.withGlobalLag(
      frame, "prev", col("v"), 5, Seq(col("k")), default = 0L)
    assert(got(out, "prev") == expectedLag(5).map(_.orElse(Some(0L))))
  }

  test("a genuine null shift value in the interior survives (no coalesce bug)") {
    val df = (1 to 40).map(i =>
      (i.toLong, if (i == 20) None else Some(i * 10L))).toDF("k", "v")
      .repartition(4)
    val out = GlobalShift.withGlobalLag(
      df, "prev", col("v"), 1, Seq(col("k")), default = -1L)
    val vals = got(out, "prev")
    assert(vals(20) == None, "row 21 sees row 20's genuine null, not the default")
    assert(vals(0) == Some(-1L))
  }

  test("n larger than any partition still hands off across several boundaries") {
    // 4 range partitions of ~25 rows each, n=30: every row's shift
    // crosses at least one boundary and some cross two
    val out = GlobalShift.withGlobalLag(
      frame, "prev", col("v"), 30, Seq(col("k")))
    assert(got(out, "prev") == expectedLag(30))
  }

  test("plan has no SinglePartition exchange (the operator's reason to exist)") {
    val out = GlobalShift.withGlobalLag(
      frame, "prev", col("v"), 2, Seq(col("k")))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("lead's final plan sorts each partition once (shared window spec)") {
    val out = GlobalShift.withGlobalLead(
      frame, "next", col("v"), 2, Seq(col("k")))
    val plan = out.queryExecution.executedPlan.toString
    // row_number and lead ride one Window over [__ok0 ASC]; a second,
    // descending boundary-index window would show as "DESC" sort keys
    assert(!plan.contains("DESC"), plan)
  }

  test("withGlobalShifts computes mixed lag+lead in one two-pass run") {
    val out = GlobalShift.withGlobalShifts(frame,
      Seq(GlobalShift.Shift("prev", col("v"), 2, isLead = false, default = -1L),
        GlobalShift.Shift("next", col("v"), 3, isLead = true)),
      Seq(col("k")))
    assert(got(out, "prev") == expectedLag(2).map(_.orElse(Some(-1L))))
    assert(got(out, "next") == expectedLead(3))
    assert(out.columns.toSeq == Seq("k", "v", "prev", "next"))
  }

  test("multi-shift: deep lead + shallow lag cross several boundaries together") {
    val out = GlobalShift.withGlobalShifts(frame,
      Seq(GlobalShift.Shift("next", col("v"), 30, isLead = true),
        GlobalShift.Shift("prev", col("v"), 1, isLead = false)),
      Seq(col("k")))
    assert(got(out, "next") == expectedLead(30))
    assert(got(out, "prev") == expectedLag(1))
  }

  test("legacy (struct-key) tier: deep mixed lag+lead crossing several boundaries") {
    // struct keys are stamped by the same full-tuple split points; the
    // strip indexes tails from the bucket END (descending row_number),
    // so shifts deeper than a bucket must still hand off exactly
    val sframe = frame.withColumn("ks", struct(col("k")))
    val out = GlobalShift.withGlobalShifts(sframe,
      Seq(GlobalShift.Shift("prev", col("v"), 7, isLead = false, default = -1L),
        GlobalShift.Shift("next", col("v"), 30, isLead = true)),
      Seq(col("ks")))
    assert(got(out, "prev") == expectedLag(7).map(_.orElse(Some(-1L))))
    assert(got(out, "next") == expectedLead(30))
  }

  test("split-point tier plan reads no snapshot (no InMemoryTableScan)") {
    val out = GlobalShift.withGlobalLag(
      frame, "prev", col("v"), 2, Seq(col("k")))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("InMemoryTableScan"), plan)
  }

  test("a shift deeper than the boundary-row bound refuses up front") {
    val e = intercept[IllegalArgumentException] {
      GlobalShift.withGlobalLag(
        frame, "prev", col("v"), 1 << 21, Seq(col("k")))
    }
    assert(e.getMessage.contains("boundary rows"), e.getMessage)
  }

  test("string first key with a shared prefix: split-point tier, no persist, exact") {
    // the crawl-scale case (VERDICT r15 #3): a text order key whose
    // values all share a long common prefix — the full-tuple split
    // points must still spread it over buckets, persist NOTHING, and
    // stay exactly equal to the reference shift
    val sframe = frame.withColumn(
      "ks", concat(lit("https://www.example.com/page-"),
        format_string("%09d", col("k"))))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = GlobalShift.withGlobalLag(
      sframe, "prev", col("v"), 1, Seq(col("ks")))
    assert(got(out, "prev") == expectedLag(1), "string key stays exact")
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "string split-point tier must not persist anything")
  }

  test("empty input yields an empty shifted frame") {
    val empty = Seq.empty[(Long, Long)].toDF("k", "v")
    val out = GlobalShift.withGlobalLag(
      empty, "prev", col("v"), 2, Seq(col("k")))
    assert(out.count() == 0L)
    assert(out.columns.toSeq == Seq("k", "v", "prev"))
  }

  test("input columns colliding with reserved internal names refuse up front") {
    val bad = frame.withColumn("__pid", lit(7))
    val e = intercept[IllegalArgumentException] {
      GlobalShift.withGlobalLag(
        bad, "prev", col("v"), 1, Seq(col("k")))
    }
    assert(e.getMessage.contains("__pid"), e.getMessage)
    // __ok<i> order-key aliases are reserved too
    val bad2 = frame.withColumn("__ok0", lit(1))
    val e2 = intercept[IllegalArgumentException] {
      GlobalShift.withGlobalLead(
        bad2, "next", col("v"), 1, Seq(col("k")))
    }
    assert(e2.getMessage.contains("__ok0"), e2.getMessage)
    // a reserved OUTPUT name would be written into the internal slot
    // and erased by the closing drop — refuse it the same way
    val e3 = intercept[IllegalArgumentException] {
      GlobalShift.withGlobalLag(
        frame, "__sv", col("v"), 1, Seq(col("k")))
    }
    assert(e3.getMessage.contains("output name"), e3.getMessage)
  }

  test("pass-1 strip is one top-N aggregate: no Window, no Sort") {
    // counts, head strips and tail strips all come from ONE aggregate
    // over __pid (the GlobalRank / GlobalCumSum pass-1 shape); its
    // partials merge map-side, so no row-level window or sort remains.
    // Pass 1 runs inside the call, so its plan is caught by a listener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      GlobalShift.withGlobalShifts(frame,
        Seq(GlobalShift.Shift("prev", col("v"), 2, isLead = false),
          GlobalShift.Shift("next", col("v"), 3, isLead = true)),
        Seq(col("k")))
      eventually(timeout(Span(20, Seconds))) {
        assert(plans.asScala.exists(_.contains("graft_collect_top_n")))
      }
    } finally spark.listenerManager.unregister(listener)
    val plan = plans.asScala.filter(_.contains("graft_collect_top_n")).mkString("\n")
    assert(plan.contains("partial_graft_collect_top_n"),
      s"the strip aggregate must run a map-side partial:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("Sort"),
      s"pass 1 must plan no window and no sort:\n$plan")
  }

  test("lag 2 + lead 30 through the one strip aggregate equals the reference") {
    // the lead is deeper than a bucket, so its fills chain head strips
    // of several later buckets
    val out = GlobalShift.withGlobalShifts(frame,
      Seq(GlobalShift.Shift("prev", col("v"), 2, isLead = false, default = -1L),
        GlobalShift.Shift("next", col("v"), 30, isLead = true)),
      Seq(col("k")))
    assert(got(out, "prev") == expectedLag(2).map(_.orElse(Some(-1L))))
    assert(got(out, "next") == expectedLead(30))
  }

  test("pass-parity guard trips loudly when pass-2 counts diverge from pass 1") {
    // simulate an input that is not deterministic upstream via the test
    // seam: the guard believes pass 1 saw one more row per bucket than
    // pass 2 has
    val out = GlobalShift.build(
      frame, Seq(GlobalShift.Shift("prev", col("v"), 2, isLead = false)),
      Seq(col("k")),
      tamperCountsForTest = m => m.map { case (p, n) => p -> (n + 1) })
    val e = intercept[Exception] { out.collect() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("misalignment")), e)
    // untampered, the same build executes clean (the guard recount
    // matches pass 1) — pinning that the parity check has no false trips
    val ok = GlobalShift.build(
      frame, Seq(GlobalShift.Shift("prev", col("v"), 2, isLead = false)),
      Seq(col("k")))
    assert(got(ok, "prev") == expectedLag(2))
  }

  test("a tied order fails loudly, naming the duplicate tuple") {
    // the unique-total-order contract: a shift over tied keys is
    // position-dependent, so pass 2 must refuse rather than pick one
    val tied = Seq((1L, 10L), (2L, 20L), (2L, 30L), (3L, 40L))
      .toDF("k", "v").repartition(2)
    val e = intercept[Exception] {
      GlobalShift.withGlobalLag(tied, "prev", col("v"), 1, Seq(col("k"))).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(m =>
      m.contains("not a unique total order") && m.contains("{2}")), e)
    // a single null key is a value like any other, not a tie with the
    // missing predecessor of its bucket's first row
    val oneNull = Seq((None, 10L), (Some(2L), 20L), (Some(3L), 30L))
      .toDF("k", "v")
    val prev = GlobalShift.withGlobalLag(oneNull, "prev", col("v"), 1, Seq(col("k")))
      .orderBy(col("k").asc_nulls_first).select("prev").collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
    assert(prev == Seq(None, Some(10L), Some(20L)))
  }
}
