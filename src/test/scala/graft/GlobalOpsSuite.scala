package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{GlobalCumSum, GlobalOps, GlobalRank, GlobalShift, PlanCache, RangeBuckets}

/** The three two-pass global operators over every orderable key type:
  * each must equal the naive single-partition window, persist nothing,
  * and read no cached snapshot — the split-point stamp compares the full
  * order tuple with Spark's own ordering, whatever the key type. */
class GlobalOpsSuite extends SparkSpec {

  /** 400 rows over 5 input partitions: `k` under test, unique `rid`,
    * long weight `w`, long shift value `v`. */
  private def keyed(k: Column): DataFrame = spark.range(400)
    .select(k.as("k"), col("id").as("rid"),
      ((col("id") * 7919) % 97).as("w"), (col("id") * 10).as("v"))
    .repartition(5)

  private val h = (col("id") * 379) % 1009

  private val keyTypes: Seq[(String, Column)] = Seq(
    "long" -> h,
    "double with NaN and -0.0" -> when(col("id") % 10 === 0, lit(Double.NaN))
      .when(col("id") % 10 === 1, lit(-0.0))
      .when(col("id") % 10 === 2, lit(0.0))
      .otherwise(h / 7.0 - 50.0),
    "decimal(10,2)" -> (h / 100.0).cast("decimal(10,2)"),
    "decimal(38,10)" -> (h / 3.0).cast("decimal(38,10)"),
    "date" -> date_add(lit("2020-01-01").cast("date"), h.cast("int")),
    "timestamp" -> timestamp_micros(h * 1000003L),
    "shared-prefix string" ->
      concat(lit("https://www.example.com/page/"), format_string("%05d", h)),
    "single-distinct string" -> lit("https://only.example.com/"),
    "boolean" -> (col("id") % 3 === 0),
    "struct" -> struct(col("id") % 7, h),
    "array" -> array(col("id") % 5, h),
    "all-null" -> lit(null).cast("long"))

  private def rows(df: DataFrame, cols: String*): Map[Long, Seq[Any]] =
    df.select("rid", cols: _*).collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap

  test("rank, cumsum and shift: naive-window parity and no persist across key types") {
    keyTypes.foreach { case (name, k) =>
      val df = keyed(k)
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val w = Window.orderBy(col("k"))
      val wu = Window.orderBy(col("k"), col("rid"))
      val ranked = GlobalRank.withGlobalRanks(df, Seq(col("k")))
      val cum = GlobalCumSum.withGlobalCumSum(df, col("w"), Seq(col("k")))
      val shifted = GlobalShift.withGlobalShifts(df,
        Seq(GlobalShift.Shift("prev", col("v"), 2, isLead = false),
          GlobalShift.Shift("next", col("v"), 3, isLead = true)),
        Seq(col("k"), col("rid")))
      val naive = df
        .withColumn("rnk", rank().over(w).cast("long"))
        .withColumn("drnk", dense_rank().over(w).cast("long"))
        .withColumn("prnk", percent_rank().over(w))
        .withColumn("cdist", cume_dist().over(w))
        .withColumn("cum", sum(col("w")).over(w).cast("long"))
        .withColumn("prev", lag(col("v"), 2).over(wu))
        .withColumn("next", lead(col("v"), 3).over(wu))
      val want = rows(naive, "rnk", "drnk", "prnk", "cdist", "cum", "prev", "next")
      val rk = rows(ranked, "rnk", "drnk", "prnk", "cdist")
      val cs = rows(cum, "cum")
      val sh = rows(shifted, "prev", "next")
      assert(rk.size == 400 && cs.size == 400 && sh.size == 400, name)
      want.foreach { case (rid, e) =>
        assert(rk(rid) == e.take(4), s"$name rank, rid=$rid")
        assert(cs(rid) == e.slice(4, 5), s"$name cumsum, rid=$rid")
        assert(sh(rid) == e.drop(5), s"$name shift, rid=$rid")
      }
      assert(spark.sparkContext.getPersistentRDDs.keySet == before,
        s"$name: a global operator persisted something")
      Seq(ranked, cum, shifted).foreach { out =>
        val plan = out.queryExecution.executedPlan.toString
        assert(!plan.contains("InMemoryTableScan"), s"$name:\n$plan")
      }
    }
  }

  test("one misalignment guard: every operator fails loudly when pass 2 disagrees with pass 1") {
    // the skeleton's count seam makes the guard believe pass 1 saw other
    // buckets than pass 2 has — what an input that is not deterministic
    // upstream looks like
    val df = keyed(h)
    val ops: Seq[(String, () => DataFrame, String)] = Seq(
      ("rank", () => GlobalRank.withGlobalRanks(df, Seq(col("k"))), "rnk"),
      ("ntile", () => GlobalRank.withGlobalNtile(df, 7, Seq(col("k"), col("rid"))), "bucket"),
      ("cumsum", () => GlobalCumSum.withGlobalCumSum(df, col("w"), Seq(col("k"))), "cum"),
      ("shift", () => GlobalShift.withGlobalLag(df, "prev", col("v"), 1,
        Seq(col("k"), col("rid")), default = -1L), "prev"))
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val tampers: Seq[(String, Map[Int, Long] => Map[Int, Long])] = Seq(
      "count off by one" -> (_.map { case (p, n) => p -> (n + 1) }),
      "bucket unknown to pass 1" -> (m => m - m.keys.max))
    ops.foreach { case (name, op, out) =>
      tampers.foreach { case (how, tamper) =>
        val bad = RangeBuckets.tamperCountsForTest.withValue(tamper)(op())
        val e = scala.util.Try(bad.select(out).collect()).failed.toOption
        assert(e.exists(messages(_).exists(_.contains("misalignment"))), s"$name, $how: $e")
      }
      // untampered, the same build runs clean: no false trips
      val got = op().select(out).collect()
      assert(got.length == 400 && got.forall(!_.isNullAt(0)), name)
    }
  }

  test("GlobalOps.releaseSnapshots unpersists PlanCache pins") {
    GlobalOps.releaseSnapshots() // isolate from pins made by other suites
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pinned = PlanCache.pinned(spark.range(100).select((col("id") * 2).as("x")))
    assert(pinned.count() == 100L)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).size == 1)
    assert(GlobalOps.releaseSnapshots() == 1)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
    assert(GlobalOps.releaseSnapshots() == 0, "a pin is released once")
  }
}
