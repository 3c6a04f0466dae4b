package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{GlobalCumSum, Sampling}

/** Two-pass global cumulative sum + the systematic resampler built on
  * it: exact parity with the naive single-partition window (the
  * semantics, not an acceptable plan), RANGE-frame tie behavior, no
  * persist (numeric and prefix-string keys), and
  * the resampler's exact-total / bounds / determinism contract. */
class GlobalCumSumSuite extends SparkSpec {
  import spark.implicits._

  private def frame = spark.range(1, 1001)
    .select(col("id").as("k"), ((col("id") * 7919) % 97 + 1).as("w"))
    .repartition(7)

  private def naive(df: org.apache.spark.sql.DataFrame) =
    df.withColumn("e_cum", sum(col("w")).over(Window.orderBy("k")).cast("long"))

  test("parity with the single-partition window on unique keys") {
    val got = GlobalCumSum.withGlobalCumSum(frame, col("w"), Seq(col("k")))
    val both = got.join(naive(frame), "k").collect()
    assert(both.length == 1000)
    both.foreach(r =>
      assert(r.getAs[Long]("cum") == r.getAs[Long]("e_cum"), s"row: $r"))
  }

  test("RANGE-frame ties: a tie group shares the group-inclusive sum") {
    // keys 0..9 each 40x — both the operator and the SQL default RANGE
    // frame must give every tied row the whole tie group's sum
    val tied = spark.range(400)
      .select((col("id") % 10).as("k"), lit(2L).as("w")).repartition(5)
    val got = GlobalCumSum.withGlobalCumSum(tied, col("w"), Seq(col("k")))
      .select("k", "cum").distinct().orderBy("k").collect()
    assert(got.length == 10, "one distinct cum per tie group")
    got.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Long]("cum") == (i + 1) * 80L, s"group $i: $r")
    }
  }

  test("null weights contribute zero; null never propagates into cum") {
    val df = Seq((1L, Some(5L)), (2L, None), (3L, Some(7L)))
      .toDF("k", "w").repartition(2)
    val got = GlobalCumSum.withGlobalCumSum(df, col("w"), Seq(col("k")))
      .orderBy("k").select("cum").as[Long].collect().toSeq
    assert(got == Seq(5L, 5L, 12L))
  }

  test("split tiers persist nothing (long and prefix-string keys); empty input short-circuits") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    GlobalCumSum.withGlobalCumSum(frame, col("w"), Seq(col("k"))).count()
    val sframe = frame.withColumn("k",
      concat(lit("https://site.example/doc-"), format_string("%06d", col("k"))))
    GlobalCumSum.withGlobalCumSum(sframe, col("w"), Seq(col("k"))).count()
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "split tiers must not persist anything")

    val empty = Seq.empty[(Long, Long)].toDF("k", "w")
    val e = GlobalCumSum.withGlobalCumSum(empty, col("w"), Seq(col("k")))
    assert(e.count() == 0L && e.columns.contains("cum"))
  }

  test("reserved/output name collisions refuse up front") {
    intercept[IllegalArgumentException] {
      GlobalCumSum.withGlobalCumSum(
        frame.withColumn("__pid", lit(1)), col("w"), Seq(col("k")))
    }
    intercept[IllegalArgumentException] {
      GlobalCumSum.withGlobalCumSum(
        frame.withColumn("cum", lit(1L)), col("w"), Seq(col("k")))
    }
  }

  // ---- systematic resampler ----

  test("systematicResample: copies sum to exactly N, each within 1 of its share") {
    for (n <- Seq(1L, 7L, 100L, 1000L, 5000L)) {
      val out = Sampling.systematicResample(frame, "k", "w", n).collect()
      val total = out.map(_.getAs[Long]("n_copies")).sum
      assert(total == n, s"totalN=$n drew $total")
      // per-row bound: n_i is floor or ceil of N*w_i/W (systematic
      // resampling's defining variance property)
      val w = frame.select(col("k"), col("w")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val tw = w.values.sum
      out.foreach { r =>
        val share = n.toDouble * w(r.getAs[Long]("k")) / tw
        val c = r.getAs[Long]("n_copies")
        assert(c >= math.floor(share) && c <= math.ceil(share),
          s"k=${r.getAs[Long]("k")} copies=$c share=$share")
      }
    }
  }

  test("systematicResample: heavy rows repeat (with replacement), zero weights never drawn") {
    val skew = Seq((1L, 1L), (2L, 0L), (3L, 1000L), (4L, 1L))
      .toDF("k", "w").repartition(2)
    val out = Sampling.systematicResample(skew, "k", "w", 50L)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("n_copies")).toMap
    assert(out.values.sum == 50L)
    assert(out(3L) >= 49L, s"heavy row must dominate the draw: $out")
    assert(!out.contains(2L), "zero-weight row must never be drawn")
  }

  test("systematicResample: deterministic across runs and partitionings") {
    val a = Sampling.systematicResample(frame, "k", "w", 500L)
      .orderBy("k").collect().toSeq
    val b = Sampling.systematicResample(frame.repartition(3), "k", "w", 500L)
      .orderBy("k").collect().toSeq
    assert(a == b)
  }

  test("systematicResample: bounds refuse loudly") {
    intercept[IllegalArgumentException] {
      Sampling.systematicResample(frame, "k", "w", 0L)
    }
    intercept[IllegalArgumentException] { // negative weight
      Sampling.systematicResample(
        Seq((1L, -5L), (2L, 3L)).toDF("k", "w"), "k", "w", 10L)
    }
    intercept[IllegalArgumentException] { // all-zero total weight
      Sampling.systematicResample(
        Seq((1L, 0L)).toDF("k", "w"), "k", "w", 10L)
    }
    intercept[IllegalArgumentException] { // 2*N*W overflow headroom
      Sampling.systematicResample(
        Seq((1L, Long.MaxValue / 4), (2L, Long.MaxValue / 4))
          .toDF("k", "w"), "k", "w", 100L)
    }
  }

  test("systematicResample: duplicate ids break the exact-N contract — the documented failure shape") {
    // ties share one RANGE-frame cum, so tied rows all claim the same
    // interval end and the exact-N guarantee is lost. The unique-id
    // precondition is load-bearing, so a violation fails loudly, naming
    // the duplicate id, instead of drawing a wrong total
    val dup = Seq((1L, 10L), (1L, 10L), (2L, 10L)).toDF("k", "w")
    val e = intercept[Exception] {
      Sampling.systematicResample(dup, "k", "w", 2L).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(m => m.contains("systematicResample") &&
      m.contains("not a unique total order") && m.contains("{1}")), e)
    // plain cumsum keeps its RANGE-frame tie semantics: no check there
    val cum = GlobalCumSum.withGlobalCumSum(dup, col("w"), Seq(col("k")))
      .orderBy("k").select("cum").as[Long].collect().toSeq
    assert(cum == Seq(20L, 20L, 30L))
  }
}
