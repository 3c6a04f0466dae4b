package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortDirection}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.CollectTopN
import graft.operators.Similarity

/** The bounded top-N aggregate against a driver-side sort-then-take
  * reference, on tiny frames: both sort directions and their mix over
  * a two-key struct with null keys, k = 1 and k beyond the group, equal
  * keys torn across partials, null child rows, and the ObjectHashAggregate
  * sort-based fallback. */
class CollectTopNSuite extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private type Key = (Option[Int], Option[String])

  /** The payload is a function of the key, so equal-key rows are
    * interchangeable and the kept set is exact. */
  private def payload(a: Option[Int], b: Option[String]): Long =
    a.getOrElse(-1) * 10L + b.map(s => if (s == "x") 1L else 2L).getOrElse(0L)

  /** 60 rows, 3 groups, keys with nulls and many repeats, dealt
    * round-robin over 4 partitions so every group spans several partials. */
  private val rows: Seq[(Int, Option[Int], Option[String], Long)] = (0 until 60).map { i =>
    val a = if (i % 7 == 0) None else Some((i * 5) % 4)
    val b = if (i % 5 == 0) None else Some(if (i % 3 == 0) "x" else "y")
    (i % 3, a, b, payload(a, b))
  }
  private def frame(rs: Seq[(Int, Option[Int], Option[String], Long)] = rows): DataFrame =
    rs.toDF("g", "a", "b", "p").repartition(4)

  private def fieldOrd[T](base: Ordering[T], d: SortDirection): Ordering[Option[T]] =
    if (d == Ascending) Ordering.Option(base) else Ordering.Option(base).reverse

  /** Sort by the key under `dirs` (ASC NULLS FIRST / DESC NULLS LAST),
    * keep the first row of each distinct key, take k. */
  private def reference(rs: Seq[(Int, Option[Int], Option[String], Long)], k: Int,
                        dirs: (SortDirection, SortDirection)): Map[Int, Seq[(Key, Long)]] = {
    val ord = Ordering.Tuple2(fieldOrd(Ordering.Int, dirs._1), fieldOrd(Ordering.String, dirs._2))
    rs.groupBy(_._1).map { case (g, grp) =>
      g -> grp.map(r => ((r._2, r._3), r._4)).sortBy(_._1)(ord)
        .foldLeft(Vector.empty[(Key, Long)]) { (acc, r) =>
          if (acc.lastOption.exists(_._1 == r._1)) acc else acc :+ r
        }.take(k)
    }
  }

  private def topN(df: DataFrame, k: Int, dirs: (SortDirection, SortDirection),
                   child: Column = struct(col("a"), col("b"), col("p"))): DataFrame =
    df.groupBy("g").agg(CollectTopN.column(child, k, dirs._1, dirs._2).as("t"))

  private def collected(df: DataFrame): Map[Int, Seq[(Key, Long)]] =
    df.collect().map { r =>
      r.getInt(0) -> r.getSeq[org.apache.spark.sql.Row](1).map { s =>
        ((Option(s.get(0)).map(_.asInstanceOf[Int]), Option(s.getString(1))), s.getLong(2))
      }
    }.toMap

  private val allDirs = Seq((Ascending, Ascending), (Descending, Descending),
    (Ascending, Descending), (Descending, Ascending))

  test("ASC, DESC and mixed directions over a two-key struct with null keys") {
    for (dirs <- allDirs; k <- Seq(2, 5))
      assert(collected(topN(frame(), k, dirs)) == reference(rows, k, dirs), s"dirs=$dirs k=$k")
  }

  test("k = 1 keeps the single best key; k beyond the group keeps every distinct key") {
    for (dirs <- allDirs) {
      assert(collected(topN(frame(), 1, dirs)) == reference(rows, 1, dirs), s"k=1 $dirs")
      val all = collected(topN(frame(), 1000, dirs))
      assert(all == reference(rows, 1000, dirs), s"k=1000 $dirs")
      // no group is truncated: every distinct key of a group survives
      all.foreach { case (g, kept) =>
        assert(kept.size == rows.filter(_._1 == g).map(r => (r._2, r._3)).distinct.size)
      }
    }
  }

  test("equal keys torn across partials are kept once") {
    // every row three times, the copies dealt to different partitions
    val tripled = rows ++ rows ++ rows
    val df = tripled.toDF("g", "a", "b", "p").repartition(3)
    for (dirs <- allDirs)
      assert(collected(topN(df, 4, dirs)) == reference(rows, 4, dirs), s"$dirs")
  }

  test("a one-centroid IVF index (every candidate probed twice) equals brute force") {
    // nprobe = 2 over one cell reaches every vector through both probes:
    // the multi-probe duplicate shape, duplicated across partials
    val vecs = (0 until 24).map(i =>
      (i.toLong, Array(math.cos(i * 0.37).toFloat, math.sin(i * 0.37).toFloat, (i % 5).toFloat)))
      .toDF("vec_id", "embedding").repartition(3)
    val queries = vecs.filter(col("vec_id") < 3)
    def ranked(df: DataFrame) =
      df.orderBy("query_id", "rank").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val ivf = Similarity.ivfTopK(vecs, queries, Seq(Array(1.0, 0.0, 1.0)),
      "embedding", "vec_id", "vec_id", k = 5)
    val brute = Similarity.bruteForceTopK(vecs, queries, "embedding", "vec_id", "vec_id", k = 5)
    val got = ranked(ivf)
    assert(got.size == 15, got)
    assert(got == ranked(brute))
  }

  test("null child rows are skipped; a group of only nulls keeps an empty array") {
    val withNulls = rows ++ Seq((7, Some(1), Some("x"), 0L), (7, None, None, 0L))
    val child = when(col("g") =!= 7, struct(col("a"), col("b"), col("p")))
    val got = collected(topN(frame(withNulls), 3, (Ascending, Ascending), child))
    assert(got(7).isEmpty)
    assert(got - 7 == reference(rows, 3, (Ascending, Ascending)))
  }

  test("the sort-based fallback of ObjectHashAggregate gives the same top-N") {
    // two hash keys per task at most: every partial falls back to the
    // sort-based aggregator, which serializes the buffers it has and
    // merges the rest by sort (no ledger query reaches this path)
    val many = (0 until 40).map { i =>
      val a = Some(i % 6)
      val b = if (i % 4 == 0) None else Some("y")
      (i % 10, a, b, payload(a, b))
    }
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    spark.conf.set(key, "2")
    try {
      val df = topN(frame(many), 2, (Descending, Ascending))
      assert(collected(df) == reference(many, 2, (Descending, Ascending)))
      val fellBack = collect(df.queryExecution.executedPlan) {
        case a: ObjectHashAggregateExec => a.metrics("numTasksFallBacked").value
      }.sum
      assert(fellBack > 0, "no task fell back to the sort-based aggregator")
    } finally spark.conf.unset(key)
  }
}
