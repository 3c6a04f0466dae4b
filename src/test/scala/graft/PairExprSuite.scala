package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{InBucketPairs, PositionalEqualCount, Shim}
import graft.operators.Dedup

/** The candidate-stage kernels must equal the interpreted higher-order
  * functions they replaced, on the generated path (after a shuffle) and
  * on the interpreted path (codegen switched off). The HOF texts live
  * here only, as the reference. */
class PairExprSuite extends SparkSpec {

  import spark.implicits._

  /** In-bucket expansion as the candidate stages spelled it before
    * [[InBucketPairs]], over bare ids and over `(id, sig)` structs. */
  private val bareHof =
    """flatten(transform(members, m1 ->
      |  filter(transform(members, m2 ->
      |    if(m1 < m2, struct(m1 as id_a, m2 as id_b), null)),
      |    p -> p is not null)))""".stripMargin
  private val structHof =
    """flatten(transform(members, m1 ->
      |  filter(transform(members, m2 ->
      |    if(m1.id < m2.id, struct(m1.id as id_a, m2.id as id_b,
      |       m1.sig as sig_a, m2.sig as sig_b), null)), p -> p is not null)))""".stripMargin

  private def kernel: Column = Shim.toColumn(InBucketPairs(Shim.toExpression(col("members"))))

  /** Every (bucket, pair) row of both spellings, as sorted strings. */
  private def pairs(buckets: DataFrame, hof: String): (Seq[String], Seq[String]) = {
    def rows(c: Column) = buckets.select(col("b"), explode(c).as("p"))
      .select(col("b"), col("p.*")).collect().map(_.toString).sorted.toSeq
    (rows(kernel), rows(expr(hof)))
  }

  private def bothPaths(df: DataFrame)(check: DataFrame => Unit): Unit = {
    check(df.repartition(3))
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(check(df))
  }

  test("InBucketPairs equals the HOF pair expansion over bare ids") {
    val buckets = Seq[(Int, Seq[java.lang.Long])](
      1 -> Seq(),                                  // empty
      2 -> Seq(7L),                                // one member
      3 -> Seq(9L, 4L),                            // two, descending
      4 -> Seq(5L, 1L, 5L, 3L),                    // duplicate id
      5 -> Seq(2L, null, 8L),                      // null member
      6 -> Seq(Long.MaxValue, Long.MinValue, 0L, -1L)).toDF("b", "members")
    bothPaths(buckets) { in =>
      val (got, want) = pairs(in, bareHof)
      assert(got == want)
      assert(got.nonEmpty)
    }
    // a null bucket is null, like the HOF, and explodes to nothing
    val nul = Seq[(Int, Option[Seq[Long]])](1 -> None).toDF("b", "members")
    bothPaths(nul)(in => assert(in.select(kernel).head().isNullAt(0)))
  }

  test("InBucketPairs equals the HOF pair expansion over (id, payload) structs") {
    val members = Seq[(Int, Option[Long], Seq[Long])](
      (1, Some(3L), Seq(1L, 2L)), (1, Some(1L), Seq(1L, 3L)),
      (2, Some(4L), Seq(9L)),                                    // one member
      (3, Some(6L), Seq(5L)), (3, Some(6L), Seq(7L)),            // duplicate id,
      (3, Some(2L), Seq(5L)),                                    // two payloads
      (4, None, Seq(1L)), (4, Some(8L), Seq(2L)), (4, Some(5L), Seq(3L)))
      .toDF("b", "id", "sig")
    // capped buckets as the candidate stages build them: cap 3 keeps the
    // at-cap buckets and drops the one with more members
    val capped = Dedup.cappedBuckets(
      members.unionByName(Seq((5, Some(1L), Seq(1L)), (5, Some(2L), Seq(2L)),
        (5, Some(3L), Seq(3L)), (5, Some(4L), Seq(4L))).toDF("b", "id", "sig")),
      Seq(col("b")), struct(col("id"), col("sig")), bucketCap = 3)
    assert(capped.select("b").as[Int].collect().sorted.toSeq == Seq(1, 3, 4))
    val grouped = members.groupBy("b").agg(collect_list(struct(col("id"), col("sig")))
      .as("members"))
    val literal = grouped.unionByName(   // plus an empty bucket
      grouped.limit(1).select(lit(9).as("b"), slice(col("members"), 1, 0).as("members")))
    Seq(capped, literal).foreach { buckets =>
      val local = spark.createDataFrame(buckets.collect().toSeq.asJava, buckets.schema)
      bothPaths(local) { in =>
        val (got, want) = pairs(in, structHof)
        assert(got == want)
        assert(got.nonEmpty)
      }
    }
  }

  test("PositionalEqualCount equals size(filter(zip_with(...))) incl. ragged and null input") {
    val cases = Seq[(Int, Option[Seq[java.lang.Long]], Option[Seq[java.lang.Long]])](
      (1, Some(Seq(1L, 2L, 3L)), Some(Seq(1L, 5L, 3L))),
      (2, Some(Seq()), Some(Seq())),
      (3, Some(Seq(1L, 2L)), Some(Seq(1L, 2L, 3L))),            // unequal lengths
      (4, Some(Seq(4L, 4L, 4L)), Some(Seq(4L))),
      (5, Some(Seq(null, 2L, null)), Some(Seq(null, 2L, 7L))),  // null elements
      (6, Some(Seq(Long.MinValue)), Some(Seq(Long.MinValue))),
      (7, None, Some(Seq(1L))),                                 // null arrays
      (8, Some(Seq(1L)), None),
      (9, None, None)).toDF("i", "a", "b")
    def check(): Unit = {
      val k = Shim.toColumn(new PositionalEqualCount(
        Shim.toExpression(col("a")), Shim.toExpression(col("b"))))
      val hof = size(filter(zip_with(col("a"), col("b"), (x, y) => x === y), e => e))
      bothPaths(cases) { in =>
        val rows = in.select(col("i"), k, hof).collect()
        assert(rows.length == cases.count())
        rows.foreach(r => assert(r.get(1) == r.get(2), s"case ${r.getInt(0)}: $r"))
      }
    }
    check()
    // size(null) is -1 in the legacy, non-ANSI mode
    withSQLConf("spark.sql.ansi.enabled" -> "false", "spark.sql.legacy.sizeOfNull" -> "true") {
      check()
    }
  }
}
