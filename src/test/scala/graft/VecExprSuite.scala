package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.api.toDf
import graft.functions.VectorFunctions
import graft.operators.Dedup

/** Bit-identity pins for the codegen'd SimHash48 and VecDot expressions
  * against the interpreted formulations they replaced (and thereby
  * against the DuckDB oracles, which the gate checks end-to-end). */
class VecExprSuite extends SparkSpec {

  test("SimHashText expression equals the SQL HOF fold (incl. tricky whitespace)") {
    val docs = toDf(spark)(
      "doc_id" -> Seq(1, 2, 3, 4, 5),
      "text" -> Seq(
        "the quick brown fox jumps over the lazy dog",
        "an entirely different document with other words",
        "x",
        "  tabs\tand\nnewlines   inside \r\n and around  ",
        "")).df
    import graft.functions.TextFunctions._
    val viaSql = docs
      .withColumn("__th", transform(tokens(col("text")), t => hash48(t)))
      .select(col("doc_id"), Dedup.simhash48Sql("__th").as("sh"))
      .orderBy("doc_id").collect().toSeq
    val viaExpr = docs.select(col("doc_id"),
      org.apache.spark.sql.graftshim.Shim.toColumn(
        org.apache.spark.sql.graftshim.SimHashText(
          org.apache.spark.sql.graftshim.Shim.toExpression(col("text")))).as("sh"))
      .orderBy("doc_id").collect().toSeq
    assert(viaExpr == viaSql)
  }

  test("VecDot equals the HOF fold on doubles and on floats") {
    val arr = spark.sql(
      """SELECT 1 AS id, array(1.5D, -2.0D, 3.25D) AS a, array(2.0D, 0.5D, -1.0D) AS b
        |UNION ALL
        |SELECT 2, array(0.1D, 0.2D, 0.3D), array(10.0D, 20.0D, 30.0D)""".stripMargin)
    val viaExpr = arr.select(col("id"), VectorFunctions.dot(col("a"), col("b")).as("d"))
      .orderBy("id").collect().toSeq
    val viaHof = arr.select(col("id"), VectorFunctions.dotHof(col("a"), col("b")).as("d"))
      .orderBy("id").collect().toSeq
    assert(viaExpr == viaHof)
    // float arrays widen per element like the HOF's element-wise cast
    val farr = spark.sql(
      """SELECT 1 AS id,
        |  array(CAST(0.1 AS FLOAT), CAST(2.5 AS FLOAT)) AS a,
        |  array(CAST(4.0 AS FLOAT), CAST(-1.5 AS FLOAT)) AS b""".stripMargin)
    val fExpr = farr.select(VectorFunctions.dot(col("a"), col("b"))).head().getDouble(0)
    val fHof = farr.select(VectorFunctions.dotHof(col("a"), col("b"))).head().getDouble(0)
    assert(fExpr == fHof)
  }

  test("VecDot matches the HOF form on ragged and null-element inputs (NULL)") {
    // zip_with null-pads the shorter array and a null element nulls the
    // whole sum — VecDot must agree, not silently truncate to min length.
    val weird = spark.sql(
      """SELECT 1 AS id, array(1.0D, 2.0D) AS a, array(3.0D) AS b
        |UNION ALL
        |SELECT 2, array(1.0D, CAST(NULL AS DOUBLE)), array(3.0D, 4.0D)
        |UNION ALL
        |SELECT 3, CAST(NULL AS ARRAY<DOUBLE>), array(1.0D)""".stripMargin)
    val viaExpr = weird.select(col("id"), VectorFunctions.dot(col("a"), col("b")).as("d"))
      .orderBy("id").collect().toSeq
    val viaHof = weird.select(col("id"), VectorFunctions.dotHof(col("a"), col("b")).as("d"))
      .orderBy("id").collect().toSeq
    assert(viaExpr == viaHof)
    assert(viaExpr.forall(_.isNullAt(1)))
  }

  test("cosine built on VecDot stays in [-1, 1] and is 1 for self") {
    val arr = spark.sql("SELECT array(3.0D, 4.0D) AS v")
    val self = arr.select(VectorFunctions.cosine(col("v"), col("v"))).head().getDouble(0)
    assert(almostEqual(self, 1.0))
  }

  test("fused VecCosine is bit-identical to the unfused three-dot form") {
    // pseudo-random doubles with a fixed seed; the fused kernel must
    // reproduce dot/(sqrt*sqrt) EXACTLY (same op sequence), not merely
    // approximately — the DuckDB oracle replays the unfused arithmetic
    val rnd = new scala.util.Random(42)
    val rows = (0 until 50).map { i =>
      (i.toLong,
        Array.fill(17)(rnd.nextDouble() * 2 - 1),
        Array.fill(17)(rnd.nextDouble() * 2 - 1))
    }
    val s = spark
    import s.implicits._
    val df = rows.toDF("id", "a", "b")
    val fused = df.select(col("id"), VectorFunctions.cosine(col("a"), col("b")))
      .orderBy("id").collect().map(_.getDouble(1)).toSeq
    val unfused = df.select(col("id"), VectorFunctions.cosineUnfused(col("a"), col("b")))
      .orderBy("id").collect().map(_.getDouble(1)).toSeq
    assert(fused == unfused) // exact ==, not almostEqual
  }

  test("PqCodes equals the built-in argmin spelling on both paths, incl. ties, ragged, null and NaN rows") {
    import org.apache.spark.sql.graftshim.{PqCodes, Shim}
    import VectorFunctions.{dot, litVec}
    val rnd = new scala.util.Random(7)
    def vec(n: Int) = Seq.fill(n)(java.lang.Double.valueOf(rnd.nextGaussian()))
    val c1 = Array(0.5, -0.25, 1.0, 0.0)
    // subspace 0 repeats a codeword, so a tie takes the first position
    val books = Seq(Seq(Array(1.0, 0.0, -1.0, 2.0), c1, c1.clone()), Seq.fill(3)(vec(4).map(_.doubleValue).toArray))
    val rows = Seq.tabulate(12)(i => (i, Option(vec(8)))) ++ Seq(
      (20, None),                                                   // null vector
      (21, Some(vec(6))), (22, Some(vec(3))), (23, Some(Seq())),    // short slices
      (24, Some(Seq[java.lang.Double](0.5, null, 1.0, 0.0) ++ vec(4))),  // null element
      (25, Some(vec(5) ++ Seq[java.lang.Double](Double.NaN, 1.0, 2.0))),
      (26, Some(Seq[java.lang.Double](Double.PositiveInfinity, 0.0, 0.0, 0.0) ++ vec(4))),
      (27, Some(c1.toSeq.map(java.lang.Double.valueOf) ++ vec(4))), // on the repeated codeword
      (28, Some(Seq.fill(8)(java.lang.Double.valueOf(-0.0)))))
    val df = spark.createDataFrame(rows.map { case (i, v) => (i, v.map(_.map(_.asInstanceOf[Any]))) }
      .map { case (i, v) => org.apache.spark.sql.Row(i, v.orNull) }.asJava,
      org.apache.spark.sql.types.StructType.fromDDL("i int, v array<double>"))
    def selfDot(a: Array[Double]) = a.foldLeft(0.0)((s, x) => s + x * x)
    val d = 4
    val builtIn = array(books.zipWithIndex.map { case (cb, s) =>
      val sub = slice(col("v"), s * d + 1, d)
      val ds = array(cb.map(cw => (dot(sub, sub) - lit(2.0) * dot(sub, litVec(cw))) + lit(selfDot(cw))): _*)
      (array_position(ds, array_min(ds)) - lit(1L)).cast("int")
    }: _*)
    val kernel = Shim.toColumn(PqCodes(Shim.toExpression(col("v")),
      books.map(_.map(_.toSeq)), books.map(_.map(selfDot))))
    def check(in: org.apache.spark.sql.DataFrame): Unit = {
      val got = in.select(col("i"), kernel.as("k"), builtIn.as("b")).collect()
      assert(got.length == rows.length)
      got.foreach(r => assert(r.getSeq[Any](1) == r.getSeq[Any](2), s"row ${r.getInt(0)}: $r"))
      val byId = got.map(r => r.getInt(0) -> r.getSeq[Any](1)).toMap
      assert(byId(27).head == 1 && byId(20) == Seq(null, null) && byId(23) == Seq(null, null))
    }
    check(df.repartition(3))
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(check(df))
  }
}
