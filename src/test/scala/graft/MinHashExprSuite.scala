package graft

import org.apache.spark.sql.functions._
import graft.api.toDf
import graft.operators.Dedup

/** The codegen'd MinHashSig expression must be bit-identical to the
  * interpreted HOF formulation it replaced (and thereby to the DuckDB
  * oracle, which the gate checks end-to-end). */
class MinHashExprSuite extends SparkSpec {

  private def docs = toDf(spark)(
    "doc_id" -> Seq(1, 2, 3, 4, 5),
    "text" -> Seq(
      "the quick brown fox jumps over the lazy dog",
      "the quick brown fox jumps over the lazy cat",
      "completely different content here with many extra words to shingle",
      "short",           // fewer tokens than the shingle size
      "two words")).df   // exactly below the default shingle size

  private def trickyDocs = toDf(spark)(
    "doc_id" -> Seq(1, 2, 3),
    "text" -> Seq(
      "  leading and trailing   spaces  ",
      "tabs\tnewlines\nand\r\nCRLF mixed in",
      "")).df

  test("custom expression equals interpreted HOF signature") {
    val a = Dedup.withMinhashSignature(docs, "text")
      .select(col("doc_id"), col("sig")).orderBy("doc_id").collect().toSeq
    val b = Dedup.withMinhashSignatureHof(docs, "text")
      .select(col("doc_id"), col("sig")).orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("kernel tokenization matches Spark split(trim, \\s+) on tricky whitespace") {
    // the expression tokenizes in Scala (UTF8String.trim + Pattern split);
    // any divergence from the Column pipeline shows up as a different sig
    val a = Dedup.withMinhashSignature(trickyDocs, "text")
      .select(col("doc_id"), col("sig")).orderBy("doc_id").collect().toSeq
    val b = Dedup.withMinhashSignatureHof(trickyDocs, "text")
      .select(col("doc_id"), col("sig")).orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("signature has k elements below the prime, and near-dup docs agree more") {
    val rows = Dedup.withMinhashSignature(docs, "text")
      .select(col("doc_id"), col("sig")).orderBy("doc_id").collect()
    rows.foreach { r =>
      val sig = r.getSeq[Long](1)
      assert(sig.length == 32)
      assert(sig.forall(v => v >= 0 && v <= Dedup.P))
    }
    def agree(i: Int, j: Int): Int =
      rows(i).getSeq[Long](1).zip(rows(j).getSeq[Long](1)).count { case (x, y) => x == y }
    assert(agree(0, 1) > agree(0, 2)) // fox/dog vs fox/cat >> unrelated
  }

  test("interpreted eval path (non-codegen) matches too") {
    // force the interpreted Expression.eval path
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val a = Dedup.withMinhashSignature(docs, "text")
        .select(col("doc_id"), col("sig")).orderBy("doc_id").collect().toSeq
      val b = Dedup.withMinhashSignatureHof(docs, "text")
        .select(col("doc_id"), col("sig")).orderBy("doc_id").collect().toSeq
      assert(a == b)
    }
  }

  test("SortedIntersectCount equals size(array_intersect) on ascending distinct sets") {
    import org.apache.spark.sql.graftshim.{GraftHash, Shim, SortedIntersectCount}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import spark.implicits._
    val rnd = new scala.util.Random(20080421L)
    def set(n: Int, lo: Long, span: Long): Seq[Long] =
      Seq.fill(n)(lo + (rnd.nextDouble() * span).toLong).distinct.sorted
    val edge = Seq(
      Seq.empty[Long] -> Seq.empty[Long],          // empty, both sides
      Seq.empty[Long] -> Seq(1L, 2L),              // empty, one side
      Seq(1L, 3L, 5L) -> Seq(2L, 4L, 6L),          // disjoint, interleaved
      Seq(1L, 2L, 3L) -> Seq(10L, 20L),            // disjoint ranges
      Seq(-7L, 0L, 9L) -> Seq(-7L, 0L, 9L),        // identical
      Seq(42L) -> Seq(42L),                        // one element, equal
      Seq(42L) -> Seq(43L),                        // one element, differ
      Seq(-9L, -3L, -1L, 4L) -> Seq(-3L, 4L, 8L),  // negatives
      Seq(Long.MinValue, 0L, Long.MaxValue) -> Seq(Long.MinValue, Long.MaxValue))
    // small value ranges force overlap; a wide one (negative to positive
    // 48-bit) matches the shingle-hash shape, mostly disjoint
    val random = (0 until 300).map { i =>
      val (lo, span) = if (i % 3 == 0) (-(1L << 47), 1L << 48) else (-30L, 60L)
      set(rnd.nextInt(40), lo, span) -> set(rnd.nextInt(40), lo, span)
    }
    val cases = edge ++ random
    cases.foreach { case (a, b) =>
      assert(GraftHash.sortedIntersectCount(new GenericArrayData(a.toArray),
        new GenericArrayData(b.toArray)) == a.intersect(b).size.toLong, s"$a ∩ $b")
    }
    val df = cases.zipWithIndex.map { case ((a, b), i) => (i, a, b) }.toDF("i", "a", "b")
    def kernel(a: String, b: String) = Shim.toColumn(SortedIntersectCount(
      Shim.toExpression(col(a)), Shim.toExpression(col(b))))
    // local relation: interpreted (folded at optimization time); after a
    // shuffle: the generated code
    Seq(df, df.repartition(3)).foreach { in =>
      val rows = in.select(col("i"), kernel("a", "b"),
        size(array_intersect(col("a"), col("b"))).cast("long")).collect()
      assert(rows.length == cases.length)
      rows.foreach(r => assert(r.getLong(1) == r.getLong(2), s"case ${r.getInt(0)}"))
    }
    val nulls = Seq[(Option[Seq[Long]], Option[Seq[Long]])](
      (Some(Seq(1L)), None), (None, Some(Seq(1L))), (None, None)).toDF("a", "b")
    Seq(nulls, nulls.repartition(2)).foreach { in =>
      assert(in.select(kernel("a", "b")).collect().forall(_.isNullAt(0)))
    }
  }

  private def withSQLConf(pairs: (String, String)*)(f: => Unit): Unit = {
    val conf = spark.conf
    val olds = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try f
    finally olds.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
