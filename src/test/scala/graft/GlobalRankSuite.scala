package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{GlobalOps, GlobalRank, RangeBuckets}

/** Two-pass global rank: value parity with the naive single-partition
  * window (which is the semantics, just not an acceptable plan), tie
  * behavior across range-partition boundaries, empty input, and the plan
  * shape that makes it 100×-safe — range partitioning, never a
  * SinglePartition exchange, per-partition share bounded by the shuffle
  * fan-out instead of a partition-key's cardinality. */
class GlobalRankSuite extends SparkSpec {

  import spark.implicits._

  /** 400 rows over 7 input partitions with heavy ties (values 0..9 repeat
    * 40× each) — every tie group is larger than a naive even split, so any
    * tie straddling a range boundary would corrupt rank/dense_rank. */
  private def tied = spark.range(400)
    .select((col("id") % 10).as("v"), col("id").as("rid"))
    .repartition(7)

  /** Unique values — exercises the rank==dense_rank==row position case. */
  private def uniq = spark.range(1000)
    .select(((col("id") * 379) % 10007).as("v"), col("id").as("rid"))
    .repartition(5)

  private def naive(df: org.apache.spark.sql.DataFrame) = {
    val w = Window.orderBy(col("v"))
    df.withColumn("e_rnk", rank().over(w).cast("long"))
      .withColumn("e_drnk", dense_rank().over(w).cast("long"))
      .withColumn("e_prnk", percent_rank().over(w))
      .withColumn("e_cdist", cume_dist().over(w))
  }

  private def checkParity(df: org.apache.spark.sql.DataFrame): Unit = {
    val got = GlobalRank.withGlobalRanks(df, Seq(col("v")))
    val both = got.join(naive(df), "rid").collect()
    assert(both.length == df.count())
    both.foreach { r =>
      assert(r.getAs[Long]("rnk") == r.getAs[Long]("e_rnk"), s"rank: $r")
      assert(r.getAs[Long]("drnk") == r.getAs[Long]("e_drnk"), s"dense: $r")
      // exact ==, not epsilon: both sides are the same division of the
      // same exact integers — the operator's bit-exactness contract
      assert(r.getAs[Double]("prnk") == r.getAs[Double]("e_prnk"), s"pct: $r")
      assert(r.getAs[Double]("cdist") == r.getAs[Double]("e_cdist"), s"cume: $r")
    }
  }

  test("parity with single-partition window on tie-heavy data") {
    checkParity(tied)
  }

  test("parity with single-partition window on unique keys") {
    checkParity(uniq)
  }

  test("single-row and empty inputs") {
    val one = Seq((42L, 0L)).toDF("v", "rid")
    val r = GlobalRank.withGlobalRanks(one, Seq(col("v"))).collect()(0)
    assert(r.getAs[Long]("rnk") == 1L && r.getAs[Long]("drnk") == 1L)
    // SQL defines percent_rank of a 1-row frame as 0.0 (not 0/0)
    assert(r.getAs[Double]("prnk") == 0.0 && r.getAs[Double]("cdist") == 1.0)

    val empty = spark.emptyDataFrame.withColumn("v", lit(0L))
    val e = GlobalRank.withGlobalRanks(empty, Seq(col("v")))
    assert(e.count() == 0L)
    assert(e.columns.toSeq == Seq("v", "rnk", "drnk", "prnk", "cdist"))
  }

  test("plan: partitioned exchange, no SinglePartition anywhere") {
    // the exchange hashes the deterministic __pid buckets, never
    // SinglePartition
    val plan = GlobalRank.withGlobalRanks(uniq, Seq(col("v")))
      .queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("hashpartitioning(__pid"), s"plan:\n$plan")
    assert(!plan.contains("SinglePartition"), s"plan:\n$plan")
  }

  test("split-point tier: no snapshot pinned, release reports none, parity exact") {
    GlobalOps.releaseSnapshots() // isolate from pins made by other suites
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ranked = GlobalRank.withGlobalRanks(uniq, Seq(col("v")))
    assert(ranked.count() == 1000L)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "split-point tier must not persist anything")
    assert(GlobalOps.releaseSnapshots() == 0, "nothing to release")
    checkParity(uniq)
  }

  test("date key: split-point tier (days-since-epoch image), no persist, exact") {
    // ingestion date is the most common global-order key in corpus work:
    // DateType split points are date literals compared directly, so the
    // key is bucketed exactly and nothing is persisted
    val dated = spark.range(1000)
      .select(date_add(lit("2020-01-01").cast("date"),
        ((col("id") * 379) % 1500).cast("int")).as("v"), col("id").as("rid"))
      .repartition(5)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ranked = GlobalRank.withGlobalRanks(dated, Seq(col("v")))
    assert(ranked.count() == 1000L)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "date key must not persist anything")
    checkParity(dated)
  }

  test("string key with a corpus-wide common prefix: split tier, no persist, plan-pinned") {
    // the motivating 100 TB workload (VERDICT r15 #3): ranking by URL —
    // every value shares a long common prefix, which the full-tuple
    // split points must still spread over buckets, persisting nothing
    val urls = spark.range(1000)
      .select(concat(lit("https://www.example.com/page/"),
        format_string("%05d", (col("id") * 379) % 10007)).as("v"),
        col("id").as("rid"))
      .repartition(5)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ranked = GlobalRank.withGlobalRanks(urls, Seq(col("v")))
    assert(ranked.count() == 1000L)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "string split-point tier must not persist anything")
    val plan = ranked.queryExecution.executedPlan.toString
    val lower = plan.toLowerCase
    assert(lower.contains("hashpartitioning(__pid"),
      s"expected deterministic __pid buckets, got:\n$plan")
    assert(!lower.contains("inmemorytablescan"),
      s"string key must not read through a cached snapshot:\n$plan")
    checkParity(urls)
  }

  test("single-distinct-value string key falls back to the legacy tier, stays exact") {
    // min == max: every sampled split point is the same tuple, so all
    // rows share one bucket; ranks stay exact (all rank 1) and nothing
    // is persisted
    val const = spark.range(100)
      .select(lit("https://only.example.com/").as("v"), col("id").as("rid"))
      .repartition(3)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val rows = GlobalRank.withGlobalRanks(const, Seq(col("v"))).collect()
    assert(rows.length == 100 && rows.forall(_.getAs[Long]("rnk") == 1L))
    assert(rows.forall(_.getAs[Long]("drnk") == 1L))
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "a single-valued key must not persist anything")
    checkParity(const)
  }

  test("parity holds under AQE with coalescing forced (cross-job alignment)") {
    // The operator's correctness rests on the stats job and the rank job
    // deriving identical buckets. AQE's partition coalescing rewrites
    // each job's exchanges independently, so force it: adaptive on, a
    // high initial fan-out that tiny data guarantees AQE will rewrite,
    // and coalescing explicitly enabled. __pid is a projection, so ranks
    // must still match the naive window.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
      conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "64")
      checkParity(tied)
      checkParity(uniq)
      // struct, decimal and string keys under the same AQE pressure
      checkParity(tied.select(struct(col("v")).as("v"), col("rid")))
      checkParity(tied.select(
        col("v").cast("decimal(12,0)").as("v"), col("rid")))
      checkParity(tied.select(
        format_string("%05d", col("v")).as("v"), col("rid")))
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("parquet-backed tie-heavy source: parity survives job-specific range boundaries") {
    // THE regression case: Spark's own range boundaries are sampled with
    // a seed involving the materialization-specific RDD id, so two jobs
    // can cut a heavy tie group to different sides (sf0.01 lineitem
    // really did flip l_quantity=26 between two count-by-pid jobs).
    // Literal boundaries make the cut a projection; without that this
    // test fails with ranks off by whole tie groups.
    val dir = java.nio.file.Files.createTempDirectory("graft_grank").toString
    try {
      spark.range(20000)
        .select(((col("id") * 7919) % 50).cast("double").as("v"), col("id").as("rid"))
        .repartition(9)
        .write.mode("overwrite").parquet(dir)
      checkParity(spark.read.parquet(dir))
      // struct, decimal and string twins: same values, same heavy ties
      checkParity(spark.read.parquet(dir).select(
        struct(col("v")).as("v"), col("rid")))
      checkParity(spark.read.parquet(dir).select(
        col("v").cast("decimal(12,2)").as("v"), col("rid")))
      checkParity(spark.read.parquet(dir).select(
        format_string("%09.2f", col("v")).as("v"), col("rid")))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("misalignment guard is wired: offset lookup raises instead of nulling") {
    // Misalignment needs an input that is not deterministic upstream,
    // so pin the guard's presence in the plan instead: the
    // rank projection must contain the raise_error branch, not a bare
    // element_at whose null would silently corrupt every rank.
    val analyzed = GlobalRank.withGlobalRanks(uniq, Seq(col("v")))
      .queryExecution.analyzed.toString
    assert(analyzed.contains("raise_error"), s"guard missing:\n$analyzed")
    assert(analyzed.contains("misalignment"), s"guard missing:\n$analyzed")
  }

  test("input columns colliding with reserved internal names refuse up front") {
    // withColumn would overwrite such a column and the closing drop
    // would erase it: both entry points refuse before any job runs
    Seq("__pid", "__ok0").foreach { reserved =>
      val bad = uniq.withColumn(reserved, lit(7))
      val e = intercept[IllegalArgumentException] {
        GlobalRank.withGlobalRanks(bad, Seq(col("v")))
      }
      assert(e.getMessage.contains(reserved), e.getMessage)
      val e2 = intercept[IllegalArgumentException] {
        GlobalRank.withGlobalNtile(bad, 4, Seq(col("v")), "t")
      }
      assert(e2.getMessage.contains(reserved), e2.getMessage)
    }
  }

  test("withGlobalNtile: SQL remainder rule, parity with the naive window") {
    // N=1000, b=7: q=142, r=6 — six buckets of 143, one of 142
    val got = GlobalRank.withGlobalNtile(uniq, 7, Seq(col("v")), "t")
    val w = Window.orderBy(col("v"))
    val exp = uniq.withColumn("e_t", ntile(7).over(w).cast("long"))
    val both = got.join(exp, "rid").collect()
    assert(both.length == 1000)
    both.foreach(r =>
      assert(r.getAs[Long]("t") == r.getAs[Long]("e_t"), s"ntile: $r"))
    val sizes = got.groupBy("t").count().collect()
      .map(r => r.getAs[Long]("t") -> r.getAs[Long]("count")).toMap
    assert(sizes == Map(1L -> 143L, 2L -> 143L, 3L -> 143L, 4L -> 143L,
      5L -> 143L, 6L -> 143L, 7L -> 142L), s"sizes: $sizes")
  }

  test("withGlobalNtile: fewer rows than buckets — one row per bucket") {
    val tiny = spark.range(3).select(col("id").as("v"), col("id").as("rid"))
    val got = GlobalRank.withGlobalNtile(tiny, 7, Seq(col("v")), "t")
      .orderBy("v").collect().map(_.getAs[Long]("t")).toSeq
    assert(got == Seq(1L, 2L, 3L), s"got $got")
  }

  test("withGlobalNtile: non-unique order fails loudly, never diverges silently") {
    val e = intercept[IllegalArgumentException] {
      GlobalRank.withGlobalNtile(tied, 4, Seq(col("v")), "t").collect()
    }
    assert(e.getMessage.contains("not unique"), e.getMessage)
  }

  test("withGlobalNtile: plan has no SinglePartition exchange") {
    val plan = GlobalRank.withGlobalNtile(uniq, 5, Seq(col("v")), "t")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), s"plan:\n$plan")
  }

  test("per-partition share is bounded by the range fan-out, not by key cardinality") {
    // the stamp the operators actually run, with an explicit fan-out of
    // 8 (on KB-sized data AQE would coalesce the default fan-out to one
    // partition and test the coalescer instead)
    def sizes(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      RangeBuckets.stamp(df, df.columns.toSeq, 8)
        .groupBy("__pid").count().collect().map(_.getLong(1)).toSeq
    def assertBalanced(s: Seq[Long]): Unit = {
      assert(s.length > 1, s"expected >1 buckets, got $s")
      // even share is total/8; allow 4x sampling skew
      assert(s.max <= 4 * s.sum / 8.0, s"skewed buckets: $s")
    }
    assertBalanced(sizes(uniq.select(col("v"))))
    // hot first key: 60% of rows share one first-key value, the other
    // first keys and the second key are unique — first-key split points
    // put the whole hot value in one bucket (62% of rows here), the full
    // tuple splits it
    val hot = spark.range(2000).select(
      when(col("id") % 5 < 3, lit(0L)).otherwise(col("id")).as("a"),
      ((col("id") * 379) % 2003).as("b"))
      .repartition(5)
    assertBalanced(sizes(hot))
  }
}
