package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.apache.spark.storage.StorageLevel
import graft.sources.Tables

/** The schema memo of [[Tables.df]]: a repeated read of an unchanged
  * table resolves without a Spark job, and anything that changes the
  * inferred schema (a rewritten file, a parquet conf entry) infers
  * afresh. Tiny temp files only. */
class TablesSuite extends SparkSpec {

  private def withDir(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("tables-memo").toFile
    try body(dir.toString)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  /** One parquet file written without Spark's schema footer, as pyarrow
    * writes the project's test data: `b` is an unannotated BINARY, which
    * `spark.sql.parquet.binaryAsString` reads as a string. */
  private def writeRaw(file: String, withN: Boolean): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      if (withN) "message m { required int64 id; required int32 n; }"
      else "message m { required int64 id; optional binary b; }")
    val w = ExampleParquetWriter.builder(new Path(file))
      .withType(schema).withConf(new Configuration())
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    val f = new SimpleGroupFactory(schema)
    try (1L to 3L).foreach { i =>
      val g = f.newGroup().append("id", i)
      w.write(if (withN) g.append("n", i.toInt * 10) else g.append("b", s"v$i"))
    } finally w.close()
  }

  /** `body`'s result and the number of Spark jobs it started. Jobs are
    * told apart by job group; a sentinel job in a second group, seen by
    * the listener, means every earlier job of this thread was seen. */
  private def jobsIn[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = s"tables-memo-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `tag` => jobs.incrementAndGet()
          case g if g == s"$tag-end" => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(tag, "schema memo")
      val out = body
      sc.setJobGroup(s"$tag-end", "sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS), "listener never saw the sentinel job")
      (out, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("a second read of an unchanged file runs no Spark job") {
    withDir { dir =>
      writeRaw(s"$dir/t.parquet", withN = true)
      val (first, missJobs) = jobsIn(Tables.df(spark, dir, "t"))
      assert(missJobs >= 1, "the first read should infer the schema with a job")
      val (second, hitJobs) = jobsIn(Tables.df(spark, dir, "t"))
      assert(hitJobs == 0)
      assert(second.schema == first.schema)
      assert(rows(second) == rows(first))
      // every call is a fresh relation: a self-join of two reads resolves
      val joined = first.join(second, first("id") === second("id"))
      assert(joined.count() == 3)
    }
  }

  test("a rewritten file with a different schema is inferred again") {
    withDir { dir =>
      writeRaw(s"$dir/t.parquet", withN = false)
      assert(Tables.df(spark, dir, "t").columns.toSeq == Seq("id", "b"))
      writeRaw(s"$dir/t.parquet", withN = true)
      val again = Tables.df(spark, dir, "t")
      assert(again.columns.toSeq == Seq("id", "n"))
      assert(rows(again) == Seq("[1,10]", "[2,20]", "[3,30]"))
    }
  }

  test("toggling spark.sql.parquet.binaryAsString infers again") {
    withDir { dir =>
      writeRaw(s"$dir/t.parquet", withN = false)
      val key = "spark.sql.parquet.binaryAsString"
      assert(Tables.df(spark, dir, "t").schema("b").dataType == BinaryType)
      try {
        spark.conf.set(key, "true")
        val asString = Tables.df(spark, dir, "t")
        assert(asString.schema("b").dataType == StringType)
        assert(rows(asString.select("b")) == Seq("[v1]", "[v2]", "[v3]"))
      } finally spark.conf.unset(key)
      assert(Tables.df(spark, dir, "t").schema("b").dataType == BinaryType)
    }
  }

  test("a Spark-written directory reads as plain spark.read.parquet does") {
    withDir { dir =>
      spark.range(6).selectExpr("id", "cast(id * 2 as string) AS s", "id % 3 = 0 AS f")
        .repartition(2).write.parquet(s"$dir/t.parquet")
      val plain = spark.read.parquet(s"$dir/t.parquet")
      Tables.df(spark, dir, "t") // miss: infers and remembers
      val (hit, jobs) = jobsIn(Tables.df(spark, dir, "t"))
      assert(jobs == 0)
      assert(hit.schema == plain.schema)
      assert(rows(hit) == rows(plain))
    }
  }

  test("a k=v partitioned directory reads as plain spark.read.parquet does") {
    withDir { dir =>
      spark.range(8).selectExpr("id", "cast(id as double) AS x", "id % 2 AS p")
        .write.partitionBy("p").parquet(s"$dir/t.parquet")
      val plain = spark.read.parquet(s"$dir/t.parquet")
      Tables.df(spark, dir, "t")
      val hit = Tables.df(spark, dir, "t")
      assert(hit.schema == plain.schema)
      assert(hit.columns.last == "p")
      assert(rows(hit) == rows(plain))
      assert(rows(hit.filter("p = 1")) == rows(plain.filter("p = 1")))
    }
  }

  test("the memo persists nothing") {
    withDir { dir =>
      writeRaw(s"$dir/t.parquet", withN = true)
      val before = spark.sparkContext.getPersistentRDDs.size
      val reads = (1 to 3).map(_ => Tables.df(spark, dir, "t"))
      reads.foreach(df => assert(rows(df).size == 3))
      reads.foreach(df => assert(df.storageLevel == StorageLevel.NONE))
      assert(spark.sparkContext.getPersistentRDDs.size == before)
    }
  }
}
