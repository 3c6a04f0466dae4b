package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators.Dedup
import org.apache.spark.sql.graftshim.GraftHash
import graft.sources.{Csv, Jsonl, Sinks, Tables}

/** Per-layer probes of a traced run, run after the timed passes. Each
  * calls one public entry point of one layer over the run's image:
  *  - plans: single-thread `GraftHash` kernels over the documents held in
  *    memory, in rows per thread-CPU second;
  *  - plans and functions: one-stage projections, in rows per task-CPU
  *    second as the listener measured them;
  *  - sources: scans, writes and round trips, in rows per wall second;
  *  - operators: useful / attempted pair ratios of the candidate
  *    generators against the exact Jaccard join. */
object Probes {
  private val DocLimit = 5000
  private val MinSeconds = 0.25

  def all(spark: SparkSession, image: String, scratch: String, t: Tracer): Map[String, Double] = {
    val docs = Tables.df(spark, image, "documents").filter(col("doc_id") < DocLimit).cache()
    val texts = docs.select("text").collect().map(r => UTF8String.fromString(r.getString(0)))
    val emb = Tables.df(spark, image, "embeddings").filter(col("vec_id") < DocLimit).cache()
    val n = docs.count() + emb.count()
    require(n > 0, "probe inputs are empty")
    try kernels(texts) ++ projections(spark, docs, emb, t) ++ sources(spark, image, scratch) ++
      pairs(docs)
    finally { docs.unpersist(); emb.unpersist() }
  }

  private def kernels(texts: Array[UTF8String]): Map[String, Double] = {
    val (a, b) = (0 until 32).map(Dedup.perm).unzip
    val permA = a.toArray
    val permB = b.toArray
    val threads = ManagementFactory.getThreadMXBean
    def rate(f: UTF8String => Any): Double = {
      var rows = 0L
      val c0 = threads.getCurrentThreadCpuTime
      val t0 = System.nanoTime()
      while ((System.nanoTime() - t0) / 1e9 < MinSeconds) {
        texts.foreach(f)
        rows += texts.length
      }
      rows / ((threads.getCurrentThreadCpuTime - c0) / 1e9)
    }
    Map(
      "plans.minhash_rows_s" -> rate(GraftHash.minhashSig(_, 32, 3, permA, permB, Dedup.P, Dedup.ShingleC)),
      "plans.simhash_rows_s" -> rate(GraftHash.simhash48),
      "plans.winnow_rows_s" -> rate(GraftHash.winnow(_, 5, 4)),
      "plans.feature_hash_rows_s" -> rate(GraftHash.featureHash(_, 64)),
      "plans.nfc_rows_s" -> rate(GraftHash.nfc),
      "plans.repetition_rows_s" -> rate(GraftHash.repetitionStats))
  }

  /** Rows per task-CPU second of one projection to the noop sink. */
  private def projections(spark: SparkSession, docs: DataFrame, emb: DataFrame,
                          t: Tracer): Map[String, Double] = {
    val sc = spark.sparkContext
    def rate(name: String, df: DataFrame): Double = {
      val rows = df.count()
      var runs = 0
      val t0 = System.nanoTime()
      while (runs == 0 || (System.nanoTime() - t0) / 1e9 < MinSeconds) {
        sc.setLocalProperty(t.ShotKey, s"probe:$name")
        sc.setLocalProperty(t.PhaseKey, "sink")
        df.write.format("noop").mode("overwrite").save()
        runs += 1
      }
      sc.setLocalProperty(t.ShotKey, null)
      sc.setLocalProperty(t.PhaseKey, null)
      t.drain()
      val cpu = t.synchronized(t.counts.get((s"probe:$name", "sink")).map(_.c("task_cpu_s")))
      rows * runs / cpu.filter(_ > 0).getOrElse(Double.NaN)
    }
    val rnd = new scala.util.Random(7)
    val probeVec = Array.fill(64)(rnd.nextGaussian())
    val text = col("text")
    Map(
      "plans.vec_cosine_rows_s" -> rate("vec_cosine", emb.select(VectorFunctions.cosine(
        VectorFunctions.toDoubleArray(col("embedding")), VectorFunctions.litVec(probeVec)))),
      "functions.lang_guess_rows_s" -> rate("lang_guess", docs.select(TextFunctions.langGuess(text))),
      "functions.quality_rows_s" -> rate("quality",
        docs.select(TextFunctions.qualityScore(text, TextFunctions.StopwordsEn))),
      "functions.shingles_rows_s" -> rate("shingles", docs.select(TextFunctions.wordShingles(text, 3))))
  }

  private def sources(spark: SparkSession, image: String, scratch: String): Map[String, Double] = {
    val lineitem = Tables.df(spark, image, "lineitem")
    val orders = Tables.df(spark, image, "orders")
    val nLine = lineitem.count().toDouble
    val nOrd = orders.count().toDouble
    def rate(rows: Double)(f: => Unit): Double = {
      val t0 = System.nanoTime()
      f
      rows / ((System.nanoTime() - t0) / 1e9)
    }
    val dir = s"$scratch/probe"
    Map(
      "sources.parquet_scan_rows_s" -> rate(nLine)(
        lineitem.write.format("noop").mode("overwrite").save()),
      "sources.parquet_write_rows_s" -> rate(nLine)(Sinks.writeParquet(lineitem, s"$dir/parquet")),
      "sources.csv_write_rows_s" -> rate(nOrd)(Csv.writeCsv(orders, s"$dir/csv")),
      "sources.csv_read_rows_s" -> rate(nOrd)(
        Csv.readCsv(spark, s"$dir/csv").write.format("noop").mode("overwrite").save()),
      "sources.jsonl_roundtrip_rows_s" -> rate(nOrd) {
        Jsonl.writeJsonl(orders, s"$dir/jsonl")
        Jsonl.readJsonl(spark, s"$dir/jsonl").write.format("noop").mode("overwrite").save()
      })
  }

  private def pairs(docs: DataFrame): Map[String, Double] = {
    val truth = Dedup.jaccardSimilarityJoin(docs, "text", "doc_id", 50)
      .select("id_a", "id_b").cache()
    def precision(cand: DataFrame): Double = {
      val c = cand.select("id_a", "id_b").distinct()
      val attempted = c.count()
      if (attempted == 0) 0.0
      else c.join(truth, Seq("id_a", "id_b")).count().toDouble / attempted
    }
    try Map(
      "operators.minhash_pair_yield" -> precision(Dedup.minhashCandidates(docs, "text", "doc_id")),
      "operators.simhash_pair_yield" -> precision(Dedup.simhashCandidates(docs, "text", "doc_id")))
    finally truth.unpersist()
  }
}
