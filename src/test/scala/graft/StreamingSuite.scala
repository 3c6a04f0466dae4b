package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import graft.streaming.Streaming

/** Structured Streaming smoke test: the hourly rollup must produce the
  * same result through the streaming engine (file source -> watermark ->
  * windowed agg -> memory sink) as through batch execution of the SAME
  * transform (SURVEY §2.10).
  */
class StreamingSuite extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def withTsUtc(df: org.apache.spark.sql.DataFrame) =
    df.withColumn("ts_utc", graft.sources.Tables.tsStamp(df))

  private def withTsUs(df: org.apache.spark.sql.DataFrame) =
    df.withColumn("ts_us", graft.sources.Tables.tsMicros(df))

  test("codeSignals and canonicalUrl are stream-safe projections: stream == batch") {
    // both new round-16 ops claim pure-projection plans — the claim's
    // streaming consequence is that they run UNCHANGED on an unbounded
    // source with no watermark/state, matching batch row-for-row
    val inDir = Paths.get("/tmp/graft_stream_docs_proj")
    inDir.toFile.mkdirs()
    Files.copy(Paths.get(s"$sfDir/documents.parquet"),
      inDir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    def shaped(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Corpus.codeSignals(df, "text", "doc_id")
        .withColumn("canonical_url",
          graft.functions.TextFunctions.canonicalUrl(
            concat(lit("HTTP://Site.COM:80/d/"), col("doc_id").cast("string"),
              lit("/?b=2&utm_source=x&a=1#f"))))
    val stream = spark.readStream.schema(schema).parquet(inDir.toString)
    val q = shaped(stream)
      .writeStream.format("memory").queryName("graft_proj_stream")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("graft_proj_stream").orderBy("doc_id").collect().toSeq
    val want = shaped(spark.read.parquet(s"$sfDir/documents.parquet"))
      .orderBy("doc_id").collect().toSeq
    assert(got == want, s"stream/batch divergence: ${got.size} vs ${want.size}")
    assert(got.nonEmpty && got.head.getAs[String]("canonical_url")
      .startsWith("http://site.com/d/"))
  }

  test("streaming hourly rollup matches batch (watermark + window + memory sink)") {
    // stage the events file into a stream-source directory
    val inDir = Paths.get("/tmp/graft_stream_events")
    inDir.toFile.mkdirs()
    Files.copy(Paths.get(s"$sfDir/events.parquet"),
      inDir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)

    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val stream = withTsUtc(
      spark.readStream.schema(schema).parquet(inDir.toString))
    val query = Streaming.hourlyRollup(stream)
      .writeStream.format("memory").queryName("graft_hourly")
      .outputMode("complete").start()
    try {
      query.processAllAvailable()
    } finally query.stop()

    val got = spark.table("graft_hourly")
      .orderBy("hour", "event_type").collect().toSeq
    val want = Streaming.hourlyRollup(
      withTsUtc(spark.read.parquet(s"$sfDir/events.parquet")))
      .orderBy("hour", "event_type").collect().toSeq
    assert(got.nonEmpty)
    assert(got == want)
  }

  test("hourly uniques: streaming HLL lands within rsd of the exact batch count") {
    val inDir = Paths.get("/tmp/graft_stream_events")
    inDir.toFile.mkdirs()
    Files.copy(Paths.get(s"$sfDir/events.parquet"),
      inDir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val stream = withTsUtc(
      spark.readStream.schema(schema).parquet(inDir.toString))
    val query = Streaming.hourlyUniques(stream, rsd = 0.05)
      .writeStream.format("memory").queryName("graft_uniques")
      .outputMode("complete").start()
    try query.processAllAvailable() finally query.stop()
    val approx = spark.table("graft_uniques").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Streaming.hourlyUniques(
      withTsUtc(spark.read.parquet(s"$sfDir/events.parquet")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact.nonEmpty && approx.keySet == exact.keySet)
    // HLL++ at rsd=5%: allow 4 sigma (binomial-ish tail, deterministic
    // here — same input hashes every run)
    exact.foreach { case (h, n) =>
      val a = approx(h)
      assert(math.abs(a - n) <= math.max(2.0, 0.20 * n),
        s"hour $h: approx $a vs exact $n beyond 20%")
    }
  }

  test("decontaminate fast path runs on an unbounded stream (stateless filter)") {
    // the collected-set membership filter is a pure projection — unlike
    // the join fallback it needs no watermark, no state, and works
    // unchanged on a stream: decontaminate(stream, batchBench, ...)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val bench = docs.filter(col("doc_id") % 10 === 0)
    val inDir = Paths.get("/tmp/graft_stream_docs")
    inDir.toFile.mkdirs()
    Files.copy(Paths.get(s"$sfDir/documents.parquet"),
      inDir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val stream = spark.readStream.schema(docs.schema).parquet(inDir.toString)
    val clean = graft.operators.Dedup.decontaminate(
      stream, bench, "text", "doc_id", n = 5)
    assert(clean.isStreaming)
    val query = clean.select("doc_id")
      .writeStream.format("memory").queryName("graft_decontam")
      .outputMode("append").start()
    try query.processAllAvailable() finally query.stop()
    val got = spark.table("graft_decontam").collect()
      .map(_.getLong(0)).sorted.toSeq
    val want = graft.operators.Dedup.decontaminate(
      docs, bench, "text", "doc_id", n = 5)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want && got.nonEmpty)
  }

  test("semanticDecontaminate literal tier runs on an unbounded stream") {
    // the literal-vector max-cos gate is a pure projection (scaladoc
    // claim) — no state, no watermark; batch output is the exact spec
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val bench = emb.filter(col("vec_id") < 4)
    val inDir = Paths.get("/tmp/graft_stream_semdecontam")
    inDir.toFile.mkdirs()
    Files.copy(Paths.get(s"$sfDir/embeddings.parquet"),
      inDir.resolve("embeddings.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val stream = spark.readStream.schema(emb.schema).parquet(inDir.toString)
      .filter(col("vec_id") >= 4)
    val clean = graft.operators.Similarity.semanticDecontaminate(
      stream, bench, "embedding", "vec_id", minCos = 0.3)
    assert(clean.isStreaming)
    val query = clean.select("vec_id")
      .writeStream.format("memory").queryName("graft_semdecontam")
      .outputMode("append").start()
    try query.processAllAvailable() finally query.stop()
    val got = spark.table("graft_semdecontam").collect()
      .map(_.getLong(0)).sorted.toSeq
    val want = graft.operators.Similarity.semanticDecontaminate(
      emb.filter(col("vec_id") >= 4), bench, "embedding", "vec_id",
      minCos = 0.3)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want && got.nonEmpty)
  }

  test("gopherRules and c4Clean run on an unbounded stream (scan-local gates)") {
    // both quality gates are pure projections per their scaladoc claims —
    // no state, no watermark, batch output is the exact spec
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val inDir = Paths.get("/tmp/graft_stream_quality")
    inDir.toFile.mkdirs()
    Files.copy(Paths.get(s"$sfDir/documents.parquet"),
      inDir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val stream = spark.readStream.schema(docs.schema).parquet(inDir.toString)
    val gated = graft.operators.Corpus.gopherRules(stream, "text", "doc_id")
    assert(gated.isStreaming)
    val q1 = gated.select("doc_id", "gopher_pass")
      .writeStream.format("memory").queryName("graft_gopher_stream")
      .outputMode("append").start()
    try q1.processAllAvailable() finally q1.stop()
    val gotG = spark.table("graft_gopher_stream").collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).sortBy(_._1).toSeq
    val wantG = graft.operators.Corpus.gopherRules(docs, "text", "doc_id")
      .select("doc_id", "gopher_pass").collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).sortBy(_._1).toSeq
    assert(gotG == wantG && gotG.nonEmpty)

    val cleaned = graft.operators.Corpus.c4Clean(stream, "text", "doc_id")
    assert(cleaned.isStreaming)
    val q2 = cleaned.select("doc_id", "n_kept", "c4_keep")
      .writeStream.format("memory").queryName("graft_c4_stream")
      .outputMode("append").start()
    try q2.processAllAvailable() finally q2.stop()
    val gotC = spark.table("graft_c4_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1).toSeq
    val wantC = graft.operators.Corpus.c4Clean(docs, "text", "doc_id")
      .select("doc_id", "n_kept", "c4_keep").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1).toSeq
    assert(gotC == wantC && gotC.nonEmpty)

    // the trained classifier gate is the same shape — pinned-weight
    // integer projection, no state — so it streams unchanged too
    val scored = graft.operators.Corpus.qualityClassifierScore(
      stream, "text", "doc_id", QueriesCorpus.QcWeights, QueriesCorpus.QcBias)
    assert(scored.isStreaming)
    val q3 = scored
      .writeStream.format("memory").queryName("graft_qc_stream")
      .outputMode("append").start()
    try q3.processAllAvailable() finally q3.stop()
    val gotQ = spark.table("graft_qc_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1).toSeq
    val wantQ = graft.operators.Corpus.qualityClassifierScore(
      docs, "text", "doc_id", QueriesCorpus.QcWeights, QueriesCorpus.QcBias)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1).toSeq
    assert(gotQ == wantQ && gotQ.nonEmpty)
  }

  test("winnow ingest screen fast tier runs on an unbounded stream") {
    // winnowIncrementalTiered's scan-local tier (kernel fingerprints +
    // plan-embedded store membership count) is a pure projection filter —
    // no state, no watermark — so the ingest screen applies to a stream
    // of new docs against a static corpus, per its scaladoc claim
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val corpus = docs.filter(col("doc_id") < 400)
    val inDir = Paths.get("/tmp/graft_stream_winnow")
    inDir.toFile.mkdirs()
    Files.copy(Paths.get(s"$sfDir/documents.parquet"),
      inDir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val stream = spark.readStream.schema(docs.schema).parquet(inDir.toString)
      .filter(col("doc_id") >= 400)
    val kept = graft.operators.Dedup.winnowIncrementalTiered(
      stream, corpus, "text", "doc_id", k = 12, w = 8, minShared = 40L)
    assert(kept.isStreaming)
    val query = kept.select("doc_id")
      .writeStream.format("memory").queryName("graft_winnow_screen")
      .outputMode("append").start()
    try query.processAllAvailable() finally query.stop()
    val got = spark.table("graft_winnow_screen").collect()
      .map(_.getLong(0)).sorted.toSeq
    val want = graft.operators.Dedup.winnowIncrementalTiered(
      docs.filter(col("doc_id") >= 400), corpus, "text", "doc_id",
      k = 12, w = 8, minShared = 40L)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want && got.nonEmpty)
    // an over-cap store cannot take the relational fallback on a stream —
    // the tier switch must say so instead of a generic analysis error,
    // and must drop its store pin first: the message invites a raise-
    // maxSetFps-and-retry, which would otherwise leak one cached store
    // copy per attempt in a long-running streaming driver
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.size
    val e = intercept[IllegalArgumentException] {
      graft.operators.Dedup.winnowIncrementalTiered(
        stream, corpus, "text", "doc_id", k = 12, w = 8,
        minShared = 40L, maxSetFps = 0)
    }
    assert(e.getMessage.contains("cannot run on a stream"))
    assert(spark.sparkContext.getPersistentRDDs.size == pinnedBefore,
      "the fp store must be unpersisted on the streaming-refusal path")
  }

  test("stream-static enrichment join: broadcast dim onto an unbounded stream") {
    // the classic enrichment shape: per-event user attributes joined in
    // from a static dimension — stream-static joins need no watermark
    // and no state (each micro-batch hash-joins against the broadcast)
    val inDir = Paths.get("/tmp/graft_stream_events")
    inDir.toFile.mkdirs()
    Files.copy(Paths.get(s"$sfDir/events.parquet"),
      inDir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(inDir.toString)
    val dim = spark.range(0, 1000).toDF("user_id")
      .withColumn("tier", when(col("user_id") % 3 === 0, "gold").otherwise("std"))
    val enriched = stream.join(broadcast(dim), Seq("user_id"), "left")
      .groupBy("tier").count()
    val query = enriched.writeStream.format("memory").queryName("graft_enrich")
      .outputMode("complete").start()
    try query.processAllAvailable() finally query.stop()
    val got = spark.table("graft_enrich").collect()
      .map(r => Option(r.getString(0)).getOrElse("null") -> r.getLong(1)).toMap
    val want = spark.read.parquet(s"$sfDir/events.parquet")
      .join(broadcast(dim), Seq("user_id"), "left")
      .groupBy("tier").count().collect()
      .map(r => Option(r.getString(0)).getOrElse("null") -> r.getLong(1)).toMap
    assert(got == want && got.values.sum > 0)
  }

  test("session_window streaming matches batch Sessionize semantics") {
    import graft.operators.Sessionize
    val events = withTsUs(withTsUtc(spark.read.parquet(s"$sfDir/events.parquet")))
    // built-in session_window (batch mode) vs our lag+sum sessionizer:
    // same gap, same per-session event counts
    val viaWindow = Streaming.sessionRollup(events, gap = "30 minutes")
      .groupBy("user_id").agg(
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n_sessions"),
        org.apache.spark.sql.functions.sum("n_events").as("n_total"))
      .orderBy("user_id").collect().toSeq
    val viaLag = Sessionize.sessionStats(events, "user_id", "ts_us",
      gapTicks = 30L * 60 * 1000000L, tieBreak = col("event_id"), ticksPerSecond = 1e6)
      .groupBy("user_id").agg(
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n_sessions"),
        org.apache.spark.sql.functions.sum("n_events").as("n_total"))
      .orderBy("user_id").collect().toSeq
    assert(viaWindow.nonEmpty)
    assert(viaWindow == viaLag)
  }

  test("session_window runs through the streaming engine") {
    val inDir = "/tmp/graft_stream_events"
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val stream = withTsUtc(spark.readStream.schema(schema).parquet(inDir))
    val query = Streaming.sessionRollup(stream)
      .writeStream.format("memory").queryName("graft_sessions")
      .outputMode("complete").start()
    try query.processAllAvailable()
    finally query.stop()
    val got = spark.table("graft_sessions")
    assert(got.count() > 0)
  }

  test("stream-stream attribution join matches the batch interval join") {
    val inDir = Paths.get("/tmp/graft_stream_events")
    inDir.toFile.mkdirs()
    Files.copy(Paths.get(s"$sfDir/events.parquet"),
      inDir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(inDir.toString)
    val query = Streaming.attributionJoin(stream)
      .writeStream.format("memory").queryName("graft_attr")
      .outputMode("append").start()
    try query.processAllAvailable() finally query.stop()
    val got = spark.table("graft_attr")
      .orderBy("user_id", "click_id", "purchase_id").collect().toSeq
    val want = Streaming.attributionJoin(
      spark.read.parquet(s"$sfDir/events.parquet"))
      .orderBy("user_id", "click_id", "purchase_id").collect().toSeq
    assert(got.nonEmpty)
    assert(got == want)
  }

  test("mapGroupsWithState running counts match batch groupBy (custom keyed state)") {
    val inDir = "/tmp/graft_stream_events"
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val withUs = (df: org.apache.spark.sql.DataFrame) => withTsUs(df)
    val stream = withUs(spark.readStream.schema(schema).parquet(inDir))
    val query = Streaming.runningUserCounts(stream).toDF()
      .writeStream.format("memory").queryName("graft_state")
      .outputMode("update").start()
    try query.processAllAvailable()
    finally query.stop()
    // latest state per user (single micro-batch here: the rows ARE final)
    val got = spark.table("graft_state")
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.max("n_events").as("n_events"),
        org.apache.spark.sql.functions.max("last_ts_us").as("last_ts_us"))
      .orderBy("user_id").collect().toSeq
    val want = withUs(spark.read.parquet(s"$sfDir/events.parquet"))
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n_events"),
        org.apache.spark.sql.functions.max("ts_us").as("last_ts_us"))
      .orderBy("user_id").collect().toSeq
    assert(got.nonEmpty)
    assert(got == want)
  }

  test("flatMapGroupsWithState sessions: batch path equals the lag-based sessionizer") {
    import graft.operators.Sessionize
    val events = withTsUs(withTsUtc(spark.read.parquet(s"$sfDir/events.parquet")))
    val gapUs = 30L * 60 * 1000000L
    val got = Streaming.statefulSessions(events, gapUs)
      .collect().map(e => (e.user_id, e.session_start_us, e.n_events, e.dur_us)).toSet
    val want = Sessionize.withSessionId(events, "user_id", "ts_us",
        gapTicks = gapUs, tieBreak = col("event_id"))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts_us")).as("start"),
        count(lit(1)).as("n"),
        (max(col("ts_us")) - min(col("ts_us"))).as("dur"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got.nonEmpty)
    assert(got == want)
  }

  test("flatMapGroupsWithState sessions run on a stream with event-time timeouts") {
    val inDir = "/tmp/graft_stream_events"
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val gapUs = 30L * 60 * 1000000L
    val stream = withTsUs(withTsUtc(spark.readStream.schema(schema).parquet(inDir)))
      .withWatermark("ts_utc", "2 hours")
    val query = Streaming.statefulSessions(stream, gapUs).toDF()
      .writeStream.format("memory").queryName("graft_fmgs")
      .outputMode("append").start()
    try query.processAllAvailable()
    finally query.stop()
    val got = spark.table("graft_fmgs")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // batch reference: the full session set, and the per-user LAST session
    // (which only a watermark timeout can close on the stream)
    val events = withTsUs(withTsUtc(spark.read.parquet(s"$sfDir/events.parquet")))
    val all = Streaming.statefulSessions(events, gapUs)
      .collect().map(e => (e.user_id, e.session_start_us, e.n_events, e.dur_us)).toSet
    val lastPerUser = all.groupBy(_._1).map { case (_, ss) => ss.maxBy(_._2) }.toSet
    // every gap-closed session MUST be emitted in the data batch; the last
    // session per user is emitted iff its timeout cleared the final
    // watermark (engine timing), so only subset bounds hold for those
    assert((all -- lastPerUser).subsetOf(got))
    assert(got.subsetOf(all))
    assert(got.nonEmpty)
  }

  test("streamingDedup on a batch frame: one row per key, survives exceptAll with itself") {
    // the batch path ran dropDuplicates(keys), whose result made
    // x.exceptAll(x) fail on Spark 4.1.2 (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND)
    import spark.implicits._
    val events = Seq((1L, "a"), (1L, "a"), (2L, "b"), (3L, "c")).toDF("user_id", "v")
    val d = Streaming.streamingDedup(events, Seq("user_id"))
    assert(d.columns.toSeq == Seq("user_id", "v"))
    assert(d.select("user_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(d.exceptAll(d).count() == 0)
  }

  test("streamingDedup drops duplicate keys within the watermark") {
    val inDir = "/tmp/graft_stream_events"
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    // duplicate every event: read the same file twice via union upstream
    // is not possible on one file source, so duplicate a key instead:
    // user_id collides heavily -> dedup on user_id must emit each once
    val stream = withTsUtc(spark.readStream.schema(schema).parquet(inDir))
      .withWatermark("ts_utc", "2 hours")
    val query = Streaming.streamingDedup(stream, Seq("user_id"))
      .select("user_id")
      .writeStream.format("memory").queryName("graft_dedup")
      .outputMode("append").start()
    try query.processAllAvailable()
    finally query.stop()
    val got = spark.table("graft_dedup").collect().map(_.getLong(0)).toSeq
    val want = withTsUtc(spark.read.parquet(s"$sfDir/events.parquet"))
      .select("user_id").distinct().collect().map(_.getLong(0)).toSeq
    assert(got.nonEmpty)
    assert(got.sorted == want.sorted) // each user exactly once
  }

  test("streaming MinHash near-dup dedup matches the batch twin") {
    // Hand-built corpus, ONE FILE PER DOC + maxFilesPerTrigger=1, so stream
    // arrival order is exactly (ts, id) order and the first-arrival bucket
    // claim is deterministic — comparable to the batch earliest-(ts,id) rule.
    val docs = Seq(
      (1L, 0, "the quick brown fox jumps over the lazy dog and then runs far away home tonight"),
      (2L, 60, "the quick brown fox jumps over the lazy dog and then runs far away home tonight"),
      (3L, 120, "the quick brown fox jumps over the lazy cat and then runs far away home tonight"),
      (4L, 180, "distributed query engines push filters into columnar scans and prune partitions aggressively"),
      (5L, 240, "watermarks bound streaming state so unbounded feeds keep constant memory per key"))
    val mkDf = (rows: Seq[(Long, Int, String)]) =>
      spark.createDataFrame(rows).toDF("doc_id", "offset_s", "text")
        .withColumn("ts_utc", expr("timestamp '2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,offset_s)"))
        .drop("offset_s")
    val inDir = Files.createTempDirectory("graft_stream_docs")
    // sentinel 6 hours later: pushes the watermark past the first window so
    // append mode finalizes it; its own window never closes -> never emitted
    val all = docs.zipWithIndex :+ ((99L, 6 * 3600, "sentinel advances the watermark and nothing else"), docs.length)
    all.foreach { case (row, i) =>
      // FileStreamSource orders by modification time: fast copies can tie
      // (coarse mtime granularity), making arrival order — and which
      // exact-dup survives — nondeterministic. stageSingleParquet pins
      // strictly increasing mtimes so arrival order is exactly doc order.
      stageSingleParquet(mkDf(Seq(row)), inDir.resolve(f"doc_$i%03d.parquet"), i)
    }
    val schema = mkDf(docs.take(1)).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
    val query = Streaming.streamingNearDedup(stream, "text", "doc_id",
        watermark = "10 minutes", k = 32, bands = 8)
      .writeStream.format("memory").queryName("graft_near_dedup")
      .outputMode("append").start()
    try query.processAllAvailable()
    finally query.stop()
    val got = spark.table("graft_near_dedup").collect().map(_.getLong(0)).toSet
    val want = Streaming.streamingNearDedup(mkDf(docs), "text", "doc_id",
        watermark = "10 minutes", k = 32, bands = 8)
      .collect().map(_.getLong(0)).toSet
    assert(got == want, s"stream survivors $got != batch survivors $want")
    assert(!got.contains(2L)) // exact dup of doc 1 must be dropped
    assert(got.contains(1L) && got.contains(4L) && got.contains(5L))
  }

  test("sliding-window rate runs on a stream and matches batch") {
    val inDir = "/tmp/graft_stream_events"
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val stream = withTsUtc(spark.readStream.schema(schema).parquet(inDir))
    val query = Streaming.slidingRate(stream)
      .writeStream.format("memory").queryName("graft_sliding")
      .outputMode("complete").start()
    try query.processAllAvailable()
    finally query.stop()
    val got = spark.table("graft_sliding")
      .orderBy("win_start", "event_type").collect().toSeq
    val want = Streaming.slidingRate(
      withTsUtc(spark.read.parquet(s"$sfDir/events.parquet")))
      .orderBy("win_start", "event_type").collect().toSeq
    assert(got.nonEmpty)
    assert(got == want)
  }

  test("count-min sketch streams: additive counters match the batch sketch") {
    // the sketch is one stateless projection + an additive groupBy —
    // exactly the aggregate shape complete-mode streaming supports, and
    // its bounded depth×width state is what makes it stream-safe where
    // an exact token groupBy's unbounded key space is not
    val inDir = Paths.get("/tmp/graft_stream_cm")
    inDir.toFile.mkdirs()
    Files.copy(Paths.get(s"$sfDir/documents.parquet"),
      inDir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val stream = spark.readStream.schema(docs.schema).parquet(inDir.toString)
    val query = graft.operators.Diagnostics
      .countMinSketch(stream.toDF(), "text", depth = 3, width = 64)
      .writeStream.format("memory").queryName("graft_cm_stream")
      .outputMode("complete").start()
    try query.processAllAvailable()
    finally query.stop()
    val got = spark.table("graft_cm_stream")
      .orderBy("row", "bucket").collect().toSeq
    val want = graft.operators.Diagnostics
      .countMinSketch(docs, "text", depth = 3, width = 64)
      .orderBy("row", "bucket").collect().toSeq
    assert(got.nonEmpty)
    assert(got == want)
  }

  test("expectations row rules run as a streaming aggregate (complete mode)") {
    // RowRule flags are stateless projections and the report is one
    // global aggregate, so row-local expectations monitor an unbounded
    // stream in complete mode (UniqueRule chains two aggregates and is
    // batch-only — documented)
    import graft.operators.Expectations._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val inDir = Paths.get("/tmp/graft_stream_expect")
    inDir.toFile.mkdirs()
    Files.copy(Paths.get(s"$sfDir/documents.parquet"),
      inDir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val stream = spark.readStream.schema(docs.schema).parquet(inDir.toString)
    val rules = Seq(
      RowRule("text_not_null", col("text").isNotNull),
      RowRule("n_chars_positive", col("n_chars") > 0))
    val rep = check(stream, rules)
    assert(rep.isStreaming)
    val q = rep.writeStream.format("memory").queryName("graft_expect_stream")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("graft_expect_stream").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    val want = check(docs, rules).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(got == want && got.nonEmpty)
  }

  test("streaming SimHash dedup matches the batch twin") {
    // the MinHash stream-parity scenario on the Hamming family: one file
    // per doc + pinned mtimes make arrival order deterministic
    val docs = Seq(
      (1L, 0, "the quick brown fox jumps over the lazy dog and then runs far away home tonight"),
      (2L, 60, "the quick brown fox jumps over the lazy dog and then runs far away home tonight"),
      (3L, 120, "distributed query engines push filters into columnar scans and prune partitions aggressively"),
      (4L, 180, "watermarks bound streaming state so unbounded feeds keep constant memory per key"))
    val mkDf = (rows: Seq[(Long, Int, String)]) =>
      spark.createDataFrame(rows).toDF("doc_id", "offset_s", "text")
        .withColumn("ts_utc", expr("timestamp '2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,offset_s)"))
        .drop("offset_s")
    val inDir = Files.createTempDirectory("graft_stream_simhash")
    val all = docs.zipWithIndex :+ ((99L, 6 * 3600, "sentinel advances the watermark and nothing else"), docs.length)
    all.foreach { case (row, i) =>
      stageSingleParquet(mkDf(Seq(row)), inDir.resolve(f"doc_$i%03d.parquet"), i)
    }
    val schema = mkDf(docs.take(1)).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
    val query = Streaming.streamingSimhashDedup(stream, "text", "doc_id",
        watermark = "10 minutes")
      .writeStream.format("memory").queryName("graft_simhash_dedup")
      .outputMode("append").start()
    try query.processAllAvailable()
    finally query.stop()
    val got = spark.table("graft_simhash_dedup").collect().map(_.getLong(0)).toSet
    val want = Streaming.streamingSimhashDedup(mkDf(docs), "text", "doc_id",
        watermark = "10 minutes")
      .collect().map(_.getLong(0)).toSet
    assert(got == want, s"stream survivors $got != batch survivors $want")
    assert(!got.contains(2L)) // exact dup shares every chunk -> dropped
    assert(got.contains(1L) && got.contains(3L) && got.contains(4L))
  }

  // ---- checkpoint-recovery parity (VERDICT r16 #3) --------------------
  // Stateful streaming ops keep state in the checkpoint precisely so a
  // stopped query can resume without losing it — stop-and-restore is
  // the production failure mode. Each test drives the same two-phase
  // file feed twice: uninterrupted (one query sees phase 1, then phase
  // 2) vs recovered (STOP after phase 1, restart a FRESH query from the
  // same checkpoint for phase 2). Batch boundaries are identical
  // (maxFilesPerTrigger=1, pinned mtimes), so append outputs must be
  // IDENTICAL — and a cross-phase merge/claim proves the state itself
  // (not just offsets) was restored.

  /** Write each row of `dfs(i)` as its own single-file parquet into
    * `dir`, with strictly increasing mtimes continuing from `fromIdx`
    * (FileStreamSource orders by modification time). */
  private def stagePhase(dfs: Seq[org.apache.spark.sql.DataFrame],
                         dir: java.nio.file.Path, fromIdx: Int): Int = {
    dfs.zipWithIndex.foreach { case (df, j) =>
      val i = fromIdx + j
      stageSingleParquet(df, dir.resolve(f"f_$i%03d.parquet"), i)
    }
    fromIdx + dfs.length
  }

  /** Stage `df` as ONE parquet file at `dst` with a pinned mtime (the
    * FileStreamSource arrival-order discipline): write to a scratch
    * dir, copy out the single part-file, and — unlike the inline form
    * this replaces — close the directory stream and delete the scratch
    * dir, so repeated suite runs don't accumulate temp trees or leak
    * descriptors. */
  private def stageSingleParquet(df: org.apache.spark.sql.DataFrame,
                                 dst: java.nio.file.Path, idx: Int): Unit = {
    val tmp = Files.createTempDirectory("graft_stage_part")
    try {
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val s = Files.list(tmp)
      val part =
        try s.toArray.map(_.toString).filter(_.endsWith(".parquet")).head
        finally s.close()
      Files.copy(Paths.get(part), dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(
          1000000000000L + idx * 60000L))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
  }

  /** Run `mk` over the two-phase feed; `restart` selects recovered vs
    * uninterrupted execution. The sink is the fault-tolerant parquet
    * FILE sink (the memory sink refuses checkpoint recovery), so both
    * phases land in one transactional output dir read back at the end.
    * Returns every append-mode output row. */
  private def twoPhaseRun(tag: String, restart: Boolean,
                          phase1: Seq[org.apache.spark.sql.DataFrame],
                          phase2: Seq[org.apache.spark.sql.DataFrame],
                          schema: org.apache.spark.sql.types.StructType,
                          mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
    : Seq[org.apache.spark.sql.Row] = {
    val src = Files.createTempDirectory(s"graft_rec_src_$tag")
    val ckpt = Files.createTempDirectory(s"graft_rec_ckpt_$tag")
    val out = Files.createTempDirectory(s"graft_rec_out_$tag")
    try {
      def start() =
        mk(spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(src.toString))
          .writeStream.format("parquet")
          .option("path", out.toString)
          .option("checkpointLocation", ckpt.toString)
          .outputMode("append").start()
      val n1 = stagePhase(phase1, src, 0)
      val q1 = start()
      try {
        q1.processAllAvailable()
        if (restart) {
          q1.stop() // the failure point: offsets, watermark, and state
          // live only in the checkpoint now
          stagePhase(phase2, src, n1)
          val q2 = start()
          try q2.processAllAvailable() finally q2.stop()
        } else {
          stagePhase(phase2, src, n1)
          q1.processAllAvailable()
          q1.stop()
        }
      } finally if (q1.isActive) q1.stop()
      spark.read.parquet(out.toString).collect().toSeq
    } finally Seq(src, ckpt, out).foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
  }

  test("flatMapGroupsWithState sessions survive stop-and-restore from checkpoint") {
    import org.apache.spark.sql.DataFrame
    val gapUs = 10L * 60 * 1000000L // 10-minute gap
    // ts_us MUST be the absolute epoch micros of ts_utc (the
    // Tables.tsMicros contract): the event-time TIMEOUT is set from
    // ts_us but compared against the WATERMARK, which tracks ts_utc —
    // an offset-valued ts_us makes every timeout resolve to
    // watermark+1 and close each open session at the next tick
    def ev(rows: (Long, Int)*): DataFrame =
      spark.createDataFrame(rows).toDF("user_id", "offset_s")
        .withColumn("ts_utc", expr(
          "timestamp '2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,offset_s)"))
        .withColumn("ts_us", expr("unix_micros(ts_utc)"))
        .drop("offset_s")
    val baseUs = 1704067200L * 1000000L // 2024-01-01 00:00:00 UTC
    // phase 1: u1 session A (0s, 300s), then 2400s opens session B;
    //          u2 session C (600s)
    val phase1 = Seq(ev(1L -> 0, 1L -> 300), ev(1L -> 2400, 2L -> 600))
    // phase 2: u1 2700s EXTENDS session B across the restart boundary —
    // only recovered state can merge it (2700-2400 < gap); u2 3600s
    // closes C and opens D; two far sentinels push the watermark past
    // every timeout so all real sessions emit
    val phase2 = Seq(ev(1L -> 2700, 2L -> 3600),
      ev(999L -> 12 * 3600), ev(998L -> 13 * 3600))
    val schema = ev(1L -> 0).schema
    def mk(s: DataFrame): DataFrame =
      Streaming.statefulSessions(
        s.withWatermark("ts_utc", "10 minutes"), gapUs).toDF()
    def sessions(rows: Seq[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .filter(_._1 < 900L).toSet // sentinels' own sessions are timing-bound
    val recovered = sessions(twoPhaseRun("fmgs", restart = true,
      phase1, phase2, schema, mk))
    val uninterrupted = sessions(twoPhaseRun("fmgs_u", restart = false,
      phase1, phase2, schema, mk))
    assert(recovered == uninterrupted,
      s"recovery diverged: $recovered vs $uninterrupted")
    // state continuity: session B spans the restart and must surface as
    // ONE merged session (start 2400s, 2 events, 300s span); a lost
    // state store would fragment it into (2400,1,0)+(2700,1,0)
    assert(recovered.contains((1L, baseUs + 2400000000L, 2L, 300000000L)),
      s"boundary-spanning session not merged: $recovered")
    // and the full closed set matches the batch reference exactly
    val ref = Streaming.statefulSessions(
        ev(1L -> 0, 1L -> 300, 1L -> 2400, 1L -> 2700, 2L -> 600, 2L -> 3600),
        gapUs)
      .collect().map(e => (e.user_id, e.session_start_us, e.n_events, e.dur_us))
      .toSet
    assert(recovered == ref, s"recovered $recovered != batch ref $ref")
  }

  test("streaming MinHash dedup claim state survives stop-and-restore") {
    import org.apache.spark.sql.DataFrame
    val mkDf = (rows: Seq[(Long, Int, String)]) =>
      spark.createDataFrame(rows).toDF("doc_id", "offset_s", "text")
        .withColumn("ts_utc", expr(
          "timestamp '2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,offset_s)"))
        .drop("offset_s")
    val t1 = "the quick brown fox jumps over the lazy dog and then runs far away home tonight"
    val t4 = "distributed query engines push filters into columnar scans and prune partitions aggressively"
    val t5 = "watermarks bound streaming state so unbounded feeds keep constant memory per key"
    // doc 1 claims its buckets in phase 1; its exact dup doc 2 arrives
    // ONLY after the restart — it is dropped iff the claim state was
    // restored (a fresh state store would let it claim and survive)
    val phase1 = Seq(mkDf(Seq((1L, 0, t1))), mkDf(Seq((4L, 60, t4))))
    val phase2 = Seq(mkDf(Seq((2L, 120, t1))), mkDf(Seq((5L, 180, t5))),
      mkDf(Seq((99L, 6 * 3600, "sentinel advances the watermark and nothing else"))))
    val schema = mkDf(Seq((1L, 0, t1))).schema
    def mk(s: DataFrame): DataFrame =
      Streaming.streamingNearDedup(s, "text", "doc_id",
        watermark = "10 minutes", k = 32, bands = 8)
    val recovered = twoPhaseRun("minhash", restart = true,
      phase1, phase2, schema, mk).map(_.getLong(0)).toSet
    val uninterrupted = twoPhaseRun("minhash_u", restart = false,
      phase1, phase2, schema, mk).map(_.getLong(0)).toSet
    assert(recovered == uninterrupted,
      s"recovery diverged: $recovered vs $uninterrupted")
    assert(!recovered.contains(2L),
      s"post-restart exact dup survived — claim state lost: $recovered")
    assert(recovered == Set(1L, 4L, 5L), recovered.toString)
  }

  test("streaming SimHash dedup claim state survives stop-and-restore") {
    import org.apache.spark.sql.DataFrame
    val mkDf = (rows: Seq[(Long, Int, String)]) =>
      spark.createDataFrame(rows).toDF("doc_id", "offset_s", "text")
        .withColumn("ts_utc", expr(
          "timestamp '2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,offset_s)"))
        .drop("offset_s")
    val t1 = "the quick brown fox jumps over the lazy dog and then runs far away home tonight"
    val t3 = "distributed query engines push filters into columnar scans and prune partitions aggressively"
    val phase1 = Seq(mkDf(Seq((1L, 0, t1))))
    val phase2 = Seq(mkDf(Seq((2L, 60, t1))), mkDf(Seq((3L, 120, t3))),
      mkDf(Seq((99L, 6 * 3600, "sentinel advances the watermark and nothing else"))))
    val schema = mkDf(Seq((1L, 0, t1))).schema
    def mk(s: DataFrame): DataFrame =
      Streaming.streamingSimhashDedup(s, "text", "doc_id",
        watermark = "10 minutes")
    val recovered = twoPhaseRun("simhash", restart = true,
      phase1, phase2, schema, mk).map(_.getLong(0)).toSet
    val uninterrupted = twoPhaseRun("simhash_u", restart = false,
      phase1, phase2, schema, mk).map(_.getLong(0)).toSet
    assert(recovered == uninterrupted,
      s"recovery diverged: $recovered vs $uninterrupted")
    assert(!recovered.contains(2L),
      s"post-restart exact dup survived — claim state lost: $recovered")
    assert(recovered == Set(1L, 3L), recovered.toString)
  }
}
