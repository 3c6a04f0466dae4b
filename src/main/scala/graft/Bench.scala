package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.envCpus(4)
    val spark = GraftSession.local(cpus, shufflePartitions = cpus, logLevel = "WARN")
    val loadStart = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // Warm up codegen/shuffle machinery so the first timed query doesn't
    // absorb one-time session cost.
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()

    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      // noop sink, not count(): count() lets Catalyst prune projections and
      // drop final sorts, so expression-heavy queries would be timed as a
      // bare parquet scan. The noop write executes the full plan.
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
        }
      // a failed query must not masquerade as a fast one
      val dt: Double = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      // The noop write consumed the result fully, so the PlanCache pins
      // made by this run are safe to drop — without this, repeated shots
      // pin one cached copy each. Outside the timed span.
      graft.operators.GlobalOps.releaseSnapshots()
      dt
    }

    // Each query is timed four times in the same JVM: one cold run (pays
    // JIT + codegen-cache + OS page-cache cost, swings 4-6x with machine
    // load) and three warm runs, reported as their MIN. Same-JVM
    // run-order/GC jitter of +/-1-2s per query polluted r8/r9
    // cross-round series with phantom "regressions" that reverted
    // untouched; min-of-2 fixed the median case (5.9% cross-run diff)
    // but two consecutive shots can still co-land in a slow phase
    // (2.09 vs 0.63 on the same query across r10 runs) — the third shot
    // bounds that tail. NOTE: rounds r1-r4 reported single-shot cold
    // numbers only, so per-query comparisons against those rounds must
    // use the "queries_cold" series in bench_detail.json, not "queries".
    val results = SparkEntry.queries.toSeq.map { case (name, fn) =>
      val cold = timeOnce(name, fn)
      // any failed run (-1) propagates through min as failed
      val warm = (1 to 3).foldLeft(Double.MaxValue) { (best, _) =>
        if (cold < 0 || best < 0) -1.0
        else math.min(best, timeOnce(name, fn))
      }
      name -> (cold, warm)
    }
    // Bench-anchor protocol (BASELINE.md, r20): five scan-local control
    // queries, in the ledger and untouched since r10, anchored to their
    // BENCH_DETAIL_r10.json warm numbers. control_factor = median of
    // warm/anchor over the controls — the box-speed factor THIS capture
    // ran under, recorded inside the artifact so cross-round series and
    // the driver's 2x bar can be read control-normalized instead of
    // re-litigating box drift in prose each round.
    val controlAnchors = Seq(
      "q_quality" -> 0.711343, "q_token_count" -> 0.331832,
      "q_fingerprint" -> 0.210499, "q_lang_id" -> 0.750644,
      "q_colminmax" -> 0.097683)
    // Anchor v2 (VERDICT r20 #5/#6, r21 #6): the scan-local controls are
    // blind to exchange/shuffle-phase load — the r20/r21 driver-vs-idle
    // gaps (1.91x vs 1.66x at the SAME scan control factor) lived exactly
    // there. Two EXCHANGE-HEAVY controls, untouched since r10 and
    // anchored to their BENCH_DETAIL_r10.json warm numbers, stamp a
    // second factor so a capture can say which phase the box was slow in.
    val exchangeAnchors = Seq(
      "q_inner_join" -> 0.327413, "q_window_ranks" -> 0.965815)
    // the anchors are sf0.1 warm times — at any other scale a ratio
    // against them measures data size, not box speed, so the protocol
    // fields are only emitted for the scale they were anchored at
    val anchorsApply = sfDir.stripSuffix("/").endsWith("sf0.1")
    // a silently-missing control_factor is undiagnosable from the
    // artifact alone (ADVICE r20) — say WHY the protocol fields are absent
    if (!anchorsApply)
      System.err.println(s"[bench] anchor protocol skipped: '$sfDir' is " +
        "not the sf0.1 dataset the r10 control anchors were measured at")
    val rmap = results.toMap
    def medianRatio(anchors: Seq[(String, Double)]): (Double, Int) = {
      val ratios =
        (if (anchorsApply) anchors else Seq.empty)
          .flatMap { case (q, anchor) =>
            rmap.get(q).map(_._2).filter(_ > 0).map(_ / anchor) }
          .sorted
      val m =
        if (ratios.isEmpty) -1.0
        else if (ratios.size % 2 == 1) ratios(ratios.size / 2)
        else (ratios(ratios.size / 2 - 1) + ratios(ratios.size / 2)) / 2
      (m, ratios.size)
    }
    val (controlFactor, nControls) = medianRatio(controlAnchors)
    val (exchangeFactor, nControlsEx) = medianRatio(exchangeAnchors)
    val nOk = results.count(_._2._2 >= 0)
    val normSecPerQuery =
      if (controlFactor <= 0 || nOk == 0) -1.0
      else results.map(_._2._2).filter(_ >= 0).sum / nOk / controlFactor
    // load snapshot (anchor v2): 1-min system loadavg at start/end of the
    // capture — an artifact-internal record of whether the box was busy,
    // complementing the control factors (which only see the timed spans)
    val loadEnd = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // n_controls records how many of the 5 anchors actually contributed
    // (ADVICE r20: a factor computed from 1 surviving control is not the
    // same protocol as one computed from 5, and the artifact must say so)
    val exExtra = if (exchangeFactor <= 0) "" else
      s""","control_factor_ex":${BenchFormat.fmt(exchangeFactor, 3)},"n_controls_ex":$nControlsEx"""
    val loadExtra =
      if (loadStart < 0 && loadEnd < 0) "" // unavailable on this JVM/OS
      else s""","load1m_start":${BenchFormat.fmt(loadStart, 2)},"load1m_end":${BenchFormat.fmt(loadEnd, 2)}"""
    val extra = (if (controlFactor <= 0) "" else
      s""","control_factor":${BenchFormat.fmt(controlFactor, 3)},"n_controls":$nControls,"norm_sec_per_query":${BenchFormat.fmt(normSecPerQuery, 3)}""") +
      exExtra + loadExtra
    val line = BenchFormat.line(results, sfDir, extra = extra)
    // full precision for local analysis (not part of the driver contract):
    // per-query cold shot + min of the three warm shots (individual warm
    // shots are not recorded)
    def series(pick: ((Double, Double)) => Double): String =
      results.map { case (k, v) => "\"" + k + "\":" + BenchFormat.fmt(pick(v), 6) }
        .mkString("{", ",", "}")
    val warmTotal = results.map(_._2._2).filter(_ >= 0).sum
    val coldTotal = results.map(_._2._1).filter(_ >= 0).sum
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_detail.json"),
      s"""{"queries_warm":${series(_._2)},"queries_cold":${series(_._1)},"total_warm":$warmTotal,"total_cold":$coldTotal,"sf":"$sfDir"$extra}\n""")
    catch { case _: Throwable => () }
    println(line)
    spark.stop()
  }
}
