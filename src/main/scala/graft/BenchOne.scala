package graft

/** Bench a subset of queries by name (iteration tool):
  * `runMain graft.BenchOne q_minhash_pairs q_lang_id`. Same session
  * config and noop sink as [[Bench]].
  *
  * `--fleet-offset q_target [...]` (VERDICT r20 #6): measures the
  * fleet-vs-isolated offset the protocol forbids comparing across
  * uncontrolled. Isolated steady states run 1.5–2.0× their fleet-warm
  * numbers apart (JIT depth, code-cache residency), so a hand-run
  * isolated A/B can't be read against a fleet capture without a
  * correction factor. The mode runs each target plus two magnitude
  * anchors — one scan-local control (q_token_count) and one
  * exchange-heavy control (q_inner_join, anchor v2) — in BOTH regimes:
  *   1. interleaved isolated steady state (4 rounds of
  *      target/control/control, min per query), and
  *   2. one full-fleet pass (every ledger query once, in ledger order,
  *      recording the targets' and controls' in-fleet times).
  * It prints both series and the NORMALIZED RESIDUAL
  * `(fleet_t/iso_t) / geomean(fleet_c/iso_c)` — the target's
  * fleet-vs-isolated offset with the controls' shared offset divided
  * out. A residual ≈ 1 means the isolated A/B transfers to fleet
  * numbers as-is; a residual far from 1 is the correction factor to
  * apply (and a warning that the target is unusually JIT/phase-bound).
  */
object BenchOne {
  private val OffsetControls = Seq("q_token_count", "q_inner_join")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.envCpus(32)
    val spark = GraftSession.local(cpus, shufflePartitions = cpus, logLevel = "WARN")
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()

    def shot(name: String): Double = {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      // same lifecycle as Bench: the noop write fully consumed the
      // result, so per-shot PlanCache pins are safe to drop
      graft.operators.GlobalOps.releaseSnapshots()
      dt
    }

    if (args.headOption.contains("--fleet-offset")) {
      val targets = args.drop(1).toSeq
      require(targets.nonEmpty, "usage: BenchOne --fleet-offset q_x [q_y ...]")
      val tracked = (targets ++ OffsetControls).distinct
      // regime 1: interleaved isolated steady state (min of 4 rounds)
      val iso = collection.mutable.Map.empty[String, Double]
      for (round <- 1 to 4; q <- tracked) {
        val dt = shot(q)
        iso(q) = math.min(iso.getOrElse(q, Double.MaxValue), dt)
        println(f"iso round$round $q: $dt%.2f s")
      }
      // regime 2: one full-fleet pass in ledger order
      val fleet = collection.mutable.Map.empty[String, Double]
      SparkEntry.queries.toSeq.foreach { case (q, _) =>
        val dt = shot(q)
        if (tracked.contains(q)) {
          fleet(q) = dt
          println(f"fleet $q: $dt%.2f s")
        }
      }
      val ctlOffsets = OffsetControls.flatMap(c =>
        for (f <- fleet.get(c); i <- iso.get(c) if i > 0) yield f / i)
      val ctlGeo =
        if (ctlOffsets.isEmpty) 1.0
        else math.exp(ctlOffsets.map(math.log).sum / ctlOffsets.size)
      println(f"controls fleet/iso: ${OffsetControls.zip(ctlOffsets).map { case (c, o) => f"$c=$o%.2f" }.mkString(", ")} (geomean $ctlGeo%.2f)")
      targets.foreach { t =>
        (for (f <- fleet.get(t); i <- iso.get(t) if i > 0) yield f / i) match {
          case Some(off) =>
            println(f"$t: iso=${iso(t)}%.2f s fleet=${fleet(t)}%.2f s " +
              f"offset=$off%.2f normalized residual=${off / ctlGeo}%.2f")
          case None => println(s"$t: missing a regime measurement")
        }
      }
    } else {
      args.foreach { name =>
        (1 to 2).foreach { i =>
          val dt = shot(name)
          println(f"$name run$i: $dt%.2f s")
        }
      }
    }
    spark.stop()
  }
}
