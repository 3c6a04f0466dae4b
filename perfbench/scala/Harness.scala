package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's JVM side. It drives the program only through public
  * entry points (`graft.SparkEntry.queries`, `graft.sources.Tables`,
  * `graft.operators.GlobalOps`), times those calls, and writes one JSON
  * record of raw shots for `run.py` to reduce.
  *
  * Arguments are `key=value`: image, queries (comma list), rows
  * (table:count,...), seed, seconds, trace (0|1), cpus, scratch, out,
  * spans.
  *
  * Load shape: one client, closed loop. After one set-up, a pass runs
  * every query once, in an order permuted by the seed and the pass index.
  * Pass 0 is the cold pass; after one unreported warm-up pass, warm passes
  * follow while they fit in `seconds`. Timed shots write to the `noop`
  * sink. The warm-up pass writes to [[DigestSink]] instead, which executes
  * the whole plan the same way and yields the result digests that `run.py`
  * checks. */
object Harness {
  type Q = (SparkSession, String) => DataFrame

  final case class Shot(q: String, id: String, startMs: Long, endMs: Long,
                        wall: Double, build: Double, digest: String,
                        err: String, pins: Int, cacheBytes: Long)
  final case class Pass(idx: Int, traced: Boolean, wall: Double, cpu: Double,
                        startMs: Long, endMs: Long, shots: Seq[Shot])

  private val os = ManagementFactory.getOperatingSystemMXBean
  private def cpuSeconds: Double = os match {
    case o: com.sun.management.OperatingSystemMXBean => o.getProcessCpuTime / 1e9
    case _ => -1.0
  }

  def session(cpus: Int, scratch: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.checkpoint.dir", s"$scratch/checkpoint")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Row counts of every image table, read through the program's loader. */
  def verifyImage(spark: SparkSession, image: String, rows: Map[String, Long]): Unit =
    rows.foreach { case (t, n) =>
      val got = graft.sources.Tables.df(spark, image, t).count()
      require(got == n, s"image $image: table $t has $got rows, pinned $n")
    }

  def warmUp(spark: SparkSession): Unit =
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()

  def options(args: Array[String]): Map[String, String] =
    args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap

  /** Set-up: session start, image verification and a warm-up job. Returns
    * the session and the seconds since JVM start, so JVM start-up counts. */
  def setUp(opt: Map[String, String]): (SparkSession, Double) = {
    val rows = opt("rows").split(',').toSeq.filter(_.nonEmpty).map { kv =>
      val Array(k, v) = kv.split(':'); k -> v.toLong }.toMap
    val spark = session(opt("cpus").toInt, opt("scratch"))
    verifyImage(spark, opt("image"), rows)
    warmUp(spark)
    (spark, (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)
  }

  def main(args: Array[String]): Unit = {
    val opt = options(args)
    val image = opt("image")
    val names = opt("queries").split(',').toSeq.filter(_.nonEmpty)
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val scratch = opt("scratch")
    val load0 = os.getSystemLoadAverage

    val (spark, setupS) = setUp(opt)
    val sc = spark.sparkContext
    val ledger = graft.SparkEntry.queries
    val missing = names.filterNot(ledger.contains)
    require(missing.isEmpty, s"not in the ledger: ${missing.mkString(", ")}")

    val tracer = new Tracer
    def tracing(on: Boolean): Unit =
      if (on) { sc.addSparkListener(tracer); spark.listenerManager.register(tracer) }
      else {
        tracer.drain()
        sc.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
      }

    def shot(q: String, id: String, digest: Boolean): Shot = {
      val fn: Q = ledger(q)
      sc.setLocalProperty(tracer.ShotKey, id)
      sc.setLocalProperty(tracer.PhaseKey, "build")
      DigestSink.last.set(null)
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var tb = t0
      var err = ""
      try {
        val df = fn(spark, image)
        tb = System.nanoTime()
        sc.setLocalProperty(tracer.PhaseKey, "sink")
        if (digest) df.write.format(classOf[DigestSink].getName).mode("append").save()
        else df.write.format("noop").mode("overwrite").save()
      } catch {
        case e: Throwable => err = s"${e.getClass.getName}: ${e.getMessage}".take(400)
      }
      val t1 = System.nanoTime()
      val ms1 = System.currentTimeMillis()
      sc.setLocalProperty(tracer.ShotKey, null)
      sc.setLocalProperty(tracer.PhaseKey, null)
      val d = DigestSink.last.get()
      if (digest && err.isEmpty && d == null) err = "no digest committed"
      // Untimed: cached bytes at shot end, then release this shot's pins.
      val cacheBytes =
        if (trace) sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum else 0L
      val pins = graft.operators.GlobalOps.releaseSnapshots()
      Shot(q, id, ms0, ms1, (t1 - t0) / 1e9, (tb - t0) / 1e9,
        if (d == null) "" else d.toString, err, pins, cacheBytes)
    }

    def runPass(idx: Int, traced: Boolean, digest: Boolean = false): Pass = {
      val order = new scala.util.Random(seed * 1000003L + idx).shuffle(names)
      if (traced) tracing(on = true)
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val c0 = cpuSeconds
      val shots = order.map(q => shot(q, s"p$idx/$q", digest))
      val p = Pass(idx, traced, (System.nanoTime() - t0) / 1e9, cpuSeconds - c0,
        ms0, System.currentTimeMillis(), shots)
      if (traced) tracing(on = false)
      p
    }

    val cold = runPass(0, traced = false)
    // One more pass, not reported, lets JIT compilation settle: CPU per
    // pass still falls for several passes after the cold one. Its shots
    // yield the result digests.
    val warmupPass = runPass(-1, traced = false, digest = true)
    // Warm passes: another starts only if a pass as long as the last one
    // still ends within `seconds`, so a run measures at most `seconds`
    // unless a single pass is longer. Trace runs alternate traced and
    // untraced passes, so one run yields the tracing overhead; at least
    // one of each.
    val warm = mutable.ArrayBuffer.empty[Pass]
    val w0 = System.nanoTime()
    do warm += runPass(warm.size + 1, traced = trace && warm.size % 2 == 0)
    while ((System.nanoTime() - w0) / 1e9 + warm.last.wall <= seconds ||
      (trace && warm.size < 2))

    val rssMb = peakRssMb
    val probes =
      if (trace) {
        tracing(on = true)
        val p = Probes.all(spark, image, scratch, tracer)
        tracing(on = false)
        p
      } else Map.empty[String, Double]
    val load1 = os.getSystemLoadAverage

    val stamp = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "cpus" -> cpus,
      "heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
      "spark_graft_cpus" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", ""),
      "load1m_start" -> load0,
      "load1m_end" -> load1,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version)
    val rec = Map(
      "stamp" -> stamp,
      "setup_s" -> setupS,
      "peak_rss_mb" -> rssMb,
      "passes" -> (cold +: warm.toSeq).map(p => passJson(p, tracer)),
      "warmup" -> passJson(warmupPass, tracer),
      "probes" -> probes)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("out")), Json(rec))
    if (trace) writeSpans(opt("spans"), cold +: warm.toSeq, tracer)
    spark.stop()
  }

  /** Peak resident set of this JVM (driver and executors: local mode). */
  def peakRssMb: Double = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(-1.0)
    finally status.close()
  }

  private def passJson(p: Pass, t: Tracer): Map[String, Any] = {
    val base = Map[String, Any]("idx" -> p.idx, "traced" -> p.traced, "wall" -> p.wall,
      "cpu" -> p.cpu)
    val shots = p.shots.map { s =>
      val m = Map[String, Any]("q" -> s.q, "wall" -> s.wall, "build" -> s.build,
        "digest" -> s.digest, "err" -> s.err, "pins" -> s.pins, "cache_bytes" -> s.cacheBytes)
      if (!p.traced) m else m ++ shotTrace(s, t)
    }
    base + ("shots" -> shots)
  }

  /** Per-shot layer numbers: counters per phase, plan time and shape of the
    * query executions that started inside the shot, and self times. */
  private def shotTrace(s: Shot, t: Tracer): Map[String, Any] = t.synchronized {
    val jobs = t.spans.filter(sp => sp.name == "job" && sp.shot == s.id)
    val stages = t.spans.filter(sp => sp.name == "stage" && sp.shot == s.id)
    def jobsIn(phase: String) = jobs.filter(_.parent == s"${s.id}/$phase")
    def union(sp: Iterable[Span]) = Tracer.unionSeconds(sp.map(x => (x.start, x.end)).toSeq)
    val execs = t.executions.filter { case (st, _, _) => st >= s.startMs && st <= s.endMs }
    val shape = execs.flatMap(_._3).groupMapReduce(_._1)(_._2)(_ + _)
    val jobSelf = jobs.map(j => j.dur - union(stages.filter(_.parent == j.id))).sum
    Map(
      "build_counts" -> t.counts.get((s.id, "build")).map(_.c.toMap).getOrElse(Map.empty),
      "sink_counts" -> t.counts.get((s.id, "sink")).map(_.c.toMap).getOrElse(Map.empty),
      "plan_s" -> execs.map(_._2).sum,
      "plan" -> shape,
      "jobs_union_s" -> union(jobs),
      "self_build_s" -> (s.build - union(jobsIn("build"))),
      "self_sink_s" -> ((s.wall - s.build) - union(jobsIn("sink"))),
      "self_job_s" -> jobSelf,
      "stage_union_s" -> union(stages))
  }

  private def writeSpans(path: String, passes: Seq[Pass], t: Tracer): Unit = {
    val out = new java.io.PrintWriter(path)
    try {
      def emit(sp: Span): Unit = out.println(Json(Map("id" -> sp.id, "name" -> sp.name,
        "parent" -> sp.parent, "shot" -> sp.shot, "start_ms" -> sp.start, "end_ms" -> sp.end)))
      passes.filter(_.traced).foreach { p =>
        emit(Span(s"p${p.idx}", "pass", "", "", p.startMs, p.endMs))
        p.shots.foreach { s =>
          val buildEnd = s.startMs + math.round(s.build * 1e3)
          emit(Span(s.id, s"shot:${s.q}", s"p${p.idx}", s.id, s.startMs, s.endMs))
          emit(Span(s"${s.id}/build", "build", s.id, s.id, s.startMs, buildEnd))
          emit(Span(s"${s.id}/sink", "sink", s.id, s.id, buildEnd, s.endMs))
        }
      }
      t.synchronized(t.spans.foreach(emit))
    } finally out.close()
  }
}

/** A set-up alone, in a fresh JVM: `run.py` starts these after the harness
  * to take the median set-up time. Takes the harness's image, rows, cpus, scratch
  * and out arguments, and writes `{"setup_s": ...}` to `out`. */
object SetUp {
  def main(args: Array[String]): Unit = {
    val opt = Harness.options(args)
    val (spark, s) = Harness.setUp(opt)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("out")), Json(Map("setup_s" -> s)))
    spark.stop()
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case o => quote(o.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
