package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev tool (guide §1): per-JOB wall-clock breakdown of one ledger query —
  * shows where a multi-job query (training collects, probe scans, final
  * sink) actually spends its time, which `BenchOne`'s single total hides.
  *
  * Usage: `sbt "runMain graft.ProfileOne q_ann_recall [more...]"`
  * Env: SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in Bench.
  */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.envCpus(32)
    val spark = GraftSession.local(cpus, shufflePartitions = cpus, logLevel = "WARN")
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Seq[Int])]()
    val done = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Int, Double, String, Int, Long)]())
    val stageRec = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobs.put(js.jobId,
          (System.nanoTime(), desc, js.stageInfos.map(_.stageId).toSeq))
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        stageRec.put(sc.stageInfo.stageId,
          m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        // the job's shuffle traffic = sum of its stages' write+read bytes
        // (ADVICE r21: the listener collected these and then dropped them)
        Option(jobs.remove(je.jobId)).foreach { case (t0, desc, stageIds) =>
          val shuffleBytes = stageIds
            .flatMap(sid => Option(stageRec.get(sid)).map(_.longValue)).sum
          done.add((je.jobId, (System.nanoTime() - t0) / 1e9, desc,
            stageIds.size, shuffleBytes))
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to 3).foreach { i =>
        done.clear()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        graft.operators.GlobalOps.releaseSnapshots()
        Thread.sleep(300) // let the listener bus drain
        println(f"=== $name run$i: $dt%.2f s, ${done.size} jobs ===")
        if (i == 3) {
          import scala.jdk.CollectionConverters._
          done.asScala.toSeq.sortBy(_._1).foreach { case (id, d, desc, nst, sb) =>
            println(f"  job $id%4d  $d%6.3f s  stages=$nst%2d  shuffle=${sb / 1024}%6d KiB  $desc")
          }
        }
      }
    }
    spark.stop()
  }
}
