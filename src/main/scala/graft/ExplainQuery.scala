package graft

/** Dev tool: print the FORMATTED physical plan of named ledger queries —
  * the `.explain`-and-iterate loop the plan audit (PLANS.md) runs on,
  * against the same session settings as [[Verify]] (so the plan you read
  * is the plan the correctness gate executes). Each query then runs once
  * into the `noop` sink, and the [[CodegenCensus]] of every plan it
  * executed (eager driver collects included) is printed: codegen stages,
  * the operators outside codegen and the interpreted expressions.
  *
  * Usage: `sbt "runMain graft.ExplainQuery /root/testdata/sf0.01 q_winnow_pairs [more...]"`
  */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ExplainQuery <sfDir> <query> [query ...]")
    val sfDir = args(0)
    val cpus = GraftSession.envCpus(4)
    val spark = GraftSession.local(cpus, shufflePartitions = cpus, logLevel = "ERROR")
    args.drop(1).foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name' — see SparkEntry.queries"))
      println(s"=== $name ===")
      fn(spark, sfDir).explain("formatted")
      graft.operators.GlobalOps.releaseSnapshots()
      val plans = CodegenCensus.capture(spark) {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
      println(s"--- codegen census of $name: ${plans.size} executed plan(s) ---")
      plans.zipWithIndex.foreach { case (p, i) =>
        println(s"[${i + 1}] ${CodegenCensus.of(p).render}")
      }
      graft.operators.GlobalOps.releaseSnapshots()
    }
    spark.stop()
  }
}
