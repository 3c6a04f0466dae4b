package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession builder of the engine's mains and its
  * test kit. Fixed for every caller: UTC session time zone, no UI, and
  * parquet TIMESTAMP(NANOS) read as a nanos-since-epoch long (queries
  * derive timestamps from events.parquet by integer division). */
object GraftSession {
  def local(cpus: Int, shufflePartitions: Int, logLevel: String): SparkSession = {
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** The `SPARK_GRAFT_CPUS` core count, or `default` when unset. */
  def envCpus(default: Int): Int = sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.trim.toInt)
}
