package graft.sources

import java.io.FileNotFoundException
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{LongType, StructType}
import graft.api.DataTable

/** Loader for the driver's parquet tables (TESTDATA.md). Parquet scans give
  * Catalyst pushdown/pruning for free; at cluster scale the same call reads
  * a partitioned directory tree unchanged.
  *
  * Schema memo: `spark.read.parquet(path)` infers the schema through
  * `ParquetFileFormat.mergeSchemasInParallel`, which launches a Spark job
  * on every read, even for one file whose footer was read a moment
  * earlier (88 ms per read against 11 ms with the schema given, on a
  * 4-core box). [[df]] therefore remembers each table's inferred schema
  * and passes it back through `spark.read.schema(..)` on later reads,
  * which resolve without a job. The key is the qualified path, the
  * version of the file (length and modification time of the file, or
  * of every leaf file under a directory) and the session's
  * parquet-related SQL conf entries, so a rewritten file or a changed
  * `binaryAsString` / `legacy.parquet.nanosAsLong` infers afresh. Only
  * the schema is kept: every call still builds a fresh relation, so two
  * reads of one table never share attribute ids (self-joins stay
  * unambiguous), and nothing is cached or persisted. */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def df(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    schemaKey(spark, path) match {
      case None => spark.read.parquet(path) // missing path: Spark's own error
      case Some(key) =>
        schemas.synchronized(Option(schemas.get(key))) match {
          case Some(schema) => spark.read.schema(schema).parquet(path)
          case None =>
            val inferred = spark.read.parquet(path)
            schemas.synchronized(schemas.put(key, inferred.schema))
            inferred
        }
    }
  }

  /** What an inferred parquet schema depends on: the qualified path,
    * `(file, length, mtime)` of every leaf file, and the conf entries
    * parquet schema inference and partition discovery read. */
  private final case class SchemaKey(path: String,
                                     files: Seq[(String, Long, Long)],
                                     conf: Seq[(String, String)])

  private val MemoEntries = 64

  /** Bounded LRU (access order) of inferred schemas. */
  private val schemas =
    new java.util.LinkedHashMap[SchemaKey, StructType](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[SchemaKey, StructType]): Boolean =
        size() > MemoEntries
    }

  private def schemaKey(spark: SparkSession, path: String): Option[SchemaKey] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val root =
      try Some(fs.getFileStatus(p))
      catch { case _: FileNotFoundException => None }
    root.map { r =>
      val leaves = Seq.newBuilder[FileStatus]
      if (!r.isDirectory) leaves += r
      else {
        val it = fs.listFiles(p, true)
        while (it.hasNext) leaves += it.next()
      }
      val files = leaves.result()
        .map(s => (s.getPath.toString, s.getLen, s.getModificationTime)).sorted
      val conf = spark.sessionState.conf.getAllConfs.toSeq.filter { case (k, _) =>
        k.contains("parquet") || k.startsWith("spark.sql.sources.partition") ||
          k.startsWith("spark.sql.files.ignore")
      }.sorted
      SchemaKey(r.getPath.toString, files, conf)
    }
  }

  /** Epoch-microsecond LONG for the events `ts` column, portable across
    * both testdata vintages: timestamp[ns] parquet surfaces as a nano
    * LONG under `spark.sql.legacy.parquet.nanosAsLong` (integer `div` —
    * ns since epoch exceeds 2^53, double math would corrupt it);
    * timestamp[us] surfaces as TIMESTAMP_NTZ, where the cast to
    * TIMESTAMP is the identity on the stored micros because the session
    * timezone is pinned UTC everywhere (Verify/Bench/SparkSpec). Either
    * way the value equals DuckDB's `epoch_us(ts)`, the oracle mapping. */
  def tsMicros(df: DataFrame): Column = df.schema("ts").dataType match {
    case LongType => expr("ts div 1000")
    case _        => expr("unix_micros(cast(ts as timestamp))")
  }

  /** TIMESTAMP twin of [[tsMicros]] for event-time operators (window /
    * session_window / watermark need a timestamp column, not micros). */
  def tsStamp(df: DataFrame): Column = df.schema("ts").dataType match {
    case LongType => expr("timestamp_micros(ts div 1000)")
    case _        => expr("cast(ts as timestamp)")
  }

  /** `events` plus a proper microsecond timestamp column `ts_utc`
    * (schema-adaptive — see [[tsStamp]]). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val e = df(spark, dir, "events")
    e.withColumn("ts_utc", tsStamp(e))
  }

  /** `events` plus the epoch-micro LONG column `ts_us` (schema-adaptive
    * — see [[tsMicros]]); the integer-arithmetic twin of [[events]]. */
  def eventsUs(spark: SparkSession, dir: String): DataFrame = {
    val e = df(spark, dir, "events")
    e.withColumn("ts_us", tsMicros(e))
  }

  def apply(spark: SparkSession, dir: String, name: String): DataTable =
    DataTable(df(spark, dir, name))
}
