package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.DoubleType

/** Split-point range bucketing shared by the two-pass global operators
  * ([[GlobalRank]], [[GlobalShift]], [[GlobalCumSum]]).
  *
  * [[stamp]] samples the FULL order tuple once, keeps up to numParts − 1
  * boundary tuples as literals of each key's own Catalyst type, and
  * stamps `__pid` as a pure projection: the number of boundaries the
  * row's tuple sorts strictly after. Every job over the stamped frame
  * derives the same bucket for every row, so nothing is cached. The
  * comparison is Spark's own struct `>`, which follows the ASC NULLS
  * FIRST sort order of every orderable field type (NaN, −0.0, binary or
  * collated strings, structs, arrays). Hence equal tuples always share a
  * bucket and buckets are contiguous in the global order — the invariant
  * all three operators build on — and later keys split a hot first-key
  * value. The boundaries decide balance only, never correctness. */
private[graft] object RangeBuckets {

  /** Stamp `keyed` with `__pid` (int, 0-based in global order) from the
    * ascending order keys `okNames`, aiming at `numParts` buckets. */
  def stamp(keyed: DataFrame, okNames: Seq[String], numParts: Int): DataFrame = {
    val bounds = boundaries(keyed, okNames, numParts)
    warnIfBucketsLikelySpill(keyed, bounds.size + 1)
    // struct `>` is Spark's lexicographic ASC NULLS FIRST ordering of the
    // fields, compiled once per struct type — per-key (k > b) OR
    // (k <=> b AND rest) chains outgrow the 64 KB codegen method limit at
    // 200 buckets and 4 keys
    val tuple = struct(okNames.map(col): _*)
    val tupleType = keyed.select(tuple).schema.head.dataType
    def after(b: Row): Column = tuple > Shim.toColumn(Literal.create(b, tupleType))
    // balanced binary search over the sorted boundaries: depth log2(n)
    def search(lo: Int, hi: Int): Column =
      if (lo == hi) lit(lo)
      else {
        val mid = (lo + hi + 1) / 2
        when(after(bounds(mid - 1)), search(mid, hi)).otherwise(search(lo, mid - 1))
      }
    keyed.withColumn("__pid", search(0, bounds.size))
  }

  /** Up to numParts − 1 distinct ascending boundary tuples, picked the way
    * Spark's RangePartitioner picks them: a fixed-seed reservoir of
    * ~3 × 20 × numParts / inputPartitions tuples per input partition, each
    * weighted by its partition's rows per sampled row, sorted by Spark's
    * SQL ordering, cut at equal cumulative weight. One job; the fixed seed
    * makes the same input give the same literals, hence the same plan. */
  private def boundaries(keyed: DataFrame, okNames: Seq[String],
                         numParts: Int): IndexedSeq[Row] =
    if (numParts <= 1) IndexedSeq.empty
    else {
      val keys = keyed.select(okNames.map(col): _*)
      val rdd = keys.rdd
      val perPart = math.ceil(
        3.0 * math.min(20.0 * numParts, 1e6) / math.max(1, rdd.getNumPartitions)).toInt
      val sampled = rdd.mapPartitionsWithIndex { (idx, it) =>
        val rng = new scala.util.Random(42L + idx)
        val res = new Array[Row](perPart)
        var n = 0L
        it.foreach { r =>
          if (n < perPart) res(n.toInt) = r
          else {
            val j = (rng.nextDouble() * (n + 1)).toLong
            if (j < perPart) res(j.toInt) = r
          }
          n += 1
        }
        val kept = math.min(n, perPart.toLong).toInt
        res.iterator.take(kept).map(r => Row.fromSeq(r.toSeq :+ n.toDouble / kept))
      }
      val w = okNames.size
      val sorted = keyed.sparkSession
        .createDataFrame(sampled, keys.schema.add("__w", DoubleType, nullable = false))
        .repartition(1).sortWithinPartitions(okNames.map(col): _*)
        .collect()
      val step = sorted.map(_.getDouble(w)).sum / numParts
      val bounds = scala.collection.mutable.ArrayBuffer.empty[Row]
      var cum = 0.0
      var target = step
      sorted.foreach { r =>
        cum += r.getDouble(w)
        if (cum >= target && bounds.size < numParts - 1) {
          val key = Row.fromSeq(r.toSeq.take(w))
          // Row equality can miss an SQL-equal pair (NaN inside an
          // array); the extra boundary then only leaves a bucket empty
          if (bounds.isEmpty || bounds.last != key) {
            bounds += key
            target += step
          }
        }
      }
      bounds.toIndexedSeq
    }

  /** Exclusive prefix sums of per-bucket pass-1 totals, as a scan-local
    * lookup by `__pid`. A bucket with no pass-1 entry means the input is
    * not deterministic upstream (pass 2 saw rows pass 1 did not), so the
    * lookup raises instead of returning a silently wrong null. */
  def prefixOffset(op: String, perBucket: Seq[(Int, Long)]): Column = {
    val byPid = perBucket.sortBy(_._1)
    val offsets = byPid.map(_._1).zip(byPid.scanLeft(0L)(_ + _._2)).toMap
    val raw = element_at(typedLit(offsets), col("__pid"))
    when(raw.isNull, raise_error(concat(
      lit(s"$op: bucket misalignment between pass 1 and pass 2 (input not " +
        "deterministic upstream), pid="), col("__pid").cast("string"))))
      .otherwise(raw)
  }

  /** `value`, or a failure naming the tuple on a row whose order tuple
    * equals its predecessor's under the pass-2 window `w`: equal tuples
    * share a bucket, so this finds every tie and reuses the pass-2 sort.
    * Per key, not as one struct: a lag(struct) input is projected below
    * the exchange and would shuffle every order key twice. */
  def refuseTies(op: String, why: String, w: WindowSpec, okCols: Seq[Column],
                 value: Column): Column = {
    val tied = okCols.map(k => lag(k, 1).over(w) <=> k)
      .foldLeft(row_number().over(w) > 1)(_ && _)
    when(tied, raise_error(concat(
      lit(s"$op: order is not a unique total order, duplicate order tuple "),
      struct(okCols: _*).cast("string"), lit(s" — $why"))))
      .otherwise(value)
  }

  /** The sizing rule the sf10 rehearsal measured (PLANS r19 triage): each
    * range bucket is sorted by ONE task, so the sort stays in memory only
    * while `bucketBytes ~ inputBytes / numBuckets` fits the per-task
    * execution-memory share, `executorHeap x spark.memory.fraction x
    * (1 - spark.memory.storageFraction) / coresPerExecutor`. Past that
    * boundary the sort still completes correctly but spills, and wall
    * time inflates by pure spill I/O (the q_global_lag 18.5x-vs-8.5x
    * slope gap at sf10/8g). On a real cluster the share grows with the
    * executor count, so crossing it is a deployment-sizing fact, not a
    * plan defect — surface it as a log warning a deployer can act on. */
  private def warnIfBucketsLikelySpill(keyed: DataFrame, buckets: Int): Unit =
    try {
      val spark = keyed.sparkSession
      val inBytes = keyed.queryExecution.optimizedPlan.stats.sizeInBytes
      // catalyst's "unknown" default is Long.MaxValue-scale — skip those
      if (inBytes > 0 && inBytes < BigInt(Long.MaxValue) / 4) {
        val heap = spark.conf.getOption("spark.executor.memory")
          .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
          .getOrElse(Runtime.getRuntime.maxMemory)
        // the share divides ONE executor's heap by that executor's task
        // slots: spark.executor.cores on a cluster; local mode has a
        // single "executor" whose slot count IS defaultParallelism
        val cores = spark.conf.getOption("spark.executor.cores")
          .map(_.toInt)
          .getOrElse(math.max(1, spark.sparkContext.defaultParallelism))
        val frac = spark.conf.getOption("spark.memory.fraction")
          .map(_.toDouble).getOrElse(0.6)
        val storage = spark.conf.getOption("spark.memory.storageFraction")
          .map(_.toDouble).getOrElse(0.5)
        val share = (heap * frac * (1 - storage) / cores).toLong
        val perBucket = (inBytes / math.max(1, buckets)).toLong
        if (perBucket > share)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"global-sort range buckets likely to spill: ~${perBucket >> 20} " +
              s"MiB/bucket vs ~${share >> 20} MiB per-task execution share " +
              s"(${cores}-way, ${heap >> 20} MiB executor heap). Correct but " +
              "slower by spill I/O; grow executor memory or parallelism.")
      }
    } catch { case scala.util.control.NonFatal(_) => () }
}
