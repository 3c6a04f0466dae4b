package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.api.DataTable

/** Shared Spark session + golden-compare helpers for the test kit.
  *
  * Comparator semantics follow SURVEY.md §1.2: float comparisons use the
  * reference's epsilon (`almostEqual`, `value.nim:393-408` — 1e-8
  * relative), confined to the TEST comparator; engine queries use exact
  * SQL equality (SURVEY.md §7.5 risk 3).
  */
trait SparkSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSpec.session

  /** Collect one column as a Seq (driver-side; test kit only). */
  def colSeq(dt: DataTable, c: String): Seq[Any] =
    dt.df.select(c).collect().toSeq.map(_.get(0))

  def colLongs(dt: DataTable, c: String): Seq[Long] =
    colSeq(dt, c).map {
      case n: Long => n
      case n: Int => n.toLong
      case x => fail(s"column $c: expected integer, got $x (${x.getClass})")
    }

  def colDoubles(dt: DataTable, c: String): Seq[Double] =
    colSeq(dt, c).map {
      case d: Double => d
      case f: Float => f.toDouble
      case x => fail(s"column $c: expected double, got $x (${x.getClass})")
    }

  def colStrings(dt: DataTable, c: String): Seq[String] =
    colSeq(dt, c).map(v => if (v == null) null else v.toString)

  /** Reference epsilon equality (`value.nim:393-408`). */
  def almostEqual(x: Double, y: Double, eps: Double = 1e-8): Boolean =
    if (x.isNaN && y.isNaN) true
    else if (x == y) true
    else math.abs(x - y) <= eps * math.max(math.abs(x), math.abs(y))

  def assertAllClose(got: Seq[Double], want: Seq[Double], eps: Double = 1e-6): Unit = {
    assert(got.length == want.length, s"length ${got.length} != ${want.length}")
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(almostEqual(g, w, eps), s"at $i: $g != $w")
    }
  }

  def rowCount(df: DataFrame): Long = df.count()

  /** Runs `f` with the given session confs set, then restores them. */
  def withSQLConf(pairs: (String, String)*)(f: => Unit): Unit = {
    val conf = spark.conf
    val olds = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try f
    finally olds.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession =
    GraftSession.local(cpus = 4, shufflePartitions = 4, logLevel = "WARN")
}
