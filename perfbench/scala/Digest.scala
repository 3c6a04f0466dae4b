package perfbench

import java.util
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Result digest of one shot: row count plus an order-insensitive row hash.
  * Doubles are rounded to float precision before hashing, so a sum whose
  * last bits depend on shuffle fetch order still digests the same. */
final case class Digest(rows: Long, hash: Long) {
  override def toString: String = f"$rows:$hash%016x"
}

/** A write-only DataSource V2 sink, used like the `noop` sink: the write
  * executes the whole plan, and each task folds its rows into a partial
  * [[Digest]] that the driver sums on commit. */
class DigestSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = new DigestTable(schema)
}

object DigestSink {
  /** Digest of the last committed write. */
  val last = new AtomicReference[Digest]()

  private val Seed = 42L

  def hashValue(v: Any, t: DataType, h: Long): Long = v match {
    case null => XXH64.hashLong(0x5bd1e995L, h)
    case _ => t match {
      case DoubleType =>
        XXH64.hashInt(java.lang.Float.floatToIntBits(v.asInstanceOf[Double].toFloat), h)
      case FloatType => XXH64.hashInt(java.lang.Float.floatToIntBits(v.asInstanceOf[Float]), h)
      case st: StructType => hashRow(v.asInstanceOf[InternalRow], st, h)
      case at: ArrayType =>
        val a = v.asInstanceOf[ArrayData]
        var acc = XXH64.hashInt(a.numElements(), h)
        var i = 0
        while (i < a.numElements()) {
          acc = hashValue(if (a.isNullAt(i)) null else a.get(i, at.elementType), at.elementType, acc)
          i += 1
        }
        acc
      case mt: MapType =>
        val m = v.asInstanceOf[MapData]
        var acc = 0L
        var i = 0
        while (i < m.numElements()) {
          val k = hashValue(m.keyArray().get(i, mt.keyType), mt.keyType, Seed)
          acc += hashValue(
            if (m.valueArray().isNullAt(i)) null else m.valueArray().get(i, mt.valueType),
            mt.valueType, k)
          i += 1
        }
        XXH64.hashLong(acc, h)
      case _ => v match {
        case l: Long => XXH64.hashLong(l, h)
        case i: Int => XXH64.hashInt(i, h)
        case s: Short => XXH64.hashInt(s.toInt, h)
        case b: Byte => XXH64.hashInt(b.toInt, h)
        case b: Boolean => XXH64.hashInt(if (b) 1 else 0, h)
        case bs: Array[Byte] => XXH64.hashLong(util.Arrays.hashCode(bs).toLong, XXH64.hashInt(bs.length, h))
        case other => hashString(other.toString, h)
      }
    }
  }

  private def hashString(s: String, h: Long): Long = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var acc = XXH64.hashInt(b.length, h)
    var i = 0
    while (i + 8 <= b.length) {
      acc = XXH64.hashLong(java.nio.ByteBuffer.wrap(b, i, 8).getLong, acc)
      i += 8
    }
    while (i < b.length) { acc = XXH64.hashInt(b(i).toInt, acc); i += 1 }
    acc
  }

  def hashRow(r: InternalRow, st: StructType, h: Long): Long = {
    var acc = h
    var i = 0
    while (i < st.length) {
      val t = st(i).dataType
      acc = hashValue(if (r.isNullAt(i)) null else r.get(i, t), t, acc)
      i += 1
    }
    acc
  }

  def rowHash(r: InternalRow, st: StructType): Long = hashRow(r, st, Seed)
}

private class DigestTable(schema0: StructType) extends Table with SupportsWrite {
  override def name(): String = "perfbench_digest"
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.ACCEPT_ANY_SCHEMA)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val st = info.schema()
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new DigestBatchWrite(st)
      }
    }
  }
}

private final case class PartDigest(rows: Long, hash: Long) extends WriterCommitMessage

private class DigestBatchWrite(st: StructType) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new DigestWriterFactory(st)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val parts = messages.collect { case p: PartDigest => p }
    DigestSink.last.set(Digest(parts.map(_.rows).sum, parts.map(_.hash).sum))
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = DigestSink.last.set(null)
}

private class DigestWriterFactory(st: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private var rows = 0L
      private var hash = 0L
      override def write(r: InternalRow): Unit = {
        rows += 1
        hash += DigestSink.rowHash(r, st)
      }
      override def commit(): WriterCommitMessage = PartDigest(rows, hash)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}
