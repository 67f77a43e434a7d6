package graft.perfbench

import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, XXH64}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A write sink shaped like Spark's `noop` format (a V2 batch write that
  * accepts any schema and keeps nothing) that also fingerprints what it is
  * handed. Timing a row through it computes every projected column, as the
  * noop write does, and yields the row's result fingerprint in the same
  * execution, so checking outputs needs no second run of the row.
  *
  * The fingerprint is order-insensitive: each row is projected onto its
  * columns sorted by name, its UnsafeRow bytes are hashed with two XXH64
  * seeds, and the per-row hashes are summed, so neither row order,
  * partitioning nor column order changes it. Doubles hash by bit pattern,
  * so -0.0 and 0.0 differ, as they do for the DuckDB oracle check. */
object Fingerprint {
  private val last = new AtomicReference[String]()

  /** Write `df` through the sink and return its fingerprint. */
  def of(df: DataFrame): String = {
    last.set(null)
    df.write.format(classOf[FingerprintSource].getName).mode("overwrite").save()
    last.getAndSet(null)
  }

  /** `rows:schemaHash:hashA:hashB`, all hex except the row count. */
  private[perfbench] def render(schema: StructType, rows: Long, a: Long, b: Long): String = {
    val cols = schema.fields.sortBy(_.name).map(f => s"${f.name}:${f.dataType.catalogString}")
    val bytes = cols.mkString(",").getBytes("UTF-8")
    val h = XXH64.hashUnsafeBytes(bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
      bytes.length, 0L)
    f"$rows:$h%016x:$a%016x:$b%016x"
  }

  private[perfbench] def publish(s: String): Unit = last.set(s)
}

class FingerprintSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = FingerprintTable
}

object FingerprintTable extends Table with SupportsWrite {
  override def name(): String = "perfbench-fingerprint"
  override def schema(): StructType = new StructType()
  override def capabilities(): java.util.Set[TableCapability] = Set(
    TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
    TableCapability.ACCEPT_ANY_SCHEMA).asJava
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new FingerprintWrite(info.schema())
      }
    }
}

final case class Partial(rows: Long, a: Long, b: Long) extends WriterCommitMessage

class FingerprintWrite(schema: StructType) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new FingerprintWriterFactory(schema)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val ps = messages.collect { case p: Partial => p }
    Fingerprint.publish(Fingerprint.render(schema, ps.map(_.rows).sum,
      ps.map(_.a).sum, ps.map(_.b).sum))
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

class FingerprintWriterFactory(schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new FingerprintWriter(schema)
}

class FingerprintWriter(schema: StructType) extends DataWriter[InternalRow] {
  private val project = UnsafeProjection.create(
    schema.fields.zipWithIndex.sortBy(_._1.name).map { case (f, i) =>
      BoundReference(i, f.dataType, f.nullable) }.toSeq)
  private var rows, a, b = 0L

  override def write(record: InternalRow): Unit = {
    val u = project(record)
    rows += 1
    a += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 17L)
    b += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 4099L)
  }
  override def commit(): WriterCommitMessage = Partial(rows, a, b)
  override def abort(): Unit = ()
  override def close(): Unit = ()
}
