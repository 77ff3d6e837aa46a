package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{DataType, StructType}

/** The INSERT path every wire sink shares (Mongo, CQL, BigQuery,
  * Datastore, BigTable): builder, write and batch write in one, differing
  * per connector only in the task-side writer factory. Driver-side
  * commit and abort are no-ops — each task ships its own batches, and
  * none of the backends is a transactional sink. */
class WireBatchWrite(factory: DataWriterFactory)
  extends WriteBuilder with Write with BatchWrite {
  override def build(): Write = this
  override def toBatch: BatchWrite = this
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    factory
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

/** Shared buffered-POST writer scaffold for the HTTP-profile wire sinks
  * (Datastore `:commit`, BigTable `:mutateRows`, BigQuery `insertAll`).
  * Each task buffers rows, ships every [[HttpBatchWriterFactory.BatchRows]]
  * as ONE request rendered by the connector's [[send]], and commit
  * flushes the tail. Abort clears only the unsent buffer — batches
  * already on the wire stay (at-least-once per batch, the reference's
  * row-Put semantics; none of these services are transactional sinks).
  * Executor-safe: the factory carries plain strings/config and builds
  * its own pooled client per task.
  */
abstract class HttpBatchWriterFactory(baseUrl: String, cfg: HttpRestConfig,
    schemaJson: String) extends DataWriterFactory {

  /** Render and POST one buffered batch (rows are external-typed). */
  protected def send(client: HttpRestClient, schema: StructType,
      rows: Seq[Row]): Unit

  final override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] = {
    val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    val client = new HttpRestClient(baseUrl, cfg)
    val toScala = CatalystTypeConverters.createToScalaConverter(schema)
    new DataWriter[InternalRow] {
      private val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
      private def flush(): Unit = if (buf.nonEmpty) {
        send(client, schema, buf.toSeq)
        buf.clear()
      }
      override def write(record: InternalRow): Unit = {
        buf += toScala(record).asInstanceOf[Row]
        if (buf.size >= HttpBatchWriterFactory.BatchRows) flush()
      }
      override def commit(): WriterCommitMessage = {
        flush()
        new WriterCommitMessage {}
      }
      override def abort(): Unit = buf.clear()
      override def close(): Unit = ()
    }
  }
}

object HttpBatchWriterFactory {
  /** Rows per wire request — matches the Mongo/CQL sinks' batch size. */
  val BatchRows = 256
}
