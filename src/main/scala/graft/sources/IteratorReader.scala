package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader

/** The partition reader every connector returns: it walks `rows` and runs
  * `onClose` when Spark closes it (a client or an input to release). */
object IteratorReader {
  def apply(rows: Iterator[InternalRow], onClose: => Unit = ()): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean =
        if (rows.hasNext) { current = rows.next(); true } else false
      override def get(): InternalRow = current
      override def close(): Unit = onClose
    }
}
