package graft.sources

import java.io.{BufferedWriter, File}

import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.{AlwaysTrue, Filter}
import org.apache.spark.sql.types.{DataType, StructType}

/** Append write path for [[FileTable]] — the connector's insert sink
  * (reference: per-backend `CreateMutator`/`Put` upserts,
  * dataux backends/cassandra/sql_to_cql.go:246-361).
  *
  * Standard two-phase file commit: each task writes a hidden
  * `.tmp-<query>-<partition>` file, the driver renames all temp files to
  * visible `part-*` files in `commit()` and deletes them in `abort()`, so
  * readers never observe a partial write. One output file per input
  * partition preserves upstream parallelism — at cluster scale the table
  * accumulates many part files, which is exactly what the one-partition-
  * per-file scan side wants. Empty partitions produce no file.
  *
  * Bucketed tables (TBLPROPERTIES 'buckets' = N on a keyed table) route
  * each row to one of N bucket files per task by [[GraftBucket]] hash of
  * the first key column; the file's bucket id is recorded in the sidecar
  * and drives storage-partitioned joins on the scan side.
  */
class FileWriteBuilder(
    table: FileTable, dirPath: String, format: String,
    schema: StructType, queryId: String)
  extends WriteBuilder with SupportsOverwrite {

  private var overwriteFilters: Array[Filter] = Array.empty

  /** INSERT OVERWRITE / REPLACE TABLE: matching rows are removed in the
    * driver-side commit (before the new part files become visible), so a
    * reader sees either the old or the new data, never a mix of halves.
    * Truncate (`AlwaysTrue`) deletes the old part files outright. */
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    val unsupported = filters.filterNot {
      case _: AlwaysTrue => true
      case f => table.acceptsFilter(f)
    }
    if (unsupported.nonEmpty)
      throw new UnsupportedOperationException(
        s"overwrite by ${unsupported.mkString(", ")} not supported")
    overwriteFilters = filters
    this
  }

  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new FileBatchWrite(table, dirPath, format, schema, queryId, overwriteFilters)
    override def description(): String = s"GraftFileWrite format=$format dir=$dirPath"
  }
}

/** One finished output file: keyMin/keyMax are the rendered min/max of the
  * table's first declared key column over the file's rows (null = no keys
  * or no non-null values), rows its row count, bucket its bucket id (-1 =
  * unbucketed table). */
final case class FileEntry(
    tmpPath: String, finalName: String,
    keyMin: String, keyMax: String, rows: Long, bucket: Int)

/** Commit message: every file this task produced (one for plain tables,
  * up to `buckets` for bucketed tables). */
final case class FileCommitMessage(entries: Seq[FileEntry])
  extends WriterCommitMessage

class FileBatchWrite(
    table: FileTable, dirPath: String, format: String,
    schema: StructType, queryId: String,
    overwriteFilters: Array[Filter] = Array.empty)
  extends BatchWrite {

  // index of the table's first declared key column (range metadata unit)
  private val keyIdx: Int = table.keys.headOption
    .map(k => schema.fieldNames.indexWhere(_.equalsIgnoreCase(k))).getOrElse(-1)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new FileDataWriterFactory(dirPath, format, schema.json, queryId, keyIdx,
      table.buckets)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    if (overwriteFilters.nonEmpty) table.deleteWhere(overwriteFilters)
    val entries = messages.flatMap {
      case FileCommitMessage(es) => es
      case null => Nil // empty partition
    }
    entries.foreach { e =>
      val t = new File(e.tmpPath)
      if (t.isFile && !t.renameTo(new File(new File(dirPath), e.finalName)))
        throw new IllegalStateException(
          s"commit rename failed: ${e.tmpPath} -> ${e.finalName}")
    }
    // record per-file metadata alongside the data (driver-side, after the
    // renames): key ranges for get-by-key pruning, row counts for planner
    // statistics, bucket ids for storage-partitioned joins
    KeyRanges.merge(new File(dirPath), entries.map { e =>
      e.finalName -> FileMeta(e.keyMin, e.keyMax, e.rows, e.bucket)
    }.toMap)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case FileCommitMessage(es) => es.foreach(e => new File(e.tmpPath).delete())
      case null =>
    }
}

class FileDataWriterFactory(
    dirPath: String, format: String, schemaJson: String, queryId: String,
    keyIdx: Int = -1, buckets: Int = 0)
  extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new FileDataWriter(dirPath, format, schemaJson, queryId, partitionId,
      taskId, keyIdx, buckets)
}

class FileDataWriter(
    dirPath: String, format: String, schemaJson: String,
    queryId: String, partitionId: Int, taskId: Long, keyIdx: Int = -1,
    buckets: Int = 0)
  extends DataWriter[InternalRow] {

  private val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
  private val codec = FileCodec.forFormat(format)
  private val toScala = schema.fields.map(f =>
    CatalystTypeConverters.createToScalaConverter(f.dataType))

  /** Per-output-file state, keyed by bucket id (single entry -1 for
    * unbucketed tables). Writers open lazily: empty buckets write no file. */
  private final class Sink(val bucket: Int) {
    private val suffix = if (bucket >= 0) f"-b$bucket%04d" else ""
    val tmp = new File(dirPath, f".tmp-$queryId-$partitionId%05d-$taskId$suffix")
    val finalName = f"part-$queryId-$partitionId%05d$suffix.${codec.extension}"
    var out: BufferedWriter = _
    var keyMin: Any = null
    var keyMax: Any = null
    var rows = 0L
  }
  private val sinks = scala.collection.mutable.LinkedHashMap.empty[Int, Sink]

  override def write(record: InternalRow): Unit = {
    val ext = Array.tabulate[Any](schema.length) { i =>
      if (record.isNullAt(i)) null
      else toScala(i)(record.get(i, schema.fields(i).dataType))
    }
    val bucket =
      if (buckets > 0) GraftBucket.of(ext(keyIdx), buckets)
      else -1
    val s = sinks.getOrElseUpdate(bucket, new Sink(bucket))
    if (s.out == null) {
      s.tmp.getParentFile.mkdirs()
      s.out = FileCodec.utf8Writer(s.tmp)
      codec.writeHeader(s.out, schema)
    }
    if (keyIdx >= 0 && ext(keyIdx) != null) {
      val k = ext(keyIdx)
      if (s.keyMin == null || FilterEval.cmp(k, s.keyMin).exists(_ < 0)) s.keyMin = k
      if (s.keyMax == null || FilterEval.cmp(k, s.keyMax).exists(_ > 0)) s.keyMax = k
    }
    s.rows += 1
    codec.write(s.out, ext, schema)
  }

  override def commit(): WriterCommitMessage = {
    val entries = sinks.values.filter(_.out != null).map { s =>
      s.out.close(); s.out = null
      FileEntry(s.tmp.getPath, s.finalName,
        LineCodec.render(s.keyMin), LineCodec.render(s.keyMax), s.rows, s.bucket)
    }.toSeq
    if (entries.isEmpty) null else FileCommitMessage(entries)
  }

  override def abort(): Unit = close()

  override def close(): Unit =
    sinks.values.foreach { s =>
      if (s.out != null) { s.out.close(); s.out = null; s.tmp.delete() }
    }
}
