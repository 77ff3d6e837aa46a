package graft.sources

import java.io.{BufferedWriter, File}
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{DataType, StructType}

/** Append write path for [[FileTable]] — the connector's insert sink
  * (reference: per-backend `CreateMutator`/`Put` upserts,
  * dataux backends/cassandra/sql_to_cql.go:246-361).
  *
  * Standard two-phase file commit: each task writes its rows through
  * [[PartFileSink]]s into hidden `.tmp-<query>-<partition>` files, and the
  * driver lands them in the one [[PartFileSink.commit]] (renames into
  * visible `part-*` files, one `_keyranges.json` write) or deletes them in
  * `abort()`, so readers never observe a partial file. One output file per
  * input partition preserves upstream parallelism — at cluster scale the
  * table accumulates many part files, which is exactly what the one-
  * partition-per-file scan side wants. Empty partitions produce no file.
  *
  * Bucketed tables (TBLPROPERTIES 'buckets' = N on a keyed table) route
  * each row to one of N bucket files per task by [[GraftBucket]] hash of
  * the first key column; the file's bucket id is recorded in the sidecar
  * and drives storage-partitioned joins on the scan side.
  */
class FileWriteBuilder(table: FileTable, queryId: String)
  extends WriteBuilder with SupportsTruncate {

  private var truncating = false

  /** INSERT OVERWRITE / REPLACE TABLE / OPTIMIZE: the table's part files,
    * listed at commit before the new files are renamed in, are deleted in
    * the same commit. Not atomic for readers: one that lists the directory
    * mid-commit can see both the old and the new files. */
  override def truncate(): WriteBuilder = {
    truncating = true
    this
  }

  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new FileBatchWrite(table, queryId, truncating)
    override def description(): String = s"GraftFileWrite format=${table.format} dir=${table.dir}"
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

/** Driver side of an INSERT: every task's files land in the one
  * [[PartFileSink.commit]], together with a TRUNCATE's deletions. */
class FileBatchWrite(table: FileTable, queryId: String, truncate: Boolean)
  extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new FileDataWriterFactory(table.dir.getPath, table.format, table.schema0.json, queryId,
      table.keyIdx, table.buckets)

  // an empty partition's message is null
  private def entries(messages: Array[WriterCommitMessage]): Seq[FileEntry] =
    messages.toSeq.collect { case FileCommitMessage(es) => es }.flatten

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    PartFileSink.commit(table.dir, entries(messages),
      emptied = if (truncate) table.dataFiles() else Nil)

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    entries(messages).foreach(e => new File(e.tmpPath).delete())
}

class FileDataWriterFactory(
    dirPath: String, format: String, schemaJson: String, queryId: String,
    keyIdx: Int, buckets: Int)
  extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new FileDataWriter(dirPath, format, schemaJson, queryId, partitionId,
      taskId, keyIdx, buckets)
}

/** One task's output: one [[PartFileSink]] per bucket (a single one, -1,
  * for unbucketed tables), opened by the bucket's first row. */
class FileDataWriter(
    dirPath: String, format: String, schemaJson: String,
    queryId: String, partitionId: Int, taskId: Long, keyIdx: Int, buckets: Int)
  extends DataWriter[InternalRow] {

  private val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
  private val codec = FileCodec.forFormat(format)
  private val toScala = schema.fields.map(f =>
    CatalystTypeConverters.createToScalaConverter(f.dataType))
  private val sinks = scala.collection.mutable.LinkedHashMap.empty[Int, PartFileSink]

  override def write(record: InternalRow): Unit =
    write(Array.tabulate[Any](schema.length) { i =>
      if (record.isNullAt(i)) null
      else toScala(i)(record.get(i, schema.fields(i).dataType))
    })

  /** Route one external-typed row to its bucket's file. */
  def write(row: Array[Any]): Unit = {
    val bucket =
      if (buckets > 0) GraftBucket.of(row(keyIdx), buckets)
      else -1
    sinks.getOrElseUpdate(bucket, {
      val suffix = if (bucket >= 0) f"-b$bucket%04d" else ""
      new PartFileSink(codec, schema, keyIdx,
        new File(dirPath, f".tmp-$queryId-$partitionId%05d-$taskId$suffix"),
        f"part-$queryId-$partitionId%05d$suffix.${codec.extension}", bucket)
    }).write(row)
  }

  /** Close every file this task wrote. */
  def finish(): Seq[FileEntry] = sinks.values.flatMap(_.finish()).toSeq

  override def commit(): WriterCommitMessage =
    Option(finish()).filter(_.nonEmpty).map(FileCommitMessage).orNull

  override def abort(): Unit = close()

  override def close(): Unit = sinks.values.foreach(_.abort())
}

/** One part file written on an executor: the one sink behind every write
  * to a [[FileTable]] — an INSERT task's files ([[FileDataWriter]]) and a
  * [[PartFileRewrite]] pass's rewritten and appended files alike. The
  * first row opens `tmp` and writes the codec header; each row moves the
  * first key's min/max ([[FilterEval.cmp]]) and the row count. */
final class PartFileSink(
    codec: FileCodec, schema: StructType, keyIdx: Int,
    tmp: File, finalName: String, bucket: Int) {

  private var out: BufferedWriter = _
  private var keyMin: Any = null
  private var keyMax: Any = null
  private var rows = 0L

  def write(row: Array[Any]): Unit = {
    if (out == null) {
      tmp.getParentFile.mkdirs()
      out = FileCodec.utf8Writer(tmp)
      codec.writeHeader(out, schema)
    }
    if (keyIdx >= 0 && row(keyIdx) != null) {
      val k = row(keyIdx)
      if (keyMin == null || FilterEval.cmp(k, keyMin).exists(_ < 0)) keyMin = k
      if (keyMax == null || FilterEval.cmp(k, keyMax).exists(_ > 0)) keyMax = k
    }
    rows += 1
    codec.write(out, row, schema)
  }

  /** Close the temp and describe it; None when no row was written (then
    * no temp exists). */
  def finish(): Option[FileEntry] =
    if (out == null) None
    else {
      out.close(); out = null
      Some(FileEntry(tmp.getPath, finalName,
        LineCodec.render(keyMin), LineCodec.render(keyMax), rows, bucket))
    }

  /** Close and delete an unfinished temp. */
  def abort(): Unit =
    if (out != null) { out.close(); out = null; tmp.delete() }
}

object PartFileSink {

  /** The one driver-side commit of every write to a [[FileTable]] in
    * `dir`: each written file's temp moves into place (a new part file, or
    * a rewritten one atomically replacing its original), then each emptied
    * file is deleted, then `_keyranges.json` records the written files'
    * ranges, row counts and buckets and drops the emptied files' entries,
    * in one write. Every step is checked; the commit as a whole is not
    * atomic (the connector has no transaction log). */
  def commit(dir: File, written: Seq[FileEntry], emptied: Seq[File]): Unit = {
    written.foreach { e =>
      Files.move(new File(e.tmpPath).toPath, new File(dir, e.finalName).toPath,
        StandardCopyOption.ATOMIC_MOVE)
    }
    emptied.foreach { f =>
      if (!f.delete())
        throw new IllegalStateException(s"commit could not delete ${f.getPath}")
    }
    KeyRanges.merge(dir, written.map { e =>
      e.finalName -> FileMeta(e.keyMin, e.keyMax, e.rows, e.bucket)
    }.toMap, drop = emptied.map(_.getName).toSet)
  }
}
