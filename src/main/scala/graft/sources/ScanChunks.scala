package graft.sources

import java.io.{BufferedInputStream, File, FileInputStream}
import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** One contiguous byte range of one data file — the connector's unit of
  * scan parallelism. A whole file is `FileChunk(path, 0, fileLength)`. */
final case class FileChunk(path: String, start: Long, length: Long) {
  def wholeFile: Boolean = start == 0L && length == new File(path).length()
}

/** Key-range partition fan-out for the file connector (reference: the
  * planner splits one logical source scan into partition-parallel fragments,
  * dataux planner/sql_master.go:75-98, and injects per-partition key ranges
  * into the backend query, backends/mongo/sql_to_mgo.go:189-210). Two
  * mechanisms:
  *   - large JSONL files split at line boundaries into byte-range chunks
  *     (one record per line, so any offset resolves to the next newline —
  *     the Hadoop LineRecordReader convention). CSV never splits: quoted
  *     embedded newlines make byte offsets ambiguous without a sync scan.
  *   - chunks (costed `length + openCostInBytes`) pack largest first into
  *     the least-loaded of `parallelism` partitions, or of
  *     ⌈total cost / maxPartitionBytes⌉ when that is more (never more
  *     than the chunks): no partition exceeds maxPartitionBytes plus one
  *     chunk, and near-equal files fill one wave of equal tasks.
  *
  * At 100 TB this is the difference between a 100 GB single-file table
  * scanning on one task and scanning on ~800.
  */
object ScanChunks {

  /** [[plan]] under the session's file confs and default parallelism. */
  def plan(files: Seq[String], splittable: Boolean): Seq[Seq[FileChunk]] = {
    val conf = org.apache.spark.sql.internal.SQLConf.get
    plan(files.map(f => f -> new File(f).length()), splittable, conf.filesMaxPartitionBytes,
      conf.filesOpenCostInBytes, math.max(1, SparkSession.active.sparkContext.defaultParallelism))
  }

  /** Plan `(path, length)` files into partitions of chunks, large splittable
    * ones split at Spark's `maxSplitBytes`. Every byte lands in exactly one
    * chunk and partition; deterministic (ties go to the earlier chunk and
    * the lower partition, which keeps its chunks in input order). */
  def plan(files: Seq[(String, Long)], splittable: Boolean, maxPartBytes: Long,
      openCost: Long, parallelism: Int): Seq[Seq[FileChunk]] = {
    val maxSplit = math.min(maxPartBytes,
      math.max(openCost, files.map(_._2 + openCost).sum / parallelism))
    val chunks = files.flatMap { case (p, len) =>
      if (splittable && maxSplit > 0 && len > maxSplit)
        (0L until len by maxSplit).map(s => FileChunk(p, s, math.min(maxSplit, len - s)))
      else Seq(FileChunk(p, 0L, len))
    }.toIndexedSeq
    val total = chunks.map(_.length + openCost).sum
    val bins = math.min(chunks.size.toLong,
      math.max(parallelism.toLong, (total + maxPartBytes - 1) / maxPartBytes)).toInt
    val load = new Array[Long](bins)
    val members = Array.fill(bins)(ArrayBuffer.empty[Int])
    val free = new java.util.PriorityQueue[Int](Ordering.by((b: Int) => (load(b), b)))
    (0 until bins).foreach(free.add)
    chunks.indices.sortBy(i => -chunks(i).length).foreach { i =>
      val b = free.poll()
      members(b) += i; load(b) += chunks(i).length + openCost
      free.add(b)
    }
    members.toSeq.map(_.sorted.map(chunks).toSeq)
  }

  /** Records of one partition's chunk list through `codec`. */
  def records(
      chunks: Seq[FileChunk], codec: FileCodec,
      schema: StructType): Iterator[Array[Any]] with AutoCloseable =
    open(chunks) { c =>
      codec match {
        case JsonCodec => // line-oriented: any byte range works
          val lines = new ChunkLineIterator(new File(c.path), c.start, c.length)
          (JsonCodec.lineRecords(lines, schema), lines)
        case _ => // csv: whole files only (planner never splits them)
          require(c.wholeFile, s"non-splittable chunk: $c")
          val in = FileCodec.utf8Reader(new File(c.path))
          (codec.reader(in, schema), in)
      }
    }

  /** The items `read` gives for each chunk in turn, each chunk opened
    * lazily and closed when drained (at most one file handle live per
    * task). */
  def open[T](chunks: Seq[FileChunk])(
      read: FileChunk => (Iterator[T], AutoCloseable)): Iterator[T] with AutoCloseable =
    new Iterator[T] with AutoCloseable {
      private var i = 0
      private var cur: Iterator[T] = Iterator.empty
      private var handle: AutoCloseable = null

      private def closeCur(): Unit = if (handle != null) { handle.close(); handle = null }

      @scala.annotation.tailrec
      private def ensure(): Boolean =
        if (cur.hasNext) true
        else if (i >= chunks.size) { closeCur(); false }
        else {
          closeCur()
          val (items, h) = read(chunks(i))
          i += 1; handle = h; cur = items
          ensure()
        }

      override def hasNext: Boolean = ensure()
      override def next(): T = { ensure(); cur.next() }
      override def close(): Unit = closeCur()
    }
}

/** UTF-8 lines of the byte range [start, start+length) of a file, with the
  * Hadoop LineRecordReader split convention: a line belongs to the chunk
  * containing its first byte. A chunk with start > 0 seeks to start-1 and
  * discards through the first newline (consuming exactly the tail of the
  * previous chunk's last line — or just its terminator when the boundary
  * falls on a line start); it then emits lines while their first byte is
  * before the end boundary, reading the final line to completion past it.
  */
final class ChunkLineIterator(file: File, start: Long, length: Long)
  extends Iterator[String] with AutoCloseable {

  private val in = new BufferedInputStream(new FileInputStream(file), 64 * 1024)
  private val end = start + length // exclusive first byte of the next chunk
  private var pos: Long = 0L
  private val buf = new java.io.ByteArrayOutputStream(256)

  if (start > 0) {
    var toSkip = start - 1
    while (toSkip > 0) {
      val skipped = in.skip(toSkip)
      if (skipped <= 0) toSkip = 0 else toSkip -= skipped
    }
    pos = start - 1
    readRawLine() // discard the partial line crossing the boundary
  }

  /** Read one raw line (advancing pos past its terminator); null at EOF
    * with no bytes. CR of CRLF is stripped from the returned text. */
  private def readRawLine(): String = {
    buf.reset()
    var b = in.read()
    if (b < 0) return null
    while (b >= 0 && b != '\n') {
      buf.write(b); pos += 1
      b = in.read()
    }
    if (b == '\n') pos += 1
    val bytes = buf.toByteArray
    val n = if (bytes.nonEmpty && bytes(bytes.length - 1) == '\r') bytes.length - 1 else bytes.length
    new String(bytes, 0, n, StandardCharsets.UTF_8)
  }

  private var nextLine: String = advance()

  private def advance(): String =
    if (pos >= end) null else readRawLine()

  override def hasNext: Boolean = nextLine != null
  override def next(): String = {
    val l = nextLine
    nextLine = advance()
    l
  }
  override def close(): Unit = in.close()
}
