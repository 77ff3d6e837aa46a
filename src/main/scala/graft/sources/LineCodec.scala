package graft.sources

import java.io.{BufferedReader, Writer}
import java.time.format.DateTimeFormatter
import java.time.{Instant, LocalDate, ZoneOffset}

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Record codecs for the file connector: CSV (with header) and JSONL.
  *
  * The reference's file source reads CSV/JSON files as tables
  * (dataux backends/files/filesource_test.go:258-304); this is the Spark-
  * native equivalent. The codec defines a deterministic, round-trip-exact
  * text encoding so connector results hash-match the parquet originals:
  *   - longs/ints via toString; doubles via Double.toString (shortest
  *     round-trip form, exact on re-parse);
  *   - timestamps as ISO-8601 UTC with fixed 6-digit micros;
  *   - dates as yyyy-MM-dd;
  *   - CSV: null = empty unquoted field, empty string = "" (quoted);
  *     quotes/commas/newlines quoted with "" escaping.
  *
  * A cell that does not parse as its column's type fails the read that
  * decodes it. The CSV row scan (`CsvRowScan`) decodes a record's pushed-
  * filter columns first and its other columns only when the record
  * passes, so a malformed cell in a rejected record goes unread there;
  * the aggregate scan, the keyed DELETE/UPDATE rewrite and streaming
  * decode every column of every record ([[CsvCodec.reader]]) and fail
  * on it.
  *
  * Schema inference samples the first [[FileCodec.SampleRows]] records and
  * widens per column (long → double → bool → timestamp → date → string),
  * mirroring the reference's sample-based schema discovery
  * (backends/mongo/mgo_source.go:269-311).
  */
object LineCodec {

  val SampleRows = 1000

  private val TsFmt = DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
    .withZone(ZoneOffset.UTC)
  private val NtzFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
  private val TsPat = """\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{6}Z""".r
  private val NtzPat = """\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{6}""".r
  private val DatePat = """\d{4}-\d{2}-\d{2}""".r

  // ---- scalar value <-> text -------------------------------------------

  /** External-typed value → text cell. Null → null (caller encodes). */
  def render(v: Any): String = v match {
    case null => null
    case s: String => s
    case t: java.sql.Timestamp => TsFmt.format(t.toInstant)
    case i: Instant => TsFmt.format(i)
    case dt: java.time.LocalDateTime => NtzFmt.format(dt) // TIMESTAMP_NTZ
    case d: java.sql.Date => d.toString
    case d: LocalDate => d.toString
    case d: java.lang.Double => d.toString
    case f: java.lang.Float => f.toString
    case other => other.toString
  }

  /** Text cell → external-typed value per the declared field type. */
  def parse(cell: String, dt: DataType): Any =
    if (cell == null) null
    else dt match {
      case LongType => java.lang.Long.valueOf(cell.trim)
      case IntegerType => java.lang.Integer.valueOf(cell.trim)
      case ShortType => java.lang.Short.valueOf(cell.trim)
      case ByteType => java.lang.Byte.valueOf(cell.trim)
      case DoubleType => java.lang.Double.valueOf(cell.trim)
      case FloatType => java.lang.Float.valueOf(cell.trim)
      case BooleanType => java.lang.Boolean.valueOf(cell.trim)
      case TimestampType =>
        java.sql.Timestamp.from(Instant.from(TsFmt.parse(cell.trim)))
      case TimestampNTZType => java.time.LocalDateTime.parse(cell.trim, NtzFmt)
      case DateType => java.sql.Date.valueOf(cell.trim)
      case _ => cell
    }

  // ---- fixed-format text -> unboxed value ------------------------------

  /** What [[fixedLong]] returns for text outside its form; the caller
    * then takes the general path ([[parse]]), so every text reads to the
    * same value either way. */
  val NotFixed: Long = Long.MinValue

  /** Digits cs[at, at+n) as a number; -1 unless all are ASCII digits. */
  private def digits(cs: Array[Char], at: Int, n: Int): Long = {
    var v = 0L
    var i = at
    while (i < at + n) {
      val d = cs(i) - '0'
      if (d < 0 || d > 9) return -1
      v = v * 10 + d
      i += 1
    }
    v
  }

  /** `[+-]?\d{1,18}` in cs[from, until) (18 digits cannot overflow). */
  def fixedLong(cs: Array[Char], from: Int, until: Int): Long = {
    val s = if (from < until && (cs(from) == '-' || cs(from) == '+')) from + 1 else from
    val v = if (until - s > 18) -1L else digits(cs, s, until - s)
    if (v < 0 || s == until) NotFixed else if (cs(from) == '-') -v else v
  }

  /** Widening type inference for one sampled cell. */
  private def cellType(cell: String): DataType = {
    val t = cell.trim
    if (t.isEmpty) NullType
    else if (t.matches("[+-]?\\d{1,18}")) LongType
    else if (t.matches("[+-]?\\d*\\.\\d+([eE][+-]?\\d+)?") ||
             t.matches("[+-]?\\d+\\.\\d*([eE][+-]?\\d+)?")) DoubleType
    else if (t == "true" || t == "false") BooleanType
    else if (TsPat.matches(t)) TimestampType
    else if (NtzPat.matches(t)) TimestampNTZType
    else if (DatePat.matches(t)) DateType
    else StringType
  }

  private def widen(a: DataType, b: DataType): DataType = (a, b) match {
    case (NullType, x) => x
    case (x, NullType) => x
    case (x, y) if x == y => x
    case (LongType, DoubleType) | (DoubleType, LongType) => DoubleType
    case _ => StringType
  }

  def inferColumn(cells: Seq[String]): DataType =
    cells.filter(_ != null).map(cellType)
      .foldLeft(NullType: DataType)(widen) match {
      case NullType => StringType
      case t => t
    }

  /** Merge two per-file inferred schemas (reference: Mongo promotes
    * conflicting sampled types stably, backends/mongo/mgo_source.go:
    * 335-360): union of fields in first-seen order; same-named fields
    * promote through the widen lattice, structs merge recursively, and a
    * struct/scalar conflict degrades to the JSON-text string fallback. */
  def mergeSchemas(a: StructType, b: StructType): StructType = {
    val names = a.fieldNames.toBuffer
    b.fieldNames.foreach(n => if (!names.exists(_.equalsIgnoreCase(n))) names += n)
    StructType(names.toSeq.map { n =>
      val fa = a.fields.find(_.name.equalsIgnoreCase(n))
      val fb = b.fields.find(_.name.equalsIgnoreCase(n))
      (fa, fb) match {
        case (Some(x), Some(y)) =>
          StructField(x.name, mergeTypes(x.dataType, y.dataType), nullable = true)
        case (some, none) => some.orElse(none).get
      }
    })
  }

  private def mergeTypes(a: DataType, b: DataType): DataType = (a, b) match {
    case (x: StructType, y: StructType) => mergeSchemas(x, y)
    case (_: StructType, _) | (_, _: StructType) => StringType // struct/scalar
    case (x, y) => widen(x, y)
  }
}

/** One record format (csv | json). Stateless; everything serializable. */
sealed trait FileCodec extends Serializable {
  def extension: String
  /** Stream records as external-typed arrays aligned to `schema`. */
  def reader(in: BufferedReader, schema: StructType): Iterator[Array[Any]]
  /** Write one record (external-typed, aligned to `schema`). */
  def write(out: Writer, row: Array[Any], schema: StructType): Unit
  /** Called once before the first record of a new file. */
  def writeHeader(out: Writer, schema: StructType): Unit = ()
  /** Infer a schema from the head of a file (no sidecar present). */
  def inferSchema(in: BufferedReader): StructType
}

object FileCodec {

  /** All connector text IO is explicit UTF-8: FileReader/FileWriter would
    * use the platform default charset, making staged files non-portable
    * and mangling non-ASCII round-trips on non-UTF-8 JVMs. */
  def utf8Reader(f: java.io.File): BufferedReader =
    new BufferedReader(new java.io.InputStreamReader(
      new java.io.FileInputStream(f), java.nio.charset.StandardCharsets.UTF_8))

  def utf8Writer(f: java.io.File): java.io.BufferedWriter =
    new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      new java.io.FileOutputStream(f), java.nio.charset.StandardCharsets.UTF_8))

  def forFormat(format: String): FileCodec = format match {
    case "csv" => CsvCodec
    case "json" | "jsonl" => JsonCodec
    case other => throw new IllegalArgumentException(s"unknown format: $other")
  }
}

/** RFC-4180-style CSV with a mandatory header row. Records are parsed from
  * the char stream (not per line), so quoted embedded newlines are legal —
  * which is also why a CSV file is one scan partition: it cannot be split
  * at arbitrary byte offsets without a sync scan. Parallelism at scale
  * comes from many files per table, as with the reference's file source.
  */
object CsvCodec extends FileCodec {
  val extension = "csv"

  private def quote(s: String): String =
    if (s == null) ""
    else if (s.isEmpty || s.exists(ch => ch == ',' || ch == '"' || ch == '\n' || ch == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  override def writeHeader(out: Writer, schema: StructType): Unit =
    out.write(schema.fieldNames.map(quote).mkString("", ",", "\n"))

  def write(out: Writer, row: Array[Any], schema: StructType): Unit = {
    val line = schema.fields.indices.map { i =>
      quote(LineCodec.render(row(i)))
    }.mkString("", ",", "\n")
    out.write(line)
  }

  def reader(in: BufferedReader, schema: StructType): Iterator[Array[Any]] = {
    val tok = new CsvTokenizer(in)
    val idx = tok.columns(schema)
    if (idx == null) return Iterator.empty
    val types = schema.fields.map(_.dataType)
    new Iterator[Array[Any]] {
      private var ready = tok.next()
      def hasNext: Boolean = ready
      def next(): Array[Any] = {
        val row = Array.tabulate[Any](types.length)(i => tok.value(idx(i), types(i)))
        ready = tok.next()
        row
      }
    }
  }

  def inferSchema(in: BufferedReader): StructType = {
    val tok = new CsvTokenizer(in)
    require(tok.next() && tok.fields > 0, "empty csv: cannot infer schema")
    val header = tok.record()
    val sample = ArrayBuffer.empty[Array[String]]
    while (sample.size < LineCodec.SampleRows && tok.next()) sample += tok.record()
    StructType(header.zipWithIndex.map { case (name, i) =>
      val col = sample.toSeq.map(r => if (i < r.length) r(i) else null)
      StructField(name, LineCodec.inferColumn(col), nullable = true)
    })
  }
}

/** The one CSV reader: a quote-aware tokenizer over a reused char buffer.
  * [[next]] splits one record into field offsets; a quoted field is
  * unescaped in place (`""` → `"`), so a field is always one slice of the
  * buffer and no cell becomes a String unless asked for. A record that
  * runs past the buffer end is moved to its start before the refill (the
  * buffer doubles for a record longer than itself).
  *
  * Field semantics: an unquoted empty field is null, a quoted one (`""`)
  * the empty string; a CR outside quotes is dropped (CRLF ends a record
  * like LF), inside quotes it is kept; text after a closing quote joins
  * the field; a missing trailing field reads as null; the last record
  * needs no newline. Typed reads trim like `String.trim` and give the
  * value [[LineCodec.parse]] gives for the field's text. The tokenizer
  * does not close `in`. */
final class CsvTokenizer(in: java.io.Reader, bufSize: Int = 1 << 16) {
  private var buf = new Array[Char](bufSize)
  private var pos = 0     // next char to read
  private var lim = 0     // chars in buf
  private var rec = 0     // start of the current record; buf before it is free
  private var eof = false
  private var w = 0       // where the current field's next char is written
  private var fStart = 0  // start of the current field
  private var wasQuoted = false
  private var starts = new Array[Int](16)
  private var ends = new Array[Int](16)
  private var quoted = new Array[Boolean](16)
  private var n = 0

  /** Fields of the current record. */
  def fields: Int = n

  /** Refill after the last char: slide the current record to the start of
    * the buffer (growing it when the record fills it), then read. */
  private def fill(): Boolean = {
    if (eof) return false
    if (rec > 0) {
      System.arraycopy(buf, rec, buf, 0, lim - rec)
      var k = 0
      while (k < n) { starts(k) -= rec; ends(k) -= rec; k += 1 }
      pos -= rec; lim -= rec; w -= rec; fStart -= rec; rec = 0
    }
    if (lim == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
    var got = 0
    while (got == 0) got = in.read(buf, lim, buf.length - lim)
    if (got < 0) { eof = true; false } else { lim += got; true }
  }

  private def endField(): Unit = {
    if (n == starts.length) {
      starts = java.util.Arrays.copyOf(starts, n * 2)
      ends = java.util.Arrays.copyOf(ends, n * 2)
      quoted = java.util.Arrays.copyOf(quoted, n * 2)
    }
    starts(n) = fStart; ends(n) = w; quoted(n) = wasQuoted
    n += 1
    fStart = w; wasQuoted = false
  }

  /** Advance to the next record; false at end of input. */
  def next(): Boolean = {
    rec = pos; n = 0
    if (pos == lim && !fill()) return false
    w = pos; fStart = pos; wasQuoted = false
    var inQuotes = false
    while (true) {
      if (pos == lim && !fill()) { endField(); return true }
      val c = buf(pos)
      pos += 1
      if (inQuotes) {
        if (c != '"') { buf(w) = c; w += 1 }
        else if (pos == lim && !fill()) inQuotes = false
        else if (buf(pos) == '"') { buf(w) = '"'; w += 1; pos += 1 }
        else inQuotes = false
      } else c match {
        case ',' => endField()
        case '\n' => endField(); return true
        case '"' => inQuotes = true; wasQuoted = true
        case '\r' =>
        case _ => buf(w) = c; w += 1
      }
    }
    true
  }

  /** Field j is null: unquoted empty, past the record's end, or j < 0. */
  def isNull(j: Int): Boolean =
    j < 0 || j >= n || (!quoted(j) && starts(j) == ends(j))

  def text(j: Int): String =
    if (isNull(j)) null else new String(buf, starts(j), ends(j) - starts(j))

  def record(): Array[String] = Array.tabulate(n)(text)

  /** Read the header record and place each schema field in it
    * (case-insensitive; -1 = not in this file, read as null); null when
    * the input is empty. */
  def columns(schema: StructType): Array[Int] =
    if (!next()) null
    else {
      val header = record()
      schema.fieldNames.map(f => header.indexWhere(h => h != null && h.equalsIgnoreCase(f)))
    }

  private def long(j: Int): Long = {
    var ts = starts(j)
    var te = ends(j)
    while (ts < te && buf(ts) <= ' ') ts += 1
    while (te > ts && buf(te - 1) <= ' ') te -= 1
    val v = LineCodec.fixedLong(buf, ts, te)
    if (v != LineCodec.NotFixed) v else java.lang.Long.parseLong(text(j).trim)
  }

  /** Field j as [[LineCodec.parse]] types it. */
  def value(j: Int, dt: DataType): Any =
    if (isNull(j)) null
    else dt match {
      case LongType => java.lang.Long.valueOf(long(j))
      case StringType => text(j)
      case _ => LineCodec.parse(text(j), dt)
    }

  /** Field j into slot i of `row` as the Catalyst value of `dt`: what
    * `conv(LineCodec.parse(text(j), dt))` gives, with `conv` the Catalyst
    * converter of `dt`; longs and doubles go in unboxed and strings
    * without the converter. */
  def write(j: Int, dt: DataType, conv: Any => Any, row: InternalRow, i: Int): Unit =
    if (isNull(j)) row.setNullAt(i)
    else dt match {
      case LongType => row.setLong(i, long(j))
      case DoubleType => row.setDouble(i, java.lang.Double.parseDouble(text(j).trim))
      case StringType => row.update(i, UTF8String.fromString(text(j)))
      case _ => row.update(i, conv(LineCodec.parse(text(j), dt)))
    }
}

/** JSON-lines: one object per line. Nested objects round-trip as real
  * `StructType` columns (the reference's ES source exposes document
  * sub-objects as dotted-path columns, dataux
  * backends/elasticsearch/source.go:154-255; here they surface as native
  * Spark structs, so `profile.name` is a `GetStructField`, not a string
  * parse). Non-object nesting (arrays, mixed types) degrades to JSON text
  * in a string column, like the reference's sparse-document fallback. */
object JsonCodec extends FileCodec {
  val extension = "jsonl"

  @transient private lazy val mapper = new ObjectMapper()

  private def nodeToCell(n: JsonNode): String =
    if (n == null || n.isNull) null
    else if (n.isTextual) n.asText()
    else n.toString

  /** Declared-type-directed JSON value decode; structs recurse to rows. */
  private def nodeToValue(n: JsonNode, dt: DataType): Any =
    if (n == null || n.isNull) null
    else dt match {
      case st: StructType =>
        org.apache.spark.sql.Row.fromSeq(
          st.fields.toSeq.map(f => nodeToValue(n.get(f.name), f.dataType)))
      case _ => LineCodec.parse(nodeToCell(n), dt)
    }

  private def putValue(obj: ObjectNode, name: String, v: Any, dt: DataType): Unit =
    v match {
      case null => // omit, like the reference's sparse documents
      case r: org.apache.spark.sql.Row =>
        val st = dt.asInstanceOf[StructType]
        val child = obj.putObject(name)
        st.fields.indices.foreach { i =>
          putValue(child, st.fields(i).name, r.get(i), st.fields(i).dataType)
        }
      case l: java.lang.Long => obj.put(name, l.longValue())
      case v2: java.lang.Integer => obj.put(name, v2.intValue())
      case d: java.lang.Double => obj.put(name, d.doubleValue())
      case b: java.lang.Boolean => obj.put(name, b.booleanValue())
      case other => obj.put(name, LineCodec.render(other))
    }

  def write(out: Writer, row: Array[Any], schema: StructType): Unit = {
    val obj = mapper.createObjectNode()
    schema.fields.indices.foreach { i =>
      putValue(obj, schema.fields(i).name, row(i), schema.fields(i).dataType)
    }
    out.write(mapper.writeValueAsString(obj))
    out.write("\n")
  }

  def reader(in: BufferedReader, schema: StructType): Iterator[Array[Any]] =
    lineRecords(Iterator.continually(in.readLine()).takeWhile(_ != null), schema)

  /** Line-oriented decode entry point, shared by the whole-file reader and
    * the byte-range chunk reader ([[ChunkLineIterator]]). */
  def lineRecords(lines: Iterator[String], schema: StructType): Iterator[Array[Any]] =
    lines
      .filter(_.trim.nonEmpty)
      .map { line =>
        val obj = mapper.readTree(line)
        schema.fields.map { f => nodeToValue(obj.get(f.name), f.dataType) }
      }

  /** Column inference over sampled nodes: all-object columns recurse to a
    * struct of the union of sampled sub-fields (insertion-ordered); any
    * scalar/mixed column falls back to scalar widening over the JSON text
    * (object text → string, the fallback the doc comment promises). */
  private def inferNodes(nodes: Seq[JsonNode]): DataType = {
    val present = nodes.filter(n => n != null && !n.isNull)
    if (present.isEmpty) StringType
    else if (present.forall(_.isObject)) {
      val names = ArrayBuffer.empty[String]
      present.foreach { o =>
        val it = o.fieldNames()
        while (it.hasNext) {
          val nm = it.next(); if (!names.contains(nm)) names += nm
        }
      }
      StructType(names.toSeq.map { nm =>
        StructField(nm, inferNodes(present.map(_.get(nm))), nullable = true)
      })
    } else LineCodec.inferColumn(present.map(nodeToCell))
  }

  def inferSchema(in: BufferedReader): StructType = {
    val names = ArrayBuffer.empty[String] // insertion-ordered field names
    val cols = scala.collection.mutable.LinkedHashMap
      .empty[String, ArrayBuffer[JsonNode]]
    var n = 0
    var line = in.readLine()
    while (line != null && n < LineCodec.SampleRows) {
      if (line.trim.nonEmpty) {
        val obj = mapper.readTree(line)
        val it = obj.fieldNames()
        while (it.hasNext) {
          val name = it.next()
          if (!cols.contains(name)) { names += name; cols(name) = ArrayBuffer.empty }
        }
        cols.foreach { case (name, buf) => buf += obj.get(name) }
        n += 1
      }
      line = in.readLine()
    }
    require(names.nonEmpty, "empty json file: cannot infer schema")
    StructType(names.toSeq.map { name =>
      StructField(name, inferNodes(cols(name).toSeq), nullable = true)
    })
  }
}
