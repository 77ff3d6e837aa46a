package graft

import java.io.{BufferedReader, File, Reader, StringReader}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable.ArrayBuffer
import scala.util.Try

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources._

/** Seeded properties of the CSV reader ([[CsvTokenizer]], [[CsvCodec]])
  * against a reference decoder kept here: the char-at-a-time record
  * reader the tokenizer replaced. Any text — quoted commas, `""` escapes, LF and CRLF inside
  * quotes, stray CRs and quotes, short records, a last record without a
  * newline — must split into the same records, at every buffer size
  * (so fields, escapes and CRLF pairs straddle the refill); typed reads
  * must give the same values, and the Catalyst writes what the Catalyst
  * converter makes of them. A scan arm checks pushed conjunctions over
  * random CSV tables against Spark's own filter. */
class CsvCodecPropertySpec extends AnyFunSuite {

  private lazy val spark: SparkSession = TestSpark.session

  // ---- reference decoder ------------------------------------------------

  /** One raw record; null at EOF. Cells: null = unquoted empty. */
  private def refRecord(in: Reader): Array[String] = {
    var c = in.read()
    if (c < 0) return null
    val cells = ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var quoted = false
    var wasQuoted = false
    def endCell(): Unit = {
      cells += (if (!wasQuoted && sb.isEmpty) null else sb.toString)
      sb.clear(); wasQuoted = false
    }
    var done = false
    while (!done) {
      if (c < 0) { endCell(); done = true }
      else {
        val ch = c.toChar
        if (quoted) {
          if (ch == '"') {
            val nxt = in.read()
            if (nxt == '"') { sb += '"'; c = in.read() }
            else { quoted = false; c = nxt }
          } else { sb += ch; c = in.read() }
        } else ch match {
          case '"' => quoted = true; wasQuoted = true; c = in.read()
          case ',' => endCell(); c = in.read()
          case '\r' => c = in.read()
          case '\n' => endCell(); done = true
          case ch2 => sb += ch2; c = in.read()
        }
      }
    }
    cells.toArray
  }

  private def refRecords(text: String): Seq[Seq[String]] = {
    val in = new StringReader(text)
    Iterator.continually(refRecord(in)).takeWhile(_ != null).map(_.toSeq).toSeq
  }

  private def refRows(text: String, schema: StructType): Seq[Seq[Any]] = {
    val in = new StringReader(text)
    val header = refRecord(in)
    if (header == null) return Nil
    val idx = schema.fieldNames.map(n =>
      header.indexWhere(h => h != null && h.equalsIgnoreCase(n)))
    Iterator.continually(refRecord(in)).takeWhile(_ != null).map { rec =>
      schema.fields.indices.map { i =>
        val j = idx(i)
        if (j < 0 || j >= rec.length) null else LineCodec.parse(rec(j), schema.fields(i).dataType)
      }
    }.toSeq
  }

  // ---- generators -------------------------------------------------------

  private val TsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
    .withZone(ZoneOffset.UTC)

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("n", IntegerType),
    StructField("x", DoubleType), StructField("s", StringType),
    StructField("b", BooleanType), StructField("ts", TimestampType),
    StructField("ntz", TimestampNTZType), StructField("d", DateType),
    StructField("h", ShortType)))

  private val strings = Seq("plain", "with,comma", "say \"hi\"", "two\nlines",
    "crlf\r\ninside", "ümlaut é 日本 😀", " padded ", "a\"\"b", "x,\"y\",z", "\r")

  /** One cell of column type `dt` as CSV text: unquoted, quoted (with
    * escapes), the null form or the empty-string form. */
  private def cell(rnd: java.util.Random, dt: DataType): String = {
    def q(s: String) = "\"" + s.replace("\"", "\"\"") + "\""
    def pad(s: String) = rnd.nextInt(4) match {
      case 0 => s" $s"; case 1 => s"$s\t"; case _ => s
    }
    if (rnd.nextInt(8) == 0) return "" // null
    dt match {
      case LongType => pad((rnd.nextLong() >> rnd.nextInt(64)).toString)
      case IntegerType => pad(if (rnd.nextBoolean()) rnd.nextInt().toString else s"+${rnd.nextInt(99)}")
      case ShortType => pad(rnd.nextInt(Short.MaxValue).toString)
      case DoubleType => pad((rnd.nextGaussian() * math.pow(10, rnd.nextInt(12) - 4)).toString)
      case BooleanType => pad(Seq("true", "false", "TRUE", "nope")(rnd.nextInt(4)))
      case StringType =>
        if (rnd.nextInt(6) == 0) "\"\"" else q(strings(rnd.nextInt(strings.length)))
      case TimestampType | TimestampNTZType | DateType =>
        val inst = Instant.ofEpochSecond(rnd.nextLong() % 40000000000L, rnd.nextInt(1000000) * 1000L)
        val ts = DateTimeFormatter.ISO_INSTANT.format(inst)
        val canon = TsFmt.format(inst)
        val text = dt match {
          case TimestampType => canon
          case TimestampNTZType => canon.dropRight(1)
          case _ => canon.take(10)
        }
        if (rnd.nextInt(10) == 0 && !ts.startsWith("-")) pad(text) else text
    }
  }

  /** A CSV text of `rows` records over a header that reorders, re-cases,
    * drops and adds columns; records end in LF or CRLF, some are short,
    * and the last may lack its newline. */
  private def table(rnd: java.util.Random, rows: Int): String = {
    val cols = scala.util.Random.javaRandomToRandom(rnd).shuffle(
      schema.fields.toSeq.filter(_ => rnd.nextInt(10) != 0).map(Some(_)) :+ None)
    val header = cols.map {
      case Some(f) => if (rnd.nextBoolean()) f.name.toUpperCase else f.name
      case None => "extra"
    }
    val sb = new StringBuilder(header.mkString(","))
    for (r <- 0 until rows) {
      sb.append(if (rnd.nextBoolean()) "\n" else "\r\n")
      val cells = cols.map {
        case Some(f) => cell(rnd, f.dataType)
        case None => "\"junk, " + r + "\""
      }
      val keep = if (rnd.nextInt(6) == 0) 1 + rnd.nextInt(cells.size) else cells.size
      sb.append(cells.take(keep).mkString(","))
    }
    if (rnd.nextBoolean()) sb.append('\n')
    sb.toString
  }

  private def tokenize(text: String, bufSize: Int): Seq[Seq[String]] = {
    val tok = new CsvTokenizer(new StringReader(text), bufSize)
    Iterator.continually(tok.next()).takeWhile(identity).map(_ => tok.record().toSeq).toSeq
  }

  // ---- properties -------------------------------------------------------

  test("any text splits into the reference's records at every buffer size") {
    val rnd = new java.util.Random(20261018L)
    val alphabet = "ab,\"\n\r é"
    for (_ <- 0 until 400) {
      val text = Seq.fill(rnd.nextInt(60))(alphabet(rnd.nextInt(alphabet.length))).mkString
      val want = refRecords(text)
      for (size <- Seq(1, 2, 3, 5, 8, 64)) assert(tokenize(text, size) == want,
        s"buffer $size, text ${text.map(c => if (c < ' ') s"\\u${c.toInt}" else c.toString).mkString}")
    }
  }

  test("generated tables: records and typed rows equal the reference") {
    val rnd = new java.util.Random(7L)
    for (_ <- 0 until 60) {
      val text = table(rnd, rnd.nextInt(40))
      val want = refRecords(text)
      for (size <- Seq(1, 7, 16, 33, 1 << 16)) assert(tokenize(text, size) == want)
      val got = CsvCodec.reader(new BufferedReader(new StringReader(text)), schema)
        .map(_.toSeq).toSeq
      assert(got == refRows(text, schema))
    }
  }

  test("Catalyst writes equal the converter over the reference values") {
    val rnd = new java.util.Random(11L)
    val convs = schema.fields.map(f => CatalystTypeConverters.createToCatalystConverter(f.dataType))
    for (_ <- 0 until 40) {
      val text = table(rnd, 30)
      val tok = new CsvTokenizer(new StringReader(text), 1 + rnd.nextInt(50))
      val idx = tok.columns(schema)
      val want = refRows(text, schema)
      var r = 0
      while (tok.next()) {
        val row = new SpecificInternalRow(schema.fields.map(_.dataType).toSeq)
        schema.fields.indices.foreach { i =>
          tok.write(idx(i), schema.fields(i).dataType, convs(i), row, i)
        }
        schema.fields.indices.foreach { i =>
          val dt = schema.fields(i).dataType
          val expect = convs(i)(want(r)(i))
          val got = if (row.isNullAt(i)) null else row.get(i, dt)
          assert(got == expect, s"row $r column ${schema.fields(i).name}")
        }
        r += 1
      }
      assert(r == want.size)
    }
  }

  test("numbers read through String.trim; malformed cells fail like valueOf") {
    val text = "id,n,x\n  42 , +7,\t1.5e3 \n-9223372036854775808,2147483647,-0.0\n"
    val s = StructType(Seq(StructField("id", LongType), StructField("n", IntegerType),
      StructField("x", DoubleType)))
    val got = CsvCodec.reader(new BufferedReader(new StringReader(text)), s).map(_.toSeq).toSeq
    assert(got == refRows(text, s))
    assert(got.head == Seq(42L, 7, 1500.0))
    for (bad <- Seq("4 2", "2147483648", "1.0", "٣", "-")) {
      val t = s"n\n$bad\n"
      val n = StructType(Seq(StructField("n", IntegerType)))
      val mine = Try(CsvCodec.reader(new BufferedReader(new StringReader(t)), n).toList)
      val ref = Try(refRows(t, n))
      assert(mine.isFailure == ref.isFailure && mine.toOption.map(_.map(_.toSeq)) == ref.toOption, bad)
    }
  }

  test("empty input, header only, and a header-less last record") {
    val read = (t: String) =>
      CsvCodec.reader(new BufferedReader(new StringReader(t)), schema).map(_.toSeq).toSeq
    assert(read("") == Nil)
    assert(read("id,s") == Nil)
    assert(read("id,s\n") == Nil)
    assert(read("id,s\n1,\"\"") == Seq(1L +: Seq.fill(schema.size - 1)(null)).map(_.updated(3, "")))
    assert(read("id,s\n\n") == Seq(Seq.fill(schema.size)(null)))
  }

  // ---- scan arm ---------------------------------------------------------

  private val scanSchema = StructType(Seq(
    StructField("id", LongType), StructField("g", IntegerType),
    StructField("s", StringType), StructField("x", DoubleType),
    StructField("ts", TimestampType), StructField("d", DateType)))

  private def scanRow(rnd: java.util.Random, i: Int): Array[Any] = {
    def maybe(v: => Any) = if (rnd.nextInt(7) == 0) null else v
    Array[Any](
      java.lang.Long.valueOf(i.toLong),
      maybe(java.lang.Integer.valueOf(rnd.nextInt(5))),
      maybe(Seq("a", "b", "a,b", "\"q\"", "", "é", "ab\nc")(rnd.nextInt(7))),
      maybe(java.lang.Double.valueOf(rnd.nextInt(100) / 4.0)),
      maybe(new java.sql.Timestamp(1700000000000L + rnd.nextInt(10) * 86400000L)),
      maybe(java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1 + rnd.nextInt(10)))))
  }

  private def predicate(rnd: java.util.Random): Column = rnd.nextInt(12) match {
    case 0 => col("g") === rnd.nextInt(5)
    case 1 => col("g") > rnd.nextInt(5)
    case 2 => col("x") <= rnd.nextInt(25).toDouble
    case 3 => col("s") === Seq("a", "b", "a,b", "")(rnd.nextInt(4))
    case 4 => col("s").isin("a", "\"q\"", "é")
    case 5 => col("s").startsWith("a")
    case 6 => col("s").contains(",")
    case 7 => col("g").isNull
    case 8 => col("x").isNotNull
    case 9 => col("ts") >= lit(new java.sql.Timestamp(1700000000000L + rnd.nextInt(10) * 86400000L))
    case 10 => col("d") < lit(java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1 + rnd.nextInt(10))))
    case _ => col("g") =!= rnd.nextInt(5)
  }

  test("pushed conjunctions over random CSV tables equal Spark's own filter") {
    val rnd = new java.util.Random(99L)
    val root = new File(sys.props("user.dir"), "target/graft-test/csvprop")
    SourceRegistry.ensureCatalog(spark)
    val src = SourceRegistry.register(SourceDef("csvprop", root.getPath, "csv", "full"))
    for (t <- 0 until 6) {
      val name = s"t$t"
      val dir = src.tableDir(name)
      Option(dir.listFiles()).foreach(_.foreach(_.delete()))
      FileTable.create(src, name, scanSchema, "csv")
      var next = 0
      for (f <- 0 until 3) {
        // each file lays its columns out in its own order
        val order = scala.util.Random.javaRandomToRandom(rnd).shuffle(scanSchema.fields.indices.toList)
        val fileSchema = StructType(order.map(scanSchema.fields(_)))
        val w = FileCodec.utf8Writer(new File(dir, s"part-$f.csv"))
        try {
          CsvCodec.writeHeader(w, fileSchema)
          for (_ <- 0 until 20 + rnd.nextInt(60)) {
            val r = scanRow(rnd, next); next += 1
            CsvCodec.write(w, order.map(r(_)).toArray, fileSchema)
          }
        } finally w.close()
      }
      val table = spark.table(s"graft.csvprop.$name")
      val all = spark.createDataFrame(
        java.util.Arrays.asList(table.collect(): _*), scanSchema)
      for (_ <- 0 until 8) {
        val cond = Seq.fill(1 + rnd.nextInt(3))(predicate(rnd)).reduce(_ && _)
        val cols = Seq("id", "s", "ts", "d").take(1 + rnd.nextInt(4)).map(col)
        val pushed = table.filter(cond).select(cols: _*)
        val plan = pushed.queryExecution.executedPlan.toString
        assert(plan.contains("PushedFilters: [") && !plan.contains("PushedFilters: []"), plan)
        def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
        assert(rows(pushed) == rows(all.filter(cond).select(cols: _*)), s"$cond")
      }
    }
  }

  // ---- read extent ------------------------------------------------------

  private def causes(e: Throwable): Iterator[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)

  test("a pushed LIMIT stops the row scan at its last row") {
    // the one matching record is near the start; a malformed key far past
    // it fails any scan that reads on to look for the next match
    val f = new File(sys.props("user.dir"), "target/graft-test/csvlimit/part-0.csv")
    f.getParentFile.mkdirs()
    val w = FileCodec.utf8Writer(f)
    try {
      w.write("k,v\n1,a\n")
      for (_ <- 0 until 20000) w.write("2,b\n")
      w.write("oops,c\n")
    } finally w.close()
    val parse = StructType(Seq(StructField("k", LongType), StructField("v", StringType)))
    val out = StructType(Seq(StructField("v", StringType)))
    def scan(limit: Int): Seq[String] = {
      val part = FilePartition(Array(FileChunk(f.getPath, 0L, f.length())), "csv",
        parse.json, out.json, Array(1),
        Array[org.apache.spark.sql.sources.Filter](org.apache.spark.sql.sources.EqualTo("k", 1L)),
        limit, Array.empty)
      val reader = new FilePartitionReaderFactory().createReader(part)
      try Iterator.continually(reader.next()).takeWhile(identity)
        .map(_ => reader.get().getUTF8String(0).toString).toList
      finally reader.close()
    }
    assert(scan(1) == Seq("a"))
    val e = intercept[Exception](scan(-1))
    assert(causes(e).exists(_.isInstanceOf[NumberFormatException]), e)
  }

  test("a malformed cell fails the reads that decode it") {
    // the row scan decodes v only for records its pushed filter passes;
    // the aggregate scan and the keyed DELETE rewrite decode every cell
    val root = new File(sys.props("user.dir"), "target/graft-test/csvbad")
    SourceRegistry.ensureCatalog(spark)
    val src = SourceRegistry.register(SourceDef("csvbad", root.getPath, "csv", "full"))
    val dir = src.tableDir("t")
    Option(dir.listFiles()).foreach(_.foreach(_.delete()))
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", LongType)))
    FileTable.create(src, "t", schema, "csv")
    val w = FileCodec.utf8Writer(new File(dir, "part-0.csv"))
    try w.write("k,v\n1,2\n2,bad\n") finally w.close()
    def fails(sql: String): Unit = {
      val e = intercept[Exception](spark.sql(sql).collect())
      assert(causes(e).exists(_.isInstanceOf[NumberFormatException]), s"$sql: $e")
    }
    assert(spark.sql("SELECT v FROM graft.csvbad.t WHERE k = 1").collect().toSeq == Seq(Row(2L)))
    fails("SELECT v FROM graft.csvbad.t WHERE k = 2")
    fails("SELECT sum(v) FROM graft.csvbad.t WHERE k = 1")
    fails("DELETE FROM graft.csvbad.t WHERE k = 1")
  }
}
