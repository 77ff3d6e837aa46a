package graft

import java.io.File
import java.math.{BigDecimal => JBigDecimal}
import java.time.{LocalDate, LocalDateTime}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.protocol.MysqlServer
import graft.protocol.MysqlWire._

/** Result-set rendering of the MySQL listener, pinned byte for byte.
  * Every column type — NULL, NaN, ±Inf, −0.0, DECIMAL at scales 0, 2 and
  * 18 (values whose text is E-notation included), non-ASCII STRING,
  * BINARY, complex types, pre-1970 DATE, TIMESTAMP and TIMESTAMP_NTZ —
  * goes out as a COM_QUERY text row and as a COM_STMT_EXECUTE binary row,
  * and each row packet must equal the bytes pinned below, whichever way
  * the statement runs: a parquet scan (a Spark job), a local relation
  * (rows already on the driver) or a literal SELECT (evaluated on the
  * driver).
  */
class FrontDoorRenderSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("b", BooleanType), StructField("t", ByteType),
    StructField("s", ShortType), StructField("i", IntegerType),
    StructField("l", LongType), StructField("f", FloatType),
    StructField("d", DoubleType), StructField("d0", DecimalType(10, 0)),
    StructField("d2", DecimalType(12, 2)), StructField("d18", DecimalType(38, 18)),
    StructField("str", StringType), StructField("bin", BinaryType),
    StructField("dt", DateType), StructField("ts", TimestampType),
    StructField("ntz", TimestampNTZType),
    StructField("arr", ArrayType(IntegerType)),
    StructField("m", MapType(StringType, IntegerType)),
    StructField("st", StructType(Seq(StructField("x", IntegerType), StructField("y", StringType))))))

  private def dec(s: String): JBigDecimal = new JBigDecimal(s)
  private def ts(s: String): java.sql.Timestamp =
    java.sql.Timestamp.from(LocalDateTime.parse(s).toInstant(java.time.ZoneOffset.UTC))

  private val rows: Seq[Row] = Seq(
    Row.fromSeq(1 +: Seq.fill(schema.length - 1)(null)),
    Row(2, true, Byte.MinValue, Short.MinValue, Int.MinValue, Long.MinValue, Float.NaN,
      -0.0, dec("-9999999999"), dec("-0.01"), dec("1E-18"),
      "héllo → wörld 日本", Array[Byte](0, 1, 0x7f, -128, -1),
      java.sql.Date.valueOf(LocalDate.of(1969, 12, 31)), ts("1969-12-31T23:59:59.999999"),
      LocalDateTime.of(1900, 1, 1, 0, 0, 0, 1000), Seq(1, null, -3),
      Map("k" -> 1), Row(7, "ü")),
    Row(3, false, Byte.MaxValue, Short.MaxValue, Int.MaxValue, Long.MaxValue,
      Float.PositiveInfinity, Double.NegativeInfinity, dec("0"), dec("123456.78"),
      dec("0E-18"), "", Array.emptyByteArray,
      java.sql.Date.valueOf(LocalDate.of(1900, 1, 1)), ts("1901-12-13T20:45:52"),
      LocalDateTime.of(1969, 7, 20, 20, 17, 40), Seq.empty[Int], Map.empty[String, Int],
      Row(null, null)),
    Row(4, true, 0.toByte, 0.toShort, 0, 0L, -0.0f, Double.MinPositiveValue,
      dec("1"), dec("0.00"), dec("12345678901234567890.123456789012345678"),
      "'quoted' \"x\" \\", Array[Byte](0x41),
      java.sql.Date.valueOf(LocalDate.of(2024, 2, 29)), ts("2024-02-29T10:11:12.5"),
      LocalDateTime.of(2038, 1, 19, 3, 14, 8), Seq(Int.MaxValue), Map("a" -> 1, "b" -> 2),
      Row(-1, "z")),
    Row(5, false, -1.toByte, -1.toShort, -1, -1L, 1.5f, 1.0e7,
      dec("-1"), dec("1E+2"), dec("-0.000001"), "a\u0000b", Array[Byte](0),
      java.sql.Date.valueOf(LocalDate.of(1970, 1, 1)), ts("1970-01-01T00:00:00"),
      LocalDateTime.of(1970, 1, 1, 0, 0), null, null, null))

  private lazy val sources: Unit = {
    val root = new File(sys.props("user.dir"), "target/graft-test/frontdoor_render").getPath
    val local = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    local.createOrReplaceTempView("fdr_local")
    local.repartition(3).write.mode("overwrite").parquet(s"$root/pq")
    spark.read.parquet(s"$root/pq").createOrReplaceTempView("fdr_pq")
  }

  private val cols = schema.fieldNames.mkString(", ")

  /** One literal SELECT per row: every value as a typed SQL literal. */
  private def literalSelect(r: Row): String = schema.fields.zipWithIndex.map { case (f, i) =>
    val v = CatalystTypeConverters.createToCatalystConverter(f.dataType)(r.get(i))
    s"CAST(${Literal.create(v, f.dataType).sql} AS ${f.dataType.sql}) AS ${f.name}"
  }.mkString("SELECT ", ", ", "")

  /** A logged-in raw packet connection. */
  private def open(): (java.net.Socket, PacketIO) = {
    sources
    val sock = new java.net.Socket("127.0.0.1", MysqlServer.ensureStarted(spark))
    val io = new PacketIO(sock.getInputStream, sock.getOutputStream)
    val greeting = decodeHandshake(io.read())
    io.write(encodeHandshakeResponse(HandshakeResponse(
      ClientProtocol41 | ClientSecureConnection | ClientPluginAuth, 1 << 24, CharsetUtf8,
      "root", nativePasswordScramble(MysqlServer.Password, greeting.salt), None,
      "mysql_native_password")))
    io.flush()
    assert(isOk(io.read()))
    (sock, io)
  }

  /** The row packets of the result set answering `request`, as hex. */
  private def rowPackets(io: PacketIO, request: Array[Byte]): Seq[String] = {
    io.resetSeq(); io.write(request); io.flush()
    val first = io.read()
    assert(!isErr(first), new String(first, "UTF-8"))
    val n = new ByteReader(first).lenencInt().toInt
    (0 until n).foreach(_ => io.read())
    assert(isEof(io.read()))
    Iterator.continually(io.read()).takeWhile(p => !isEof(p))
      .map(_.map(b => f"${b & 0xff}%02x").mkString).toSeq
  }

  private def text(io: PacketIO, sql: String): Seq[String] =
    rowPackets(io, Array(ComQuery.toByte) ++ sql.getBytes("UTF-8"))

  private def binary(io: PacketIO, sql: String): Seq[String] = {
    io.resetSeq()
    io.write(Array(ComStmtPrepare.toByte) ++ sql.getBytes("UTF-8")); io.flush()
    val id = decodeStmtPrepareOk(io.read()).stmtId
    try rowPackets(io, new ByteWriter().u8(ComStmtExecute).u32(id.toLong).u8(0).u32(1L).bytes)
    finally { io.resetSeq(); io.write(new ByteWriter().u8(ComStmtClose).u32(id.toLong).bytes); io.flush() }
  }

  private val statements: Seq[String] =
    Seq(s"SELECT $cols FROM fdr_pq ORDER BY id", s"SELECT $cols FROM fdr_local")

  test("text rows: every column type renders the pinned bytes") {
    val (sock, io) = open()
    try {
      statements.foreach(sql => assert(text(io, sql) == PinnedText, sql))
      rows.zip(PinnedText).foreach { case (r, want) =>
        assert(text(io, literalSelect(r)) == Seq(want), literalSelect(r))
      }
    } finally sock.close()
  }

  test("binary rows: every column type renders the pinned bytes") {
    val (sock, io) = open()
    try {
      statements.foreach(sql => assert(binary(io, sql) == PinnedBinary, sql))
      rows.zip(PinnedBinary).foreach { case (r, want) =>
        assert(binary(io, literalSelect(r)) == Seq(want), literalSelect(r))
      }
    } finally sock.close()
  }

  test("interval columns go out as the text of their external value") {
    val (sock, io) = open()
    try {
      val cols = "make_dt_interval(CAST(id AS INT), 2, 3, 4.5) AS dt, " +
        "make_ym_interval(1, CAST(-id AS INT)) AS ym"
      for ((sql, n) <- Seq(s"SELECT $cols FROM range(1, 3)" -> 2,
          s"SELECT $cols FROM (SELECT 1L AS id)" -> 1)) {
        assert(text(io, sql) == PinnedIntervalText.take(n), sql)
        assert(binary(io, sql) == PinnedIntervalBinary.take(n), sql)
      }
    } finally sock.close()
  }

  // the day-time interval's `Duration` (PT26H3M4.5S, PT50H3M4.5S) and the
  // year-month interval's `Period` (P11M, P10M)
  private val PinnedIntervalText: Seq[String] = Seq(
    "0b5054323648334d342e3553045031314d", "0b5054353048334d342e3553045031304d")
  private val PinnedIntervalBinary: Seq[String] = Seq(
    "00000b5054323648334d342e3553045031314d", "00000b5054353048334d342e3553045031304d")

  private val PinnedText: Seq[String] = Seq(
    "0131fbfbfbfbfbfbfbfbfbfbfbfbfbfbfbfbfbfb",
    "01320131042d313238062d33323736380b2d32313437343833363438142d393232333337" +
      "32303336383534373735383038034e614e042d302e300b2d39393939393939393939052d" +
      "302e30310531452d31381868c3a96c6c6f20e286922077c3b6726c6420e697a5e69cac05" +
      "00017f80ff0a313936392d31322d33311a313936392d31322d33312032333a35393a3539" +
      "2e3939393939391a313930302d30312d30312030303a30303a30302e3030303030310b5b" +
      "312c6e756c6c2c2d335d077b226b223a317d107b2278223a372c2279223a22c3bc227d",
    "01330130033132370533323736370a323134373438333634371339323233333732303336" +
      "38353437373538303708496e66696e697479092d496e66696e6974790130093132333435" +
      "362e37380530452d313800000a313930302d30312d30311a313930312d31322d31332032" +
      "303a34353a35322e3030303030301a313936392d30372d32302032303a31373a34302e30" +
      "3030303030025b5d027b7d027b7d",
    "013401310130013001300130042d302e3008342e39452d333234013104302e3030273132" +
      "3334353637383930313233343536373839302e3132333435363738393031323334353637" +
      "380e2771756f7465642720227822205c01410a323032342d30322d32391a323032342d30" +
      "322d32392031303a31313a31322e3530303030301a323033382d30312d31392030333a31" +
      "343a30382e3030303030300c5b323134373438333634375d0d7b2261223a312c2262223a" +
      "327d107b2278223a2d312c2279223a227a227d",
    "01350130022d31022d31022d31022d3103312e3505312e304537022d31063130302e3030" +
      "152d302e3030303030313030303030303030303030300361006201000a313937302d3031" +
      "2d30311a313937302d30312d30312030303a30303a30302e3030303030301a313937302d" +
      "30312d30312030303a30303a30302e303030303030fbfbfb")

  private val PinnedBinary: Seq[String] = Seq(
    "00f8ff1f01000000",
    "0000000002000000018000800000008000000000000000800000c07f0000000000000080" +
      "0b2d39393939393939393939052d302e30310531452d31381868c3a96c6c6f20e2869220" +
      "77c3b6726c6420e697a5e69cac0500017f80ff04b1070c1f0bb1070c1f173b3b3f420f00" +
      "0b6c070101000000010000000b5b312c6e756c6c2c2d335d077b226b223a317d107b2278" +
      "223a372c2279223a22c3bc227d",
    "0000000003000000007fff7fffffff7fffffffffffffff7f0000807f000000000000f0ff" +
      "0130093132333435362e37380530452d31380000046c0701010b6d070c0d142d34000000" +
      "000bb107071414112800000000025b5d027b7d027b7d",
    "000000000400000001000000000000000000000000000000000000800100000000000000" +
      "013104302e30302731323334353637383930313233343536373839302e31323334353637" +
      "38393031323334353637380e2771756f7465642720227822205c014104e807021d0be807" +
      "021d0a0b0c20a107000bf6070113030e08000000000c5b323134373438333634375d0d7b" +
      "2261223a312c2262223a327d107b2278223a2d312c2279223a227a227d",
    "0000001c0500000000ffffffffffffffffffffffffffffff0000c03f00000000d0126341" +
      "022d31063130302e3030152d302e30303030303130303030303030303030303003610062" +
      "010004b20701010bb2070101000000000000000bb207010100000000000000")
}
