package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.protocol.{MysqlClient, MysqlServer, MysqlWire}
import graft.protocol.MysqlWire._

/** The MySQL wire-protocol front door (reference UX: any mysql client
  * dials the proxy, dataux proxy/server.go:62-110). Byte-level codec
  * round-trips, real handshake + mysql_native_password auth over a
  * loopback socket, text resultsets with typed column definitions, the
  * whole engine dialect as plain COM_QUERY text, per-connection session
  * isolation, and ERR propagation.
  */
class MysqlWireSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("mysql-wire-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"

  private def connect(): MysqlClient = {
    Tables.registerAll(spark, sfDir)
    val port = MysqlServer.ensureStarted(spark)
    new MysqlClient("127.0.0.1", port, "root", MysqlServer.Password)
  }

  // ---- codec unit round-trips (no socket) --------------------------------

  test("lenenc integers round-trip at every width boundary") {
    val cases = Seq(0L, 1L, 250L, 251L, 65535L, 65536L, (1L << 24) - 1, 1L << 24, 1L << 33)
    cases.foreach { v =>
      val b = new ByteWriter().lenencInt(v).bytes
      assert(new ByteReader(b).lenencInt() === v, s"v=$v bytes=${b.length}")
    }
    // width selection per the spec
    assert(new ByteWriter().lenencInt(250).bytes.length === 1)
    assert(new ByteWriter().lenencInt(251).bytes.length === 3)
    assert(new ByteWriter().lenencInt(65536).bytes.length === 4)
    assert(new ByteWriter().lenencInt(1L << 24).bytes.length === 9)
  }

  test("binary TINYINT values round-trip signed (u8 on the wire)") {
    for (v <- Seq(-128, -5, 0, 5, 127)) {
      val w = new ByteWriter()
      MysqlWire.writeBinaryValue(w, MysqlWire.TypeTiny, v: java.lang.Integer)
      assert(MysqlWire.readBinaryValue(new ByteReader(w.bytes), MysqlWire.TypeTiny) == v,
        s"TINYINT $v must survive the unsigned wire byte")
    }
  }

  test("the UNSIGNED flag keeps TINYINT 200 and INT > 2^31 positive") {
    val w = new ByteWriter()
    MysqlWire.writeBinaryValue(w, MysqlWire.TypeTiny, 200: java.lang.Integer)
    assert(MysqlWire.readBinaryValue(new ByteReader(w.bytes),
      MysqlWire.TypeTiny, unsigned = true) == 200L)
    val w2 = new ByteWriter()
    w2.u32(3000000000L)
    assert(MysqlWire.readBinaryValue(new ByteReader(w2.bytes),
      MysqlWire.TypeLong, unsigned = true) == 3000000000L)
  }

  test("handshake and handshake-response packets round-trip") {
    val salt = Array.tabulate[Byte](20)(i => (i + 1).toByte)
    val h = Handshake(10, "8.0.0-graft", 7, salt, ServerCapabilities, CharsetUtf8, 2,
      "mysql_native_password")
    val decoded = decodeHandshake(encodeHandshake(h))
    assert(decoded.protocolVersion === 10)
    assert(decoded.serverVersion === "8.0.0-graft")
    assert(decoded.connectionId === 7)
    assert(decoded.salt.toSeq === salt.toSeq)
    assert((decoded.capabilities & ClientProtocol41) !== 0)
    assert(decoded.authPlugin === "mysql_native_password")

    val resp = HandshakeResponse(
      ClientProtocol41 | ClientSecureConnection | ClientPluginAuth,
      16 * 1024 * 1024, CharsetUtf8, "alice",
      nativePasswordScramble("pw", salt), None, "mysql_native_password")
    val back = decodeHandshakeResponse(encodeHandshakeResponse(resp))
    assert(back.username === "alice")
    assert(back.authToken.toSeq === resp.authToken.toSeq)
    assert(back.authPlugin === "mysql_native_password")
  }

  test("scramble verifies for the right password and rejects a wrong one") {
    val salt = Array.tabulate[Byte](20)(i => (37 * i + 5).toByte)
    val tok = nativePasswordScramble("s3cret", salt)
    assert(tok.length === 20)
    assert(verifyNativePassword(tok, "s3cret", salt))
    assert(!verifyNativePassword(tok, "other", salt))
    assert(!verifyNativePassword(nativePasswordScramble("s3cret", salt.reverse), "s3cret", salt))
  }

  test("OK/ERR/EOF packets round-trip with their markers") {
    val ok = decodeOk(encodeOk(affected = 3, lastInsertId = 9, warnings = 1))
    assert(ok.affected === 3 && ok.lastInsertId === 9 && ok.warnings === 1)
    val err = decodeErr(encodeErr(1064, "42000", "syntax error near FROM"))
    assert(err.code === 1064 && err.sqlState === "42000")
    assert(err.message.contains("syntax error"))
    assert(isEof(encodeEof()) && !isEof(encodeOk(0)) && isErr(encodeErr(1, "HY000", "x")))
  }

  test("multi-packet payloads split at 0xffffff and reassemble") {
    val in = new java.io.PipedInputStream(1 << 20)
    val out = new java.io.PipedOutputStream(in)
    val payload = Array.tabulate[Byte](MaxPacketPayload + 17)(i => (i % 251).toByte)
    val writer = new Thread(() => {
      val io = new PacketIO(new java.io.ByteArrayInputStream(Array.empty), out)
      io.write(payload); io.flush(); out.close()
    })
    writer.start()
    val io = new PacketIO(in, new java.io.ByteArrayOutputStream())
    val got = io.read()
    writer.join()
    assert(got.length === payload.length)
    assert(java.util.Arrays.equals(got, payload))
  }

  // ---- live socket -------------------------------------------------------

  test("handshake over the socket: v10 greeting, auth accepted, ping works") {
    val c = connect()
    try {
      assert(c.greeting.protocolVersion === 10)
      assert(c.greeting.serverVersion.contains("graft"))
      assert(c.greeting.salt.length === 20)
      assert((c.greeting.capabilities & ClientProtocol41) !== 0)
      assert((c.greeting.capabilities & ClientSecureConnection) !== 0)
      assert(c.greeting.authPlugin === "mysql_native_password")
      assert(c.ping())
    } finally c.close()
  }

  test("a wrong password is rejected with ERR 1045 (access denied)") {
    Tables.registerAll(spark, sfDir)
    val port = MysqlServer.ensureStarted(spark)
    val e = intercept[Exception] {
      new MysqlClient("127.0.0.1", port, "root", "not-the-password")
    }
    assert(e.getMessage.contains("1045"))
    assert(e.getMessage.toLowerCase.contains("access denied"))
  }

  test("COM_QUERY resultset carries typed column definitions and exact values") {
    val c = connect()
    try {
      val rs = c.select(
        """SELECT n_regionkey, count(*) AS n, min(n_name) AS first_name
          |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)
      assert(rs.columns.map(_.name) === Vector("n_regionkey", "n", "first_name"))
      assert(rs.columns(0).typeCode === TypeLong)      // INT
      assert(rs.columns(1).typeCode === TypeLongLong)  // BIGINT count
      assert(rs.columns(2).typeCode === TypeVarString) // STRING
      assert(rs.columns(0).charset === CharsetBinary)
      assert(rs.columns(2).charset === CharsetUtf8)
      val direct = spark.table("nation")
        .groupBy("n_regionkey")
        .agg(org.apache.spark.sql.functions.count("*").as("n"),
          org.apache.spark.sql.functions.min("n_name").as("first_name"))
        .orderBy("n_regionkey")
        .collect()
        .map(r => Vector(Some(r.get(0).toString), Some(r.get(1).toString), Some(r.getString(2))))
        .toVector
      assert(rs.rows === direct)
    } finally c.close()
  }

  test("NULLs ride the 0xfb marker; dates and booleans use MySQL text forms") {
    val c = connect()
    try {
      val rs = c.select(
        "SELECT CAST(NULL AS INT) AS a, DATE'2024-02-29' AS d, true AS b, 1.5E0 AS x")
      assert(rs.rows === Vector(Vector(None, Some("2024-02-29"), Some("1"), Some("1.5"))))
      assert(rs.columns(1).typeCode === TypeDate)
      assert(rs.columns(2).typeCode === TypeTiny)
      assert(rs.columns(3).typeCode === TypeDouble)
    } finally c.close()
  }

  test("the engine dialect works as plain COM_QUERY text") {
    val c = connect()
    try {
      // session vars
      assert(c.query("SET @floor = 40 + 2").isLeft)
      val v = c.select("SELECT @floor + 1 AS v")
      assert(v.rows === Vector(Vector(Some("43"))))
      // system vars + SHOW VARIABLES
      val ver = c.select("SELECT @@version_comment AS c")
      assert(ver.rows.head.head.get.contains("graft"))
      val sv = c.select("SHOW VARIABLES LIKE 'version%'")
      assert(sv.columns.map(_.name) === Vector("Variable_name", "Value"))
      assert(sv.rows.nonEmpty)
      // txn no-ops answer OK
      assert(c.query("BEGIN").isLeft && c.query("COMMIT").isLeft)
      // PREPARE / EXECUTE with positional binding
      assert(c.query("PREPARE p1 FROM 'SELECT n_name FROM nation WHERE n_nationkey = ? ORDER BY n_name'").isLeft)
      val ex = c.select("EXECUTE p1 USING 3")
      assert(ex.rows.length === 1)
      // SHOW CREATE TABLE renders MySQL DDL
      val sc = c.select("SHOW CREATE TABLE nation")
      assert(sc.rows.head(1).get.contains("CREATE TABLE"))
      assert(sc.rows.head(1).get.contains("ENGINE=InnoDB"))
      // bracket-quoted identifiers normalize (reference cass_test.go:593)
      val br = c.select("SELECT [n_name] FROM nation WHERE [n_nationkey] = 0")
      assert(br.rows.length === 1)
      // MySQL's `EXPLAIN <table>` = DESCRIBE (mysql_handler.go:239 routes
      // both); `EXPLAIN SELECT` stays Spark-native plan output
      val desc = c.select("EXPLAIN nation")
      assert(desc.columns.map(_.name).contains("col_name"))
      assert(desc.rows.map(_.head.get).contains("n_nationkey"))
      val plan = c.select("EXPLAIN SELECT count(*) FROM nation")
      assert(plan.rows.head.head.get.contains("Physical Plan"))
    } finally c.close()
  }

  test("session variables are isolated per connection") {
    val a = connect()
    val b = connect()
    try {
      a.query("SET @who = 'conn_a'")
      b.query("SET @who = 'conn_b'")
      assert(a.select("SELECT @who AS w").rows.head.head === Some("conn_a"))
      assert(b.select("SELECT @who AS w").rows.head.head === Some("conn_b"))
    } finally { a.close(); b.close() }
  }

  test("16 concurrent connections keep isolated sessions and exact results") {
    Tables.registerAll(spark, sfDir)
    MysqlServer.ensureStarted(spark)
    val expected = spark.table("nation").count()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val runs = (0 until 16).map { i =>
      Future {
        val c = connect()
        try {
          c.query(s"SET @me = $i")
          val n = c.select("SELECT count(*) AS n FROM nation").rows.head.head.get.toLong
          val me = c.select("SELECT @me AS v").rows.head.head.get.toInt
          (n, me, i)
        } finally c.close()
      }
    }
    val results = Await.result(Future.sequence(runs), 120.seconds)
    results.foreach { case (n, me, i) =>
      assert(n === expected, s"conn $i row count")
      assert(me === i, s"conn $i session-var isolation under concurrency")
    }
  }

  test("a MySQL client reaches a Mongo-wire table: two protocols, one request") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("seg", StringType)))
    val rows: Seq[Array[Any]] = (0L until 50L).map(i =>
      Array[Any](i, if (i % 2 == 0) "even" else "odd"))
    graft.sources.LoopbackMongoServer.register("wire_two", schema, rows)
    val (host, mport) = graft.sources.LoopbackMongoServer.ensureStarted()
    graft.sources.WireEndpoints.register(graft.sources.MongoEndpoint(
      "mysqlmongo", "wire_two", schema,
      graft.sources.MongoEndpointSpec(host, mport,
        graft.sources.LoopbackMongoServer.Db, "wire_two",
        graft.sources.MongoClientConfig())))
    if (graft.sources.SourceRegistry.get("mysqlmongo").isEmpty)
      graft.sources.SourceRegistry.register(graft.sources.SourceDef("mysqlmongo",
        new java.io.File(sys.props("user.dir"), "target/graft-test/mysqlmongo").getPath,
        "json", "mongo"))
    graft.sources.SourceRegistry.ensureCatalog(spark)
    val c = connect()
    try {
      // COM_QUERY -> GraftEngine -> catalog -> Mongo OP_MSG socket: the
      // WHERE must reach the mongod; count(*)+WHERE now pushes as ONE
      // aggregate pipeline (r14), so the predicate rides the $match stage
      val rs = c.select(
        "SELECT count(*) AS n FROM graft.mysqlmongo.wire_two WHERE seg = 'even'")
      assert(rs.rows(0)(0).contains("25"))
      assert(graft.sources.LoopbackMongoServer.lastAggregate.get().contains("seg"),
        "the MySQL-issued WHERE must ship in the pipeline's $match")
    } finally c.close()
  }

  test("a bad statement returns ERR 1064 and the connection stays usable") {
    val c = connect()
    try {
      val e = intercept[Exception] { c.select("SELECT FROM WHERE") }
      assert(e.getMessage.contains("1064"))
      // connection survives the error
      assert(c.select("SELECT 1 AS one").rows === Vector(Vector(Some("1"))))
    } finally c.close()
  }

  test("binary protocol: COM_STMT_PREPARE/EXECUTE round-trips typed params and rows") {
    val c = connect()
    try {
      val ok = c.stmtPrepare(
        "SELECT n_nationkey, n_name, CAST(n_regionkey AS DOUBLE) AS rk " +
          "FROM nation WHERE n_nationkey = ? OR n_name = ? ORDER BY n_nationkey")
      assert(ok.numParams === 2)
      val rs = c.stmtExecute(ok.stmtId, Seq(3, "Nation#00")).toOption.get
      assert(rs.columns.map(_.name) === Vector("n_nationkey", "n_name", "rk"))
      // values come back TYPED through the binary codec, not as text
      val byKey = rs.rows.map(r => (r(0).get, r(1).get, r(2).get))
      assert(byKey.exists { case (k, _, rk) =>
        k.isInstanceOf[Int] && k == 3 && rk.isInstanceOf[Double] })
      val direct = spark.table("nation")
        .filter("n_nationkey = 3 OR n_name = 'Nation#00'")
        .count()
      assert(rs.rows.length.toLong === direct)
      c.stmtClose(ok.stmtId)
      // a closed statement id is ERR 1243
      val e = intercept[Exception] { c.stmtExecute(ok.stmtId, Seq(1, "x")) }
      assert(e.getMessage.contains("1243"))
      // ? inside a "…" string or a `…` identifier is data, and an
      // apostrophe inside "…" opens no string
      assert(c.stmtPrepare("SELECT \"a?\" AS x, ? AS y").numParams === 1)
      assert(c.stmtPrepare("SELECT `a?b` FROM t WHERE id = ?").numParams === 1)
      val ob = c.stmtPrepare(
        "SELECT n_nationkey FROM nation WHERE n_name = \"O'Brien\" OR n_nationkey = ?")
      assert(ob.numParams === 1)
      assert(c.stmtExecute(ob.stmtId, Seq(3)).toOption.get.rows === Vector(Vector(Some(3))))
    } finally c.close()
  }

  test("binary protocol: NULL params ride the bitmap; NULL results ride the row bitmap") {
    val c = connect()
    try {
      val ok = c.stmtPrepare("SELECT ? AS a, CAST(NULL AS BIGINT) AS b, ? AS c")
      assert(ok.numParams === 2)
      val rs = c.stmtExecute(ok.stmtId, Seq(null, 42L)).toOption.get
      assert(rs.rows.length === 1)
      assert(rs.rows.head(1) === None)        // NULL column via row bitmap
      assert(rs.rows.head(2) === Some(42L))   // LONGLONG binary round trip
      c.stmtClose(ok.stmtId)
    } finally c.close()
  }

  test("an unknown command byte gets ERR 1047, not a hang") {
    Tables.registerAll(spark, sfDir)
    val port = MysqlServer.ensureStarted(spark)
    val sock = new java.net.Socket("127.0.0.1", port)
    try {
      val io = new PacketIO(sock.getInputStream, sock.getOutputStream)
      val greeting = decodeHandshake(io.read())
      io.write(encodeHandshakeResponse(HandshakeResponse(
        ClientProtocol41 | ClientSecureConnection | ClientPluginAuth,
        1 << 24, CharsetUtf8, "root",
        nativePasswordScramble(MysqlServer.Password, greeting.salt),
        None, "mysql_native_password")))
      io.flush()
      assert(isOk(io.read()))
      io.resetSeq()
      io.write(Array[Byte](0x1f)) // COM_RESET_CONNECTION — unsupported here
      io.flush()
      val p = io.read()
      assert(isErr(p))
      assert(decodeErr(p).code === 1047)
    } finally sock.close()
  }
}
