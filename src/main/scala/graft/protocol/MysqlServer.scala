package graft.protocol

import java.net.{InetAddress, ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{LocalDate, LocalDateTime}
import java.time.format.DateTimeFormatter
import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions.{col, to_json}
import org.apache.spark.sql.types._

import graft.engine.{GraftEngine, SqlText}
import MysqlWire._

/** MySQL wire-protocol listener over the engine — the reference's front
  * door (dataux proxy/server.go:62-110 accepts mysql clients;
  * frontends/mysqlfe/mysql_handler.go:130-166 dispatches COM_QUERY into
  * the planner). Here each COM_QUERY goes through [[GraftEngine.sql]], so
  * the whole dialect — session vars, SHOW/DESCRIBE, PREPARE/EXECUTE,
  * UPSERT/UPDATE/DELETE, CREATE SOURCE, bracket-quoted identifiers — is
  * reachable from any protocol-41 client with no JVM on the client side.
  *
  * Session semantics: one [[GraftEngine]] per connection (its own @vars
  * and prepared statements, MySQL session scoping), over the one shared
  * SparkSession — mirroring how the reference keeps per-connection
  * session state in front of shared backends.
  *
  * Scale: the listener is control-plane only. Query execution is the
  * engine's usual distributed plan, run by [[FrontDoorExec]] as one Spark
  * job per window of at most `defaultParallelism` partitions (none when
  * the rows are already on the driver); each window's rows go out in
  * partition order before the next job starts, so the server holds at
  * most one window's rows, never a full resultset.
  */
final class MysqlServer(
    spark: SparkSession,
    password: String = "graft",
    bindHost: String = "127.0.0.1") {

  @volatile private var server: ServerSocket = _
  @volatile private var running = false
  private val connIds = new AtomicLong(0)
  private val rng = new java.security.SecureRandom()
  private val tsFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  def port: Int = server.getLocalPort

  def start(): Int = synchronized {
    if (running) return port
    server = new ServerSocket(0, 64, InetAddress.getByName(bindHost))
    running = true
    val t = new Thread(() => acceptLoop(), "graft-mysql-accept")
    t.setDaemon(true)
    t.start()
    port
  }

  def stop(): Unit = synchronized {
    running = false
    if (server != null) try server.close() catch { case NonFatal(_) => }
  }

  private def acceptLoop(): Unit =
    while (running) {
      try {
        val sock = server.accept()
        val t = new Thread(() => serve(sock), s"graft-mysql-conn-${connIds.get()}")
        t.setDaemon(true)
        t.start()
      } catch {
        case _: SocketException if !running => // closed on stop()
        case NonFatal(_) if !running =>
        case NonFatal(_) =>
          // transient accept failure while RUNNING (fd exhaustion, reset
          // in the backlog — SocketException included): back off and keep
          // listening — killing this thread would silently stop the
          // listener while ensureStarted still reports it alive, and a
          // bare retry would hot-spin on a persistent failure
          try Thread.sleep(50) catch { case _: InterruptedException => () }
      }
    }

  // ---- per-connection -----------------------------------------------------

  private def serve(sock: Socket): Unit = {
    sock.setTcpNoDelay(true)
    val io = new PacketIO(sock.getInputStream, sock.getOutputStream)
    val engine = new GraftEngine(spark) // per-connection session state
    // per-connection prepared-statement registry (COM_STMT_* scope is the
    // connection, mysql_handler.go:142 dispatch)
    val stmts = scala.collection.mutable.Map.empty[Int, (String, Int)]
    var nextStmtId = 0
    try {
      if (!handshake(io)) return
      var open = true
      while (open) {
        io.resetSeq()
        val cmd = io.read()
        if (cmd.isEmpty) open = false
        else (cmd(0) & 0xff) match {
          case ComQuit => open = false
          case ComPing => io.write(encodeOk(0)); io.flush()
          case ComInitDb => io.write(encodeOk(0)); io.flush()
          case ComQuery =>
            val text = new String(cmd, 1, cmd.length - 1, UTF_8)
            respond(io, binary = false)(engine.execute(text))
          case ComStmtPrepare =>
            val text = new String(cmd, 1, cmd.length - 1, UTF_8)
            nextStmtId += 1
            val nParams = SqlText.placeholders(text)
            stmts(nextStmtId) = (text, nParams)
            io.write(encodeStmtPrepareOk(nextStmtId, 0, nParams))
            // param definition packets + EOF (type '?', resolved at execute)
            if (nParams > 0) {
              (0 until nParams).foreach { i =>
                io.write(encodeColumnDef(ColumnDef("", "", s"?$i",
                  CharsetBinary, 0, TypeVarString, 0, 0)))
              }
              io.write(encodeEof())
            }
            io.flush()
          case ComStmtExecute =>
            runStmtExecute(io, engine, stmts, cmd)
          case ComStmtClose =>
            val r = new ByteReader(cmd); r.skip(1)
            stmts.remove(r.u32().toInt) // no response, per the protocol
          case other =>
            io.write(encodeErr(1047, "08S01", s"unknown command 0x${other.toHexString}"))
            io.flush()
        }
      }
    } catch {
      case _: java.io.EOFException => // client went away
      case NonFatal(e) =>
        try { io.write(encodeErr(1105, "HY000", String.valueOf(e.getMessage))); io.flush() }
        catch { case NonFatal(_) => }
    } finally {
      try sock.close() catch { case NonFatal(_) => }
    }
  }

  /** v10 handshake + HandshakeResponse41 + real mysql_native_password
    * verification against the configured password. */
  private def handshake(io: PacketIO): Boolean = {
    val salt = new Array[Byte](20)
    rng.nextBytes(salt)
    // the scramble must be NUL-free (cstring-framed in some client libs)
    var i = 0
    while (i < salt.length) { if (salt(i) == 0) salt(i) = 1; i += 1 }
    io.write(encodeHandshake(Handshake(
      protocolVersion = 10,
      serverVersion = "8.0.0-graft",
      connectionId = connIds.incrementAndGet(),
      salt = salt,
      capabilities = ServerCapabilities,
      charset = CharsetUtf8,
      statusFlags = 0x0002,
      authPlugin = "mysql_native_password")))
    io.flush()
    val resp = decodeHandshakeResponse(io.read())
    val ok = verifyNativePassword(resp.authToken, password, salt)
    if (ok) io.write(encodeOk(0))
    else io.write(encodeErr(1045, "28000",
      s"Access denied for user '${resp.username}'"))
    io.flush()
    ok
  }

  /** COM_STMT_EXECUTE: decode the NULL bitmap + bound types + binary
    * values, bind them as SQL literals into the prepared text, run, and
    * answer with a BINARY-protocol resultset. */
  private def runStmtExecute(
      io: PacketIO, engine: GraftEngine,
      stmts: scala.collection.mutable.Map[Int, (String, Int)],
      cmd: Array[Byte]): Unit = {
    val r = new ByteReader(cmd)
    r.skip(1)
    val stmtId = r.u32().toInt
    r.skip(1) // flags
    r.skip(4) // iteration count (always 1)
    stmts.get(stmtId) match {
      case None =>
        io.write(encodeErr(1243, "HY000", s"Unknown prepared statement handler ($stmtId)"))
        io.flush()
      case Some((text, nParams)) =>
        respond(io, binary = true)(engine.execute(SqlText.bind(text, boundArgs(r, nParams))))
    }
  }

  /** The bound parameters of a COM_STMT_EXECUTE as SQL literal text. */
  private def boundArgs(r: ByteReader, nParams: Int): Seq[String] =
    if (nParams == 0) Nil
    else {
      val bitmap = r.raw((nParams + 7) / 8)
      val newBound = r.u8()
      require(newBound == 1, "execute without bound parameter types")
      // keep the flag byte: bit 0x80 of it marks UNSIGNED — a
      // TINYINT param of 200 must not sign-extend to -56
      val types = (0 until nParams).map { _ =>
        val t = r.u16(); (t & 0xff, (t & 0x8000) != 0)
      }
      (0 until nParams).map { i =>
        if ((bitmap(i / 8) & (1 << (i % 8))) != 0) "NULL"
        else {
          val (tpe, unsigned) = types(i)
          SqlText.literal(MysqlWire.readBinaryValue(r, tpe, unsigned))
        }
      }
    }

  /** The one answer path of COM_QUERY and COM_STMT_EXECUTE: keyed
    * UPDATE/UPSERT answer OK carrying their affected rows, a statement
    * without columns OK with none (INSERT and DELETE report their counts
    * elsewhere, so they stay 0 rather than force a second job), anything
    * else a text or binary resultset. Any failure — parameter decode,
    * planning, or a job failing after rows went out — ends in ERR 1064
    * and leaves the connection usable. */
  private def respond(io: PacketIO, binary: Boolean)(run: => Either[Long, DataFrame]): Unit =
    try {
      run match {
        case Left(affected) => io.write(encodeOk(affected))
        case Right(df) if df.schema.isEmpty => io.write(encodeOk(0))
        case Right(df) => writeResultSet(io, df, binary)
      }
      io.flush()
    } catch {
      case NonFatal(e) =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
        io.write(encodeErr(1064, "42000", msg.take(480)))
        io.flush()
    }

  private def writeResultSet(io: PacketIO, df0: DataFrame, binary: Boolean): Unit = {
    // complex columns ship as JSON text (the reference renders document
    // fields as JSON strings in resultsets, elasticsearch/source.go rows)
    val df = df0.schema.fields.foldLeft(df0) { (d, f) =>
      f.dataType match {
        case _: ArrayType | _: MapType | _: StructType =>
          d.withColumn(f.name, to_json(col(s"`${f.name}`")))
        case _ => d
      }
    }
    val schema = df.schema
    io.write(new ByteWriter().lenencInt(schema.length.toLong).bytes)
    schema.fields.foreach { f =>
      io.write(encodeColumnDef(ColumnDef(
        schema = "graft", table = "", name = f.name,
        charset = charsetFor(f.dataType),
        columnLength = defaultDisplayLength(f.dataType),
        typeCode = typeCode(f.dataType),
        flags = if (f.nullable) 0 else 0x0001 /* NOT_NULL */,
        decimals = f.dataType match {
          case d: DecimalType => d.scale
          case FloatType | DoubleType => 0x1f
          case _ => 0
        })))
    }
    io.write(encodeEof())
    val encode = rowEncoder(schema, binary)
    FrontDoorExec.foreachRow(df)(row => io.write(encode(row)))
    io.write(encodeEof())
  }

  /** One result row as a text- or binary-protocol row packet, read straight
    * off the `InternalRow`: text is a lenenc string per value (0xfb for
    * NULL); binary is a 0x00 header, the NULL bitmap with its 2-bit
    * offset, then the non-NULL values in column order. */
  private def rowEncoder(schema: StructType, binary: Boolean): InternalRow => Array[Byte] = {
    val cells = schema.fields.map(f => cellWriter(f.dataType, binary))
    val n = cells.length
    row => {
      val w = new ByteWriter
      if (binary) {
        val bitmap = new Array[Byte]((n + 7 + 2) / 8)
        var i = 0
        while (i < n) {
          if (row.isNullAt(i)) bitmap((i + 2) / 8) = (bitmap((i + 2) / 8) | (1 << ((i + 2) % 8))).toByte
          i += 1
        }
        w.u8(0x00).raw(bitmap)
      }
      var i = 0
      while (i < n) {
        if (!row.isNullAt(i)) cells(i)(w, row, i) else if (!binary) w.u8(0xfb)
        i += 1
      }
      w.bytes
    }
  }

  /** How one non-NULL value of type `dt` goes on the wire. Dates and
    * timestamps render in the engine's session zone (UTC): a TIMESTAMP's
    * micros are its UTC wall clock, like a TIMESTAMP_NTZ's. */
  private def cellWriter(dt: DataType, binary: Boolean): (ByteWriter, InternalRow, Int) => Unit = {
    def text(f: (InternalRow, Int) => String): (ByteWriter, InternalRow, Int) => Unit =
      (w, r, i) => w.lenencStr(f(r, i))
    def wall(micros: Long): LocalDateTime = DateTimeUtils.microsToLocalDateTime(micros)
    (dt, binary) match {
      case (BooleanType, false) => text((r, i) => if (r.getBoolean(i)) "1" else "0")
      case (BooleanType, true) => (w, r, i) => w.u8(if (r.getBoolean(i)) 1 else 0)
      case (ByteType, false) => text(_.getByte(_).toString)
      case (ByteType, true) => (w, r, i) => w.u8(r.getByte(i))
      case (ShortType, false) => text(_.getShort(_).toString)
      case (ShortType, true) => (w, r, i) => w.u16(r.getShort(i))
      case (IntegerType, false) => text(_.getInt(_).toString)
      case (IntegerType, true) => (w, r, i) => w.u32(r.getInt(i) & 0xffffffffL)
      case (LongType, false) => text(_.getLong(_).toString)
      case (LongType, true) => (w, r, i) => w.u64(r.getLong(i))
      case (FloatType, false) => text(_.getFloat(_).toString)
      case (FloatType, true) => (w, r, i) =>
        w.u32(java.lang.Float.floatToIntBits(r.getFloat(i)) & 0xffffffffL)
      case (DoubleType, false) => text(_.getDouble(_).toString)
      case (DoubleType, true) => (w, r, i) => w.u64(java.lang.Double.doubleToLongBits(r.getDouble(i)))
      case (d: DecimalType, _) => text(_.getDecimal(_, d.precision, d.scale).toJavaBigDecimal.toString)
      case (_: StringType, _) => (w, r, i) => w.lenencBytes(r.getUTF8String(i).getBytes)
      case (BinaryType, _) => (w, r, i) => w.lenencBytes(r.getBinary(i))
      case (DateType, false) =>
        text((r, i) => DateTimeFormatter.ISO_LOCAL_DATE.format(LocalDate.ofEpochDay(r.getInt(i))))
      case (DateType, true) => (w, r, i) =>
        writeBinaryValue(w, TypeDate, LocalDate.ofEpochDay(r.getInt(i)))
      case (TimestampType | TimestampNTZType, false) => text((r, i) => tsFormat.format(wall(r.getLong(i))))
      case (TimestampType | TimestampNTZType, true) => (w, r, i) =>
        writeBinaryValue(w, TypeDatetime, wall(r.getLong(i)))
      case _ => // the rest as the text of its external value
        val external = CatalystTypeConverters.createToScalaConverter(dt)
        text((r, i) => String.valueOf(external(r.get(i, dt))))
    }
  }

  private def defaultDisplayLength(dt: DataType): Long = dt match {
    case BooleanType | ByteType => 4
    case ShortType => 6
    case IntegerType => 11
    case LongType => 20
    case FloatType => 12
    case DoubleType => 22
    case d: DecimalType => d.precision.toLong + 2
    case DateType => 10
    case TimestampType | TimestampNTZType => 26
    case _ => 1024
  }
}

/** JVM-global lazy listener for the correctness gate and specs — one
  * loopback server shared by every in-process client, mirroring
  * [[graft.sources.LoopbackRestServer]]. */
object MysqlServer {
  val Password = "graft"

  @volatile private var inst: MysqlServer = _

  def ensureStarted(spark: SparkSession): Int = synchronized {
    if (inst == null) { inst = new MysqlServer(spark, Password); inst.start() }
    inst.port
  }
}
