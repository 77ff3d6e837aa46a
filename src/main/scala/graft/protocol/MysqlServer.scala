package graft.protocol

import java.net.{InetAddress, ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * engine's usual distributed plan; rows stream back through
  * `toLocalIterator` one partition at a time, so the server never
  * materializes a full resultset on the heap.
  */
final class MysqlServer(
    spark: SparkSession,
    password: String = "graft",
    bindHost: String = "127.0.0.1") {

  @volatile private var server: ServerSocket = _
  @volatile private var running = false
  private val connIds = new AtomicLong(0)
  private val rng = new java.security.SecureRandom()

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
            runQuery(io, engine, text)
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
        try {
          val args: Seq[String] =
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
          val bound = SqlText.bind(text, args)
          val df = engine.sql(bound)
          if (df.schema.isEmpty) { io.write(encodeOk(0)); io.flush() }
          else writeResultSet(io, df, binary = true)
        } catch {
          case NonFatal(e) =>
            val msg = Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
            io.write(encodeErr(1064, "42000", msg.take(480)))
            io.flush()
        }
    }
  }

  private def runQuery(io: PacketIO, engine: GraftEngine, text: String): Unit =
    try {
      val df = engine.sql(text)
      if (df.schema.isEmpty) { io.write(encodeOk(affectedRows(df))); io.flush() }
      else writeResultSet(io, df)
    } catch {
      case NonFatal(e) =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
        io.write(encodeErr(1064, "42000", msg.take(480)))
        io.flush()
    }

  /** DML paths return an empty-schema frame; the engine reports counts via
    * accumulators elsewhere — affected-rows 0 keeps OK semantics honest
    * without forcing a second job. */
  private def affectedRows(df: DataFrame): Long = 0L

  private def writeResultSet(io: PacketIO, df0: DataFrame, binary: Boolean = false): Unit = {
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
    val dateFmt = java.time.format.DateTimeFormatter.ISO_LOCAL_DATE
    val tsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
    val types = schema.fields.toIndexedSeq.map(f => typeCode(f.dataType))
    val it = df.toLocalIterator()
    while (it.hasNext) {
      val row = it.next()
      if (binary) {
        val vals: IndexedSeq[Option[Any]] = schema.fields.indices.map { i =>
          if (row.isNullAt(i)) None
          else Some(schema.fields(i).dataType match {
            case DateType => row.getAs[java.sql.Date](i).toLocalDate
            // render in the engine's session zone (UTC), NOT the JVM
            // default — Timestamp.toLocalDateTime would shift wire
            // results on any non-UTC host
            case TimestampType => row.getAs[java.sql.Timestamp](i).toInstant
              .atOffset(java.time.ZoneOffset.UTC).toLocalDateTime
            case _ => row.get(i)
          })
        }
        io.write(encodeBinaryRow(types, vals))
      } else {
        val vals: Seq[Option[Array[Byte]]] = schema.fields.indices.map { i =>
          if (row.isNullAt(i)) None
          else Some(schema.fields(i).dataType match {
            case BooleanType => (if (row.getBoolean(i)) "1" else "0").getBytes(UTF_8)
            case BinaryType => row.getAs[Array[Byte]](i)
            case DateType => dateFmt.format(row.getAs[java.sql.Date](i).toLocalDate).getBytes(UTF_8)
            case TimestampType =>
              tsFmt.format(row.getAs[java.sql.Timestamp](i).toInstant
                .atOffset(java.time.ZoneOffset.UTC)).getBytes(UTF_8)
            case TimestampNTZType =>
              tsFmt.format(row.getAs[java.time.LocalDateTime](i)).getBytes(UTF_8)
            case _ => String.valueOf(row.get(i)).getBytes(UTF_8)
          })
        }
        io.write(encodeTextRow(vals))
      }
    }
    io.write(encodeEof())
    io.flush()
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
