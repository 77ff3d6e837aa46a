package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.engine.GraftEngine
import graft.protocol.{MysqlClient, MysqlServer, MysqlWire}
import graft.sources.{FileTable, SourceRegistry}

/** `frontdoor_mixed`: concurrent MySQL connections send the seeded mix
  * through the listener — CSV-connector and parquet reads, prepared
  * COM_STMT_EXECUTE lookups, metadata statements, and keyed writes on one
  * benchmark-owned table per connection (so no two connections race on a
  * table's files, and each connection's writes have an exact model). */
final class FrontDoor(run: Run) extends Workload {
  import run.{plan, spark}

  private val nClients = plan.int("clients")
  private var engine: GraftEngine = _
  private var clients: IndexedSeq[MysqlClient] = _
  private var prepared: IndexedSeq[Int] = _
  private val bytes = new AtomicLong
  private val writes = new AtomicLong
  private val filesWritten = new AtomicLong
  private val bytesWritten = new AtomicLong
  private val userBytes = new AtomicLong

  private def kvFiles(c: Int): Seq[java.io.File] =
    SourceRegistry.get("bench").flatMap(FileTable.open(_, s"kv_$c"))
      .map(_.dataFiles()).getOrElse(Nil)

  /** Payload bytes one exchange put on the wire, re-encoded from the
    * decoded packets with the protocol's own encoders (4-byte header per
    * packet): request, column definitions, rows, EOF/OK terminators. */
  private def wireBytes(req: Int, cols: Seq[MysqlWire.ColumnDef], rows: Seq[Array[Byte]]): Long = {
    val eof = 4 + MysqlWire.encodeEof().length
    if (cols.isEmpty) 4L + req + 4 + MysqlWire.encodeOk(0).length
    else 4L + req + 4 + 1 + cols.map(c => 4 + MysqlWire.encodeColumnDef(c).length).sum +
      eof + rows.map(4 + _.length).sum + eof
  }

  private def exec(c: Int, i: Int, st: Stmt, phase: String): Rec = {
    val cl = clients(c)
    val before = if (run.traced && st.kind == "write") kvFiles(c).map(f => f.getName -> f.length).toMap
      else Map.empty[String, Long]
    val r = run.timed(c, i, st, phase) {
      if (st.op == "prep") {
        cl.stmtExecute(prepared(c), Seq(st.param.get)) match {
          case Left(_) => Nil
          case Right(rs) =>
            if (run.traced) {
              val types = rs.columns.map(_.typeCode)
              bytes.addAndGet(wireBytes(18, rs.columns,
                rs.rows.map(v => MysqlWire.encodeBinaryRow(types, v))))
            }
            rs.rows.map(_.map(v => v.map(Run.cell).orNull))
        }
      } else {
        val req = 1 + st.sql.getBytes(UTF_8).length
        cl.query(st.sql) match {
          case Left(_) =>
            if (run.traced) bytes.addAndGet(wireBytes(req, Nil, Nil))
            Nil
          case Right(rs) =>
            if (run.traced) bytes.addAndGet(wireBytes(req, rs.columns,
              rs.rows.map(v => MysqlWire.encodeTextRow(v.map(_.map(_.getBytes(UTF_8)))))))
            rs.rows.map(_.map(_.orNull))
        }
      }
    }
    if (r.traced) {
      run.spans.add(s"$c:$i", "protocol", "stmt", r.t0, r.t1)
      if (st.kind == "write") {
        val after = kvFiles(c)
        val fresh = after.filter(f => !before.get(f.getName).contains(f.length))
        writes.incrementAndGet()
        filesWritten.addAndGet(fresh.size)
        bytesWritten.addAndGet(fresh.map(_.length).sum)
        userBytes.addAndGet(st.userBytes)
      }
    }
    r
  }

  def setup(): Unit = {
    run.step("tables")(graft.core.Tables.registerAll(spark, plan.dataDir))
    engine = new GraftEngine(spark)
    run.step("fixtures")(plan.strs("setup_sql").foreach(s => engine.sql(s).collect()))
    run.step("connect") {
      val port = MysqlServer.ensureStarted(spark)
      clients = (0 until nClients).map(_ =>
        new MysqlClient("127.0.0.1", port, "root", MysqlServer.Password))
      prepared = clients.map(_.stmtPrepare(plan.str("prepared_sql")).stmtId)
    }
  }

  def warmup(): Unit = {
    // untimed warm-up: connection 0's first cycle, alone, which is also
    // where the load-invariant counts are taken (one client, fixed
    // statements, so they repeat exactly); the other connections start
    // their streams at the ramp
    run.step("warmup") {
      val probe = new Probe(spark).start()
      var files = 0L
      for (i <- 0 until plan.cycle) {
        val st = plan.streams(0)(i)
        if (st.kind == "write") {
          val before = kvFiles(0).map(f => f.getName -> f.length).toMap
          exec(0, i, st, "warmup")
          files += kvFiles(0).count(f => !before.get(f.getName).contains(f.length))
        } else exec(0, i, st, "warmup")
      }
      val d = probe.stop()
      run.warmupCounts(plan.cycle, d, files)
    }
    run.ramp(nClients)((c, i, st) => exec(c, i, st, "warmup"))
  }

  def measure(): Unit = {
    val totals = run.closedLoop(nClients, run.afterWarmup,
      if (plan.trace) Some(() => new Probe(spark).start()) else None) { (c, i, st) =>
      exec(c, i, st, "timed")
    }
    if (plan.trace) {
      run.putCounts(run.layers, totals)
      val l = run.layers
      l.put("protocol_bytes", bytes.get)
      l.put("writes", writes.get).put("files_written", filesWritten.get)
        .put("bytes_written", bytesWritten.get).put("user_bytes", userBytes.get)
      paired()
    }
  }

  /** Traced only: the same read and metadata statements over the wire and
    * through an in-process GraftEngine, alternating which goes first, so
    * the protocol's share of a statement can be read off directly. */
  private def paired(): Unit = {
    val probe = new Probe(spark).start()
    val arr = run.layers.putArray("paired")
    plan.stmts(plan.node.get("paired")).zipWithIndex.foreach { case (st, i) =>
      val id = s"p:$i"
      def wire(): (Long, Long) = {
        val t0 = System.nanoTime(); clients(0).query(st.sql); val t1 = System.nanoTime()
        run.spans.add(id, "protocol", "stmt", t0, t1)
        (t0, t1)
      }
      def local(): (Long, Long, Long) = {
        run.tag(s"$id/sql")
        val t0 = System.nanoTime(); val df = engine.sql(st.sql); val t1 = System.nanoTime()
        run.tag(s"$id/collect")
        df.collect(); val t2 = System.nanoTime()
        run.tag(null)
        run.spans.add(id, "engine.sql", "stmt", t0, t1)
        run.spans.add(id, "engine.collect", "stmt", t1, t2)
        (t0, t1, t2)
      }
      val (w, e) = if (i % 2 == 0) { val w = wire(); (w, local()) }
        else { val e = local(); (wire(), e) }
      arr.addObject().put("op", st.op)
        .put("wire_ms", (w._2 - w._1) / 1e6)
        .put("engine_ms", (e._3 - e._1) / 1e6)
        .put("sql_call_ms", (e._2 - e._1) / 1e6)
    }
    probe.stop()
    run.spans.addJobs(probe.jobs.asScala)
  }

  override def finish(): Unit = {
    val arr = run.out.putArray("kv_final")
    for (c <- 0 until nClients) {
      val a = arr.addArray()
      engine.sql(s"SELECT k, v, n FROM graft.bench.kv_$c ORDER BY k").collect().foreach { r =>
        val row = a.addArray(); r.toSeq.foreach(v => row.add(Run.cell(v)))
      }
    }
    run.layers.put("table_files", (0 until nClients).map(kvFiles(_).size).sum.toDouble / nClients)
    clients.foreach(_.close())
  }
}
