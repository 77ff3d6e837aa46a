package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{Row, SparkSession}

/** One generated statement. `param` is the bound value of a prepared
  * statement; `sql` is what the engine receives; `userBytes` is the size of
  * the user data a write carries. */
final case class Stmt(op: String, kind: String, sql: String, param: Option[Long],
    userBytes: Int = 0)

/** The workload plan written by `run.py`: every statement comes from the
  * workload seed there, so the JVM only executes and times. */
final class Plan(val node: JsonNode) {
  def str(k: String): String = node.get(k).asText()
  def int(k: String): Int = node.get(k).asInt()
  def dbl(k: String): Double = node.get(k).asDouble()
  def strs(k: String): Seq[String] =
    Option(node.get(k)).map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
  def stmts(n: JsonNode): IndexedSeq[Stmt] = n.elements().asScala.map { s =>
    Stmt(s.get("op").asText(), s.get("kind").asText(), s.get("sql").asText(),
      Option(s.get("param")).filter(!_.isNull).map(_.asLong()),
      Option(s.get("ub")).map(_.asInt()).getOrElse(0))
  }.toIndexedSeq
  lazy val streams: IndexedSeq[IndexedSeq[Stmt]] =
    node.get("streams").elements().asScala.map(stmts).toIndexedSeq
  val seconds: Double = dbl("seconds")
  val trace: Boolean = node.get("trace").asBoolean()
  val cycle: Int = int("cycle_len")
  val dataDir: String = str("data_dir")
}

/** A timed statement: client, index in its stream, nanoTime interval,
  * outcome, result rows (for the correctness check after the run) and
  * whether it ran in a traced quarter. */
final case class Rec(c: Int, i: Int, st: Stmt, t0: Long, t1: Long,
    ok: Boolean, err: String, rows: Seq[Seq[String]], traced: Boolean, phase: String)

/** Spans of the traced run, kept in memory and written at exit. Times are
  * epoch microseconds; `stmt` groups the spans of one statement. */
final class Spans {
  private val q = new ConcurrentLinkedQueue[(String, String, String, Long, Long)]
  private val nano0 = System.nanoTime()
  private val epochUs0 = System.currentTimeMillis() * 1000L
  def us(nano: Long): Long = epochUs0 + (nano - nano0) / 1000L
  def add(stmt: String, name: String, parent: String, t0: Long, t1: Long): Unit =
    q.add((stmt, name, parent, us(t0), us(t1)))
  def addJobs(jobs: Iterable[JobSpan]): Unit = jobs.foreach { j =>
    val (stmt, phase) = j.tag.split("/", 2) match {
      case Array(s, p) => (s, p)
      case _ => ("", "")
    }
    q.add((stmt, "spark.job", phase, j.start * 1000L, j.end * 1000L))
  }
  def write(f: File, m: ObjectMapper): Unit = {
    val arr = m.createArrayNode()
    q.asScala.foreach { case (s, n, p, a, b) =>
      arr.addObject().put("stmt", s).put("name", n).put("parent", p).put("start", a).put("end", b)
    }
    m.writeValue(f, arr)
  }
}

/** Shared run state of one benchmark process. */
final class Run(val spark: SparkSession, val plan: Plan, val workDir: File) {
  val mapper = new ObjectMapper()
  val recs = new ConcurrentLinkedQueue[Rec]
  val spans = new Spans
  val out: ObjectNode = mapper.createObjectNode()
  val layers: ObjectNode = out.putObject("layers")
  val counts: ObjectNode = out.putObject("counts")
  @volatile var traced = false

  def tag(s: String): Unit = spark.sparkContext.setLocalProperty(Probe.TagKey, s)

  val phases: ObjectNode = out.putObject("setup_phases")
  /** Times one named step of the set-up, reported next to `setup_s`. */
  def step[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally phases.put(name, (System.nanoTime() - t0) / 1e9)
  }

  /** Time one statement and keep its record; errors become failed records. */
  def timed(c: Int, i: Int, st: Stmt, phase: String)(body: => Seq[Seq[String]]): Rec = {
    val tr = traced
    val t0 = System.nanoTime()
    val (ok, err, rows) =
      try { val r = body; (true, null, r) }
      catch { case e: Throwable => (false, String.valueOf(e.getMessage).take(300), Nil) }
    val t1 = System.nanoTime()
    val r = Rec(c, i, st, t0, t1, ok, err, rows, tr, phase)
    recs.add(r)
    if (tr) spans.add(s"$c:$i", "stmt", "", t0, t1)
    r
  }

  /** Whether the warm-up has a ramp: with one client, its solo cycle
    * already runs at the window's concurrency. */
  private val ramped = plan.int("clients") > 1

  /** Where client `c`'s stream stands after the warm-up: client 0 ran its
    * first cycle alone, then, with a ramp, every client ran one cycle. */
  def afterWarmup(c: Int): Int =
    if (!ramped) plan.cycle else (if (c == 0) plan.cycle else 0) + plan.cycle

  /** The ramp: after client 0's solo warm-up cycle, every client runs one
    * cycle at once, untimed, so the timed window starts with the JIT and
    * the plan and codegen caches warm under the window's concurrency. */
  def ramp(clients: Int)(exec: (Int, Int, Stmt) => Unit): Unit = if (ramped) step("ramp") {
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        for (i <- afterWarmup(c) - plan.cycle until afterWarmup(c)) exec(c, i, plan.streams(c)(i))
      }, s"perfbench-ramp-$c")
      t.start(); t
    }
    threads.foreach(_.join())
  }

  /** Runs each client's stream from `from(c)` in a closed loop (the next
    * statement leaves only when the previous returned) until the window
    * closes. With tracing, the window alternates untraced and traced
    * quarters; per-layer numbers come from the traced quarters and the
    * tracing overhead from comparing the two. Returns the traced totals. */
  def closedLoop(clients: Int, from: Int => Int, probe: Option[() => Probe])(
      exec: (Int, Int, Stmt) => Unit): Map[String, Long] = {
    val streams = plan.streams
    val windowNs = (plan.seconds * 1e9).toLong
    val start = System.nanoTime()
    val deadline = start + windowNs
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        var i = from(c)
        while (System.nanoTime() < deadline && i < streams(c).length) {
          exec(c, i, streams(c)(i)); i += 1
        }
      }, s"perfbench-client-$c")
      t.start(); t
    }
    var layerTotals = Map.empty[String, Long]
    probe.foreach { mk =>
      // off, on, off, on
      for (q <- 0 until 4) {
        val qEnd = start + windowNs * (q + 1) / 4
        var p: Probe = null
        if (q % 2 == 1) { p = mk(); traced = true }
        while (System.nanoTime() < qEnd && threads.exists(_.isAlive)) Thread.sleep(5)
        if (p != null) {
          traced = false
          layerTotals = Probe.sum(layerTotals, p.stop())
          spans.addJobs(p.jobs.asScala)
        }
      }
    }
    threads.foreach(_.join())
    out.put("window_s", (System.nanoTime() - start) / 1e9)
    layerTotals
  }

  def putCounts(node: ObjectNode, d: Map[String, Long]): Unit =
    d.toSeq.sortBy(_._1).foreach { case (k, v) => node.put(k, v) }

  /** The load-invariant counts of the warm-up: one client, fixed statements. */
  def warmupCounts(statements: Int, d: Map[String, Long], filesWritten: Long): Unit =
    putCounts(counts, Map("statements" -> statements.toLong, "jobs" -> d("jobs"),
      "tasks" -> d("tasks"), "wire_requests" -> d("wire_requests"),
      "rows_read" -> d("rows_read"), "files_written" -> filesWritten))

  def write(): Unit = {
    val arr = out.putArray("records")
    recs.asScala.toSeq.sortBy(r => (r.c, r.i, r.phase)).foreach { r =>
      val o = arr.addObject()
      o.put("c", r.c).put("i", r.i).put("op", r.st.op).put("kind", r.st.kind)
        .put("lat_ms", (r.t1 - r.t0) / 1e6).put("t0_ns", r.t0).put("ok", r.ok).put("traced", r.traced).put("phase", r.phase)
      if (r.err != null) o.put("err", r.err)
      val rows = o.putArray("rows")
      r.rows.foreach { row => val a = rows.addArray(); row.foreach(a.add) }
    }
    if (plan.trace) spans.write(new File(workDir, "spans.json"), mapper)
    mapper.writeValue(new File(workDir, "result.json"), out)
  }
}

object Run {
  def cell(v: Any): String = v match {
    case null => null
    case b: Array[Byte] => new String(b, java.nio.charset.StandardCharsets.UTF_8)
    case o => o.toString
  }
  def rowsOf(rs: Array[Row]): Seq[Seq[String]] = rs.toSeq.map(r => r.toSeq.map(cell))
}

object Main {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: perfbench.Main <plan.json> <work dir>")
    val mapper = new ObjectMapper()
    val plan = new Plan(mapper.readTree(new File(args(0))))
    val workDir = new File(args(1))
    val cpus = plan.int("cpus")
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.datasourceV2JoinPushdown", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (plan.str("workload") == "stage") {
      stage(spark, plan)
      spark.stop()
      System.exit(0)
    }
    val run = new Run(spark, plan, workDir)
    run.phases.put("session", (System.nanoTime() - t0) / 1e9)
    val workload: Workload = plan.str("workload") match {
      case "frontdoor_mixed" => new FrontDoor(run)
      case "federated_wire" => new FederatedWire(run)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    workload.setup()
    // the full collection behind the live-heap reading runs before the
    // warm-up, so the window does not start on a freshly collected heap
    val heapAfterLoad = Probe.liveHeapMb()
    workload.warmup()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    run.out.put("setup_s", (System.currentTimeMillis() - jvmStart) / 1000.0)
    workload.measure()
    run.out.put("heap_peak_mb", math.max(heapAfterLoad, Probe.liveHeapMb()))
    workload.finish()
    run.write()
    spark.stop()
    System.exit(0)
  }

  /** Has the engine write its federation fixture files, which both
    * workloads read, under the working directory: once per build of the
    * engine, before its first measured run, so every measured run does the
    * same set-up work. */
  private def stage(spark: SparkSession, plan: Plan): Unit =
    graft.sources.FedData.ensure(spark, plan.dataDir)
}

/** A workload: set-up and its untimed warm-up (both counted in `setup_s`;
  * the warm-up is also where the load-invariant counts are taken), the
  * timed window, and post-window checks. */
trait Workload {
  def setup(): Unit
  def warmup(): Unit
  def measure(): Unit
  def finish(): Unit = ()
}
