package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{LeafExecNode, QueryExecution}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job as the listener saw it: epoch-ms interval and the tag the
  * submitting thread carried (`<statement>/<phase>`, or empty when the job
  * ran on a thread the benchmark does not own, such as a listener
  * connection). */
final case class JobSpan(start: Long, end: Long, tag: String)

/** Counters registered from outside the engine for one measurement window:
  * a SparkListener (jobs, tasks, task time, shuffle, scheduling wait), a
  * QueryExecutionListener (Catalyst phase times from the
  * QueryPlanningTracker, rows produced by leaf scans), codegen compile time
  * and count, GC time, and the loopback fixture servers' request counters.
  * `start()` registers and snapshots; `stop()` drains the bus, unregisters
  * and returns the window's deltas. */
final class Probe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val c = TrieMap.empty[String, AtomicLong]
  private def add(k: String, v: Long): Unit = c.getOrElseUpdate(k, new AtomicLong).addAndGet(v)
  private val jobStarts = TrieMap.empty[Int, (Long, String)]
  private val stageSubmit = TrieMap.empty[(Int, Int), Long]
  val jobs = new ConcurrentLinkedQueue[JobSpan]
  private var base = Map.empty[String, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Probe.TagKey))).getOrElse("")
    jobStarts.put(e.jobId, (e.time, tag))
    add("jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStarts.remove(e.jobId).foreach { case (s, tag) => jobs.add(JobSpan(s, e.time, tag)) }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmit.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()),
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    stageSubmit.get((e.stageId, e.stageAttemptId)).foreach { s =>
      add("task_wait_ms", math.max(0L, e.taskInfo.launchTime - s))
    }
    val m = e.taskMetrics
    if (m != null) {
      add("task_run_ms", m.executorRunTime)
      add("task_cpu_ns", m.executorCpuTime)
      add("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      add(s"${p}_ms", ph.get(p).map(_.durationMs).getOrElse(0L))
    }
    var rows = 0L
    Probe.planHelper.foreach(qe.executedPlan) {
      case _: QueryStageExec =>
      case leaf: LeafExecNode =>
        leaf.metrics.get("numOutputRows").foreach(m => rows += m.value)
      case _ =>
    }
    add("rows_read", rows)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def start(): this.type = {
    base = Probe.jvmCounters()
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  /** Deltas since `start()`; the job spans stay in `jobs`. */
  def stop(): Map[String, Long] = {
    Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    val now = Probe.jvmCounters()
    c.map { case (k, v) => k -> v.get }.toMap ++ now.map { case (k, v) => k -> (v - base(k)) }
  }
}

object Probe {
  /** Local property naming the statement and phase that submitted a job. */
  val TagKey = "perfbench.tag"
  private val planHelper = new AdaptiveSparkPlanHelper {}

  def sum(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap

  def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Monotone JVM-wide counters the probe reports as deltas. */
  def jvmCounters(): Map[String, Long] = Map(
    "codegen_compile_ns" -> CodeGenerator.compileTime,
    "codegen_compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    "gc_ms" -> gcMillis,
    "wire_requests" -> (graft.sources.LoopbackRestServer.served.get +
      graft.sources.LoopbackMongoServer.served.get +
      graft.sources.LoopbackCqlServer.served.get))

  /** Heap in use right after a full collection: the live set. Called
    * outside the timed window, after set-up and after the window. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
