package perfbench

import graft.engine.GraftEngine
import graft.sources.FedData

/** `federated_wire`: in-process GraftEngine sessions (no socket front door)
  * send seeded statements to the loopback wire fixtures — pushed filters,
  * point reads, pushed aggregates, cross-source joins with runtime filters,
  * deep paging and a REST filterql listing. */
final class FederatedWire(run: Run) extends Workload {
  import run.{plan, spark}

  private val nClients = plan.int("clients")
  private var engines: IndexedSeq[GraftEngine] = _
  private val sqlCallNs = new java.util.concurrent.atomic.AtomicLong
  private val rowsReturned = new java.util.concurrent.atomic.AtomicLong

  private def exec(c: Int, i: Int, st: Stmt, phase: String): Rec = {
    val id = s"$c:$i"
    run.timed(c, i, st, phase) {
      run.tag(s"$id/sql")
      val t0 = System.nanoTime()
      val df = engines(c).sql(st.sql)
      val t1 = System.nanoTime()
      run.tag(s"$id/collect")
      val rows = df.collect()
      val t2 = System.nanoTime()
      run.tag(null)
      if (run.traced) {
        run.spans.add(id, "engine.sql", "stmt", t0, t1)
        run.spans.add(id, "engine.collect", "stmt", t1, t2)
        sqlCallNs.addAndGet(t1 - t0)
        rowsReturned.addAndGet(rows.length)
      }
      Run.rowsOf(rows)
    }
  }

  def setup(): Unit = {
    run.step("fixtures")(FedData.ensure(spark, plan.dataDir))
    engines = (0 until nClients).map(_ => new GraftEngine(spark))
  }

  def warmup(): Unit = {
    // untimed warm-up: client 0's first cycle, alone; also where the
    // load-invariant counts are taken
    run.step("warmup") {
      val probe = new Probe(spark).start()
      for (i <- 0 until plan.cycle) exec(0, i, plan.streams(0)(i), "warmup")
      val d = probe.stop()
      run.warmupCounts(plan.cycle, d, 0L)
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
      run.layers.put("sql_call_ns", sqlCallNs.get).put("rows_returned", rowsReturned.get)
    }
  }
}
