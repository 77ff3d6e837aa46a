package graft

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark main — one JSON line with per-query wall times.
  *
  * Every query is fully materialized through the `noop` DSv2 sink: unlike
  * `count()`, which lets Catalyst prune the whole projection (a string-
  * function query would benchmark a parquet row count), the noop sink
  * evaluates every output column and row and discards them — the same work
  * a real write performs minus the I/O.
  *
  * Per-query attribution: each timing row carries the GC milliseconds that
  * accrued *during* its measured region (`gc_ms`) and the used heap right
  * after (`heap_mb`), so a wall-time elevation with a matching GC spike is
  * provably environmental (allocator pressure from the suite) rather than
  * a plan regression. Between queries — outside the measured region — the
  * harness clears the Spark cache and requests a full GC, so query N+1 does
  * not start life paying for query N's garbage. The `queries` map is emitted
  * sorted by DESCENDING time so that if the consumer truncates the line, the
  * slow (interesting) queries survive; the full line is also written to
  * `/root/repo/BENCH_FULL.json` as a truncation-proof copy.
  *
  * Regression credibility (round 9): a single pass over 162 queries in one
  * JVM is noise-dominated — round 8 measured the SAME query 2× slower at
  * sf0.1 than at sf0.3 later in the run, purely from JIT/ordering effects.
  * So each query now runs `SPARK_GRAFT_BENCH_REPS` times (default 3), each
  * repetition sweeping the whole suite in a DIFFERENT seeded-shuffle order
  * (so no query systematically inherits another's JIT/page-cache state),
  * and the reported time is the per-query MEDIAN. `spread_pct` reports
  * (max−min)/median per query — a large spread flags a measurement to
  * distrust, which is exactly the signal round 8 lacked.
  *
  * Failures are recorded explicitly (`"errors"` map, value -1 in the
  * timing map) instead of silently contributing a fake timing row.
  * Environment-portability failures of the OPTIONAL iso arm land in a
  * separate `"warnings"` map that does not affect the exit code, and the
  * artifact carries `loadavg_start`/`loadavg_end` as a direct
  * machine-state fingerprint beside the inferred spread gate.
  *
  * Round-12 measurement-protocol arms:
  *   - ISOLATED heavy queries: any query whose in-suite median exceeds
  *     `SPARK_GRAFT_BENCH_ISO_THRESHOLD` (default 5s) is re-measured in a
  *     FRESH forked JVM (one per query, full warmup, reps medians) and
  *     reported in a separate `"isolated"` block with the isolated/suite
  *     ratio. A checkpoint/GC-heavy 15s query at position ~N of a 200-
  *     query suite inherits the suite's heap state; the isolated number
  *     is the adjudicable one (the round-10/11 PageRank builder/driver
  *     divergence was exactly this).
  *   - LOAD REFUSAL: when the count of sub-second queries whose spread
  *     exceeds `SPARK_GRAFT_BENCH_SPREAD_CEILING` (default 50%) with a
  *     material absolute range (`SPARK_GRAFT_BENCH_SPREAD_FLOOR`, 0.35s)
  *     reaches the allowance (`SPARK_GRAFT_BENCH_SPREAD_ALLOWANCE`, 5 —
  *     load is systemic; single-query straggler hiccups are endemic),
  *     the run was measured under load and the artifact is NOT
  *     committable: it is
  *     written to `target/BENCH_REJECTED.json` instead of
  *     `BENCH_FULL.json`, the violations are listed, and the exit code is
  *     2 — a loaded run can no longer be committed silently.
  *   - `spread_pct` keeps the documented one-outlier trim for sub-second
  *     queries; `spread_untrimmed_pct` carries the untrimmed value for
  *     every query so cross-round artifacts compare like-for-like.
  *
  * Round-15 arm — regression ADJUDICATION and the loadavg evidence flag:
  *   - every suite-flagged regression (>1.25x prev AND >0.15s absolute)
  *     is re-measured in a fresh isolated JVM BEFORE emission;
  *     `regressions` carries only CONFIRMED ones, with the raw flags in
  *     `regressions_suite_flagged` and the isolated medians in
  *     `regressions_adjudication` (a failed re-measure keeps the flag —
  *     adjudication exonerates, never hides). Disable with
  *     SPARK_GRAFT_BENCH_ADJUDICATE=0; child budget
  *     SPARK_GRAFT_BENCH_ADJUDICATE_MAX (default 8). Flags beyond the
  *     budget are NEVER confirmed by silence: they report under
  *     `regressions_unadjudicated`, keeping `regressions` strictly
  *     adjudicated (a noisy run can flag dozens — capped-out entries
  *     masquerading as confirmed was the round-15 phantom class).
  *   - `loaded_run` is true when `loadavg_start` exceeds
  *     SPARK_GRAFT_BENCH_MAX_LOADAVG (default 4.0) — the direct
  *     machine-state gate beside the inferred spread gate, so a loaded
  *     driver re-run is self-labelling and reports zero phantom
  *     regressions (they adjudicate away against the isolated arm). A
  *     loaded full run is written to `target/BENCH_LOADED.json`, never
  *     to `BENCH_FULL.json`.
  *
  * Round-14 arm: the artifact carries a `regressions` map (query →
  * ratio for every common-set query past 1.25× with a ≥0.15 s absolute
  * delta) computed against the previous round's BENCH_FULL.json (or
  * `SPARK_GRAFT_BENCH_PREV`), plus `prev_total` — the cross-round diff
  * consumers previously recomputed by hand.
  */
object Bench {
  /** Classpath for forked child JVMs (iso arm, cluster smoke): this
    * class's own code-source prepended to the inherited java.class.path.
    * Covers plain `java -cp` launches (the property is complete — a jar
    * wildcard entry survives unexpanded for the child to re-expand) AND
    * in-process `sbt run` (the property is only the sbt
    * LAUNCHER jar; project classes live in sbt's internal classloader,
    * so the directory this class actually loaded from is what the child
    * needs). No launcher layout is hardcoded. */
  private[graft] def childClasspath: String = {
    val inherited = sys.props("java.class.path")
    val self = try {
      Option(Bench.getClass.getProtectionDomain.getCodeSource)
        .map(cs => new java.io.File(cs.getLocation.toURI).getAbsolutePath)
    } catch { case _: Exception => None }
    self.filterNot(p =>
      inherited.split(java.io.File.pathSeparator).contains(p))
      .map(p => p + java.io.File.pathSeparator + inherited)
      .getOrElse(inherited)
  }

  /** The running JVM's own java binary — forked children must not
    * depend on PATH resolution. */
  private[graft] def childJava: String = new java.io.File(
    new java.io.File(sys.props("java.home"), "bin"), "java").getAbsolutePath

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def usedHeapMb: Long = {
    val r = Runtime.getRuntime
    (r.totalMemory - r.freeMemory) >> 20
  }

  def main(args: Array[String]): Unit = {
    // machine-state fingerprint: 1-min loadavg at suite start (and again
    // at artifact time) — the direct evidence the spread-based load gate
    // infers indirectly. -1.0 where the platform doesn't report it.
    val loadavgStart =
      ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    // Inter-query System.gc() (outside the measured region) isolates each
    // query from its predecessors' allocation debt; opt out with =0 to A/B.
    val interQueryGc = sys.env.getOrElse("SPARK_GRAFT_BENCH_GC", "1") == "1"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // DSv2 same-server join pushdown (Mongo $lookup, BQ statement render)
      // is harness-level session config, not per-query mutation — set once
      // here so query builders never leak plan-changing conf into the
      // shared session (ADVICE r14)
      .config("spark.sql.optimizer.datasourceV2JoinPushdown", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // JVM/session warm-up outside the measured region: codegen,
    // classloading, parquet-reader init, and the one-time temp-view
    // registration are session setup, not per-query work — run a small
    // representative scan+agg and registerAll so the first measured query
    // reflects steady state.
    try {
      spark.read.parquet(s"$sfDir/region.parquet")
        .write.format("noop").mode("overwrite").save()
      // full cold scans of the two big tables: page-cache + parquet-footer
      // warm-up is session setup; without it the alphabetically-first
      // query (q1_agg) pays the cold-I/O bill in its measured time
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .write.format("noop").mode("overwrite").save()
      spark.read.parquet(s"$sfDir/orders.parquet")
        .write.format("noop").mode("overwrite").save()
      spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1000)
        .groupBy("l_returnflag").count()
        .write.format("noop").mode("overwrite").save()
      graft.core.Tables.registerAll(spark, sfDir)
      graft.queries.StreamQueries.prewarm(spark, sfDir)
      // fed fixture staging is one-time session setup: without this, the
      // alphabetically-first federated query pays the full re-stage cost
      // (q_dml_lifecycle measured 2.9s instead of <1s in round 5)
      graft.sources.FedData.ensure(spark, sfDir)
      // first spark.sql text parse initializes the ANTLR parser (~1s,
      // once per JVM) — session setup, not the first SQL query's cost
      spark.sql("SELECT md5('warmup') AS h, upper('x') AS u").collect()
      // warm every loopback protocol server with one throwaway query per
      // connector: server socket accept loops, HTTP dispatcher threads,
      // and per-protocol codec classloading are backend spin-up, not the
      // first wire-gate's cost (r9 spread_pct on 0.15s connector gates
      // hit 100-450% because rep 1 paid the spin-up)
      val C = graft.sources.SourceRegistry.CatalogName
      Seq(
        s"$C.${graft.sources.FedData.EsSourceName}.customer_es",
        s"$C.${graft.sources.FedData.MongoSourceName}.orders_mongo",
        s"$C.${graft.sources.FedData.CqlSourceName}.customer_cql",
        s"$C.${graft.sources.FedData.BqSourceName}.orders_bqw",
        s"$C.${graft.sources.FedData.DsSourceName}.events_ds",
        s"$C.${graft.sources.FedData.BtSourceName}.customer_btw",
        s"$C.${graft.sources.FedData.KubeSourceName}.pods",
        s"$C.${graft.sources.FedData.RestSourceName}.nation_api")
        .foreach { t =>
          try spark.table(t).limit(1).collect()
          catch { case e: Throwable =>
            System.err.println(s"[bench] connector warmup $t failed: $e")
          }
        }
      // ...and warm each wire-gate QUERY SHAPE once untimed: the q_src
      // gates are 0.1-0.3s, so first-execution costs (connector codegen,
      // scroll-cursor JIT, DML table staging) dominate their rep-1
      // timing and inflate spread_pct past adjudicability
      // in FILTERED mode (incl. the isolated heavy-query children) every
      // selected query warms once untimed — a fresh JVM's first execution
      // pays codegen/JIT that the in-suite protocol amortizes across reps
      graft.SparkEntry.queries.keys.toSeq.sorted
        .filter(n =>
          if (args.nonEmpty) args(0).split(",").map(_.trim).contains(n)
          else n.startsWith("q_src_"))
        .foreach { n =>
          try graft.SparkEntry.queries(n)(spark, sfDir).queryExecution
            .toRdd.count()
          catch { case e: Throwable =>
            System.err.println(s"[bench] gate warmup $n failed: $e")
          }
        }
    } catch { case e: Throwable =>
      // a failed warmup silently shifts its cost into the first measured
      // queries — make it visible in the driver log
      System.err.println(s"[bench] warmup failed: $e")
    }

    var errors = List.empty[(String, String)]
    // Environment-portability failures (an iso child JVM that can't spawn
    // on this machine's layout) — reported in the artifact but NOT exit-
    // code-affecting: the in-suite measurements they would have refined
    // are still valid.
    var warnings = List.empty[(String, String)]
    // Optional args(0): comma-separated name filter for single-query A/B
    // timing runs (the driver invokes with no args — full suite unchanged).
    val only: Option[Set[String]] =
      if (args.nonEmpty) Some(args(0).split(",").map(_.trim).toSet) else None
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val seed = sys.env.getOrElse("SPARK_GRAFT_BENCH_SEED", "42").toLong
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    final case class Obs(t: Double, gc: Long, heap: Long)
    val obs = scala.collection.mutable.Map.empty[String, List[Obs]]
    // one measured region, shared by the base and extra-rep loops so the
    // measurement protocol cannot drift between them
    def runOnce(name: String, recordError: Boolean): Unit = {
      val fn = SparkEntry.queries(name)
      val gc0 = gcMillis
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        obs(name) = Obs(dt, gcMillis - gc0, usedHeapMb) :: obs.getOrElse(name, Nil)
      } catch {
        case e: Throwable =>
          if (recordError && !errors.exists(_._1 == name))
            errors ::= (name -> Option(e.getMessage).getOrElse(e.getClass.getName))
      }
      // release frames the query persisted for its own multi-pass plan —
      // outside the measured region; without this, ~85 queries' caches
      // (corpus embeddings, shingle indexes) accumulate across the run
      spark.catalog.clearCache()
      if (interQueryGc) System.gc()
    }
    for (rep <- 0 until reps) {
      // a fresh shuffle per repetition: median-over-orders cancels the
      // "query N inherits query N-1's JIT/page-cache/GC state" bias
      val order = new scala.util.Random(seed + rep).shuffle(names)
      order.foreach(runOnce(_, recordError = true))
    }
    // per-query median (of the successful reps) + relative spread
    def median(xs: List[Obs]): Obs = xs.sortBy(_.t).apply((xs.size - 1) / 2)
    // ---- adaptive extra reps for sub-second queries ---------------------
    // A 0.2s query's timing is constant-dominated: at reps=3 a single
    // JIT/GC hiccup puts 50-100% spread on it and regression adjudication
    // needs noise-class carve-outs (the round-10 complaint — 34 queries
    // above 35%). Queries whose base-rep median lands under 1s get extra
    // shuffled sweeps (cheap by construction: they are the fast ones) up
    // to SPARK_GRAFT_BENCH_FAST_REPS total observations, and with n >= 5
    // the spread drops the single worst observation (one trimmed outlier)
    // — a documented, symmetric-enough guard against the one-off hiccup,
    // while a real regression (all reps slow) still shows fully.
    val fastReps = sys.env.getOrElse("SPARK_GRAFT_BENCH_FAST_REPS", "7").toInt
    val fastNames = names.filter(n =>
      obs.get(n).exists(xs => xs.nonEmpty && median(xs).t < 1.0))
    val fastSet = fastNames.toSet
    for (rep <- reps until fastReps; if fastNames.nonEmpty) {
      val order = new scala.util.Random(seed + 500 + rep).shuffle(fastNames)
      order.foreach(runOnce(_, recordError = false)) // base reps recorded errors
    }
    val results: Seq[(String, Double)] = names.map { name =>
      obs.get(name).filter(_.nonEmpty) match {
        case Some(xs) => name -> median(xs).t
        case None => name -> -1.0
      }
    }
    def spreadOf(name: String, trim: Boolean): Option[(String, Double)] =
      obs.get(name).filter(_.size >= 2).map { xs =>
        // ONLY the sub-second (extra-rep) queries drop their single
        // slowest observation, and only at n >= 5: constant-dominated
        // timings earn the one-hiccup trim; a slow query's intermittent
        // regression must keep showing at full spread
        val ts0 = xs.map(_.t).sorted
        val ts = if (trim && fastSet.contains(name) && ts0.size >= 5) ts0.init else ts0
        val m = median(xs).t
        name -> (if (m > 0) math.round((ts.max - ts.min) / m * 1000) / 10.0 else 0.0)
      }
    val spreadPct: Seq[(String, Double)] =
      names.flatMap(spreadOf(_, trim = true))
    // the untrimmed twin: adjudication compares like-for-like across
    // rounds whose artifacts predate (or postdate) the trim
    val spreadUntrimmed: Seq[(String, Double)] =
      names.flatMap(spreadOf(_, trim = false))
    val gcMs: Seq[(String, Long)] =
      names.flatMap(n => obs.get(n).filter(_.nonEmpty).map(xs => n -> median(xs).gc))
    val heapMb: Seq[(String, Long)] =
      names.flatMap(n => obs.get(n).filter(_.nonEmpty).map(xs => n -> median(xs).heap))
    // ---- sf0.3 scaling block -------------------------------------------
    // One extra bench point for the headline queries: an FK-CONSISTENT 3×
    // replica of the sf0.1 tables (fact keys offset per replica so join
    // fan-out scales exactly 3×; nation/region stay fixed like TPC-H
    // dimensions). The per-query ratio vs the sf0.1 measurement above
    // plots the scaling curve — super-linear surprises the single-SF
    // bench can't see show up as ratio >> 3.
    val headline = Seq("q1_agg", "q3_shipping", "q5_local_supplier",
      "q_scan_project", "q_topk",
      "q_join_inner", "q_group_having", "q_window_running",
      "q_dedup_minhash_lsh", "q_curation_pack", "q_kmeans",
      // round-8 family members with corpus-scale inputs
      "q_text_lm_score", "q_embed_covariance", "q_sessionize")
    val sf03Enabled = sys.env.getOrElse("SPARK_GRAFT_BENCH_SF03", "1") == "1"
    val sf03: Seq[(String, Double)] = if (!sf03Enabled) Nil else try {
      import org.apache.spark.sql.functions._
      val dir = new java.io.File(sys.props("user.dir"), "target/graft-bench-sf03")
      val marker = new java.io.File(dir, "_STAGED_v1")
      if (!marker.isFile) {
        val B = 1000000000L
        val offsets: Map[String, Seq[String]] = Map(
          "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
          "orders" -> Seq("o_orderkey", "o_custkey"),
          "customer" -> Seq("c_custkey"),
          "part" -> Seq("p_partkey"),
          "supplier" -> Seq("s_suppkey"),
          "events" -> Seq("event_id"),
          "documents" -> Seq("doc_id"),
          "embeddings" -> Seq("vec_id"))
        for (t <- Seq("region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "documents", "embeddings")) {
          val src = spark.read.parquet(s"$sfDir/$t.parquet")
          val out = offsets.get(t) match {
            case Some(keys) =>
              val repl = src.select(col("*"),
                explode(sequence(lit(0L), lit(2L))).as("_r"))
              keys.foldLeft(repl) { (df, k) =>
                df.withColumn(k, col(k) + col("_r") * B)
              }.drop("_r")
            case None => src // fixed-size dimension
          }
          out.repartition(32).write.mode("overwrite")
            .parquet(new java.io.File(dir, s"$t.parquet").getPath)
        }
        marker.createNewFile()
      }
      // warm the replica like the primary (cold parquet IO is staging cost)
      spark.read.parquet(new java.io.File(dir, "lineitem.parquet").getPath)
        .write.format("noop").mode("overwrite").save()
      // the ratio vs sf0.1 is only as credible as its numerator: median the
      // sf0.3 side over the same rep count and shuffled orders as the primary
      val obs3 = scala.collection.mutable.Map.empty[String, List[Double]]
      for (rep <- 0 until reps) {
        val order = new scala.util.Random(seed + 1000 + rep).shuffle(headline)
        for (name <- order) {
          spark.catalog.clearCache()
          if (interQueryGc) System.gc()
          val t0 = System.nanoTime()
          try {
            SparkEntry.queries(name)(spark, dir.getPath)
              .write.format("noop").mode("overwrite").save()
            val dt = (System.nanoTime() - t0) / 1e9
            obs3(name) = dt :: obs3.getOrElse(name, Nil)
          } catch { case e: Throwable =>
            if (!errors.exists(_._1 == s"sf03:$name"))
              errors ::= (s"sf03:$name" -> Option(e.getMessage).getOrElse(e.getClass.getName))
          }
        }
      }
      headline.map { name =>
        obs3.get(name).filter(_.nonEmpty) match {
          case Some(ts) => name -> ts.sorted.apply((ts.size - 1) / 2)
          case None => name -> -1.0
        }
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] sf0.3 block failed: $e")
      Nil
    }

    // ---- isolated heavy-query block ------------------------------------
    // Queries whose in-suite median exceeds the threshold re-measure in a
    // FRESH JVM each (full warmup, same reps/median protocol, no sf0.3/
    // cluster arms): a checkpoint/GC-heavy query measured mid-suite
    // inherits ~200 queries' heap history, and two machines at different
    // suite positions can disagree 2x on the same sound plan. The
    // isolated number is the adjudicable one; the ratio vs the in-suite
    // median quantifies how much suite state distorted it.
    val isoThreshold =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_ISO_THRESHOLD", "5.0").toDouble
    val isoEnabled = only.isEmpty &&
      sys.env.getOrElse("SPARK_GRAFT_BENCH_ISOLATED", "0") != "1" &&
      sys.env.getOrElse("SPARK_GRAFT_BENCH_ISO", "1") == "1"
    val heavyNames = results.collect {
      case (n, t) if t > isoThreshold => n }.sorted
    // child inherits THIS JVM's classpath and heap ceiling — no
    // hardcoded target/ layout or /opt/spark path, so the iso arm
    // works from any launcher. Shared by the heavy-query block and the
    // regression-adjudication block below.
    lazy val childCp = childClasspath
    lazy val childXmx = ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filter(_.startsWith("-Xmx")).lastOption.getOrElse("-Xmx16g")
    // module opens + -D system props ride along (Spark-on-JDK17 needs
    // the opens; spark.* -D flags keep child/parent configs equal).
    // `--add-opens M/P=T` arrives as TWO argv tokens — keep the pair.
    lazy val childFlags = {
      val parentArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      val out = Seq.newBuilder[String]
      val it = parentArgs.iterator
      while (it.hasNext) {
        val a = it.next()
        if ((a == "--add-opens" || a == "--add-exports") && it.hasNext) {
          out += a; out += it.next()
        } else if (a.startsWith("--add-opens") ||
            a.startsWith("--add-exports") || a.startsWith("-D")) out += a
      }
      out.result()
    }
    lazy val javaBin = childJava
    /** Median of one query re-measured in a FRESH child JVM (full warmup,
      * same reps/median protocol); −1 on failure. */
    def isoMeasure(name: String): Double = (try {
            val cmd = Seq(javaBin, childXmx) ++ childFlags ++
              Seq("-cp", childCp, "graft.Bench", name)
            val pb = new ProcessBuilder(cmd: _*)
            sys.env.get("SPARK_HOME").foreach(pb.environment().put("SPARK_HOME", _))
            pb.environment().put("SPARK_SCALA_VERSION", "2.13")
            pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
            pb.environment().put("SPARK_GRAFT_CPUS", cpus)
            pb.environment().put("SPARK_GRAFT_BENCH_ISOLATED", "1")
            pb.environment().put("SPARK_GRAFT_BENCH_SF03", "0")
            pb.environment().put("SPARK_GRAFT_BENCH_CLUSTER", "0")
            // one query per JVM is cheap: 5 observations tighten the
            // median a checkpoint-heavy query needs for adjudication
            pb.environment().put("SPARK_GRAFT_BENCH_REPS",
              math.max(reps, 5).toString)
            pb.redirectErrorStream(true)
            val proc = pb.start()
            val lineRef = new java.util.concurrent.atomic.AtomicReference[String](null)
            val drainer = new Thread(() => {
              val it = new java.io.BufferedReader(
                new java.io.InputStreamReader(proc.getInputStream))
                .lines().iterator()
              while (it.hasNext) {
                val l = it.next()
                if (l.startsWith("""{"metric":"total"""")) lineRef.set(l)
              }
            }, s"graft-bench-iso-$name")
            drainer.setDaemon(true)
            drainer.start()
            val finished = proc.waitFor(15, java.util.concurrent.TimeUnit.MINUTES)
            if (!finished) proc.destroyForcibly()
            drainer.join(5000)
            Option(lineRef.get()).flatMap { l =>
              // the child's "queries" map holds exactly this one name
              val rx = ("\"" + java.util.regex.Pattern.quote(name) +
                "\":(-?[0-9.]+)").r
              rx.findFirstMatchIn(l).map(_.group(1).toDouble)
            }.getOrElse {
              warnings ::= (s"iso:$name" ->
                (if (finished) "no bench line from isolated JVM"
                 else "isolated JVM timed out after 15 minutes"))
              -1.0
            }
          } catch { case e: Throwable =>
            warnings ::= (s"iso:$name" -> e.toString.take(200)); -1.0
          })

    val isolated: Seq[(String, Double)] =
      if (!isoEnabled || heavyNames.isEmpty) Nil
      else heavyNames.map(n => n -> isoMeasure(n))

    // ---- local-cluster smoke block -------------------------------------
    // Two REAL executor JVMs (local-cluster[2,16,4096]) over the smoke
    // query set — the arm that catches single-JVM assumptions (driver-
    // registry lookups from executors, serialization, localCheckpoint
    // lifetimes). One SparkContext per JVM, so it forks graft.ClusterSmoke
    // and embeds its JSON. Skipped only with SPARK_GRAFT_BENCH_CLUSTER=0.
    val clusterJson: String =
      if (only.nonEmpty || sys.env.getOrElse("SPARK_GRAFT_BENCH_CLUSTER", "1") != "1") "null"
      else try {
        // same launcher-portable child spawn as the iso arm; SPARK_HOME
        // propagates when set (local-cluster executor launch needs it),
        // with the historical default as the fallback
        val pb = new ProcessBuilder(childJava, "-Xmx4g", "-cp",
          childClasspath, "graft.ClusterSmoke")
        pb.environment().put("SPARK_HOME",
          sys.env.getOrElse("SPARK_HOME", "/opt/spark"))
        pb.environment().put("SPARK_SCALA_VERSION", "2.13")
        pb.redirectErrorStream(true)
        val proc = pb.start()
        // drain stdout on a DAEMON thread: a blocking read on the main
        // thread would make the waitFor timeout below unreachable — a
        // wedged child (the failure class this arm exists to catch)
        // would hang the whole bench on the read, never the timeout
        val smokeRef = new java.util.concurrent.atomic.AtomicReference[String](null)
        val drainer = new Thread(() => {
          val outLines = new java.io.BufferedReader(
            new java.io.InputStreamReader(proc.getInputStream))
            .lines().iterator()
          while (outLines.hasNext) {
            val l = outLines.next()
            if (l.startsWith("""{"metric":"cluster_smoke"""")) smokeRef.set(l)
          }
        }, "graft-cluster-smoke-drain")
        drainer.setDaemon(true)
        drainer.start()
        val finished = proc.waitFor(10, java.util.concurrent.TimeUnit.MINUTES)
        if (!finished) proc.destroyForcibly()
        drainer.join(5000)
        val smoke = smokeRef.get()
        if (smoke != null) smoke
        else {
          errors ::= ("cluster_smoke" ->
            (if (finished) "no output line" else "timed out after 10 minutes"))
          "null"
        }
      } catch { case e: Throwable =>
        errors ::= ("cluster_smoke" -> e.toString.take(200)); "null"
      }

    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    // descending by time: a truncated consumer keeps the slow queries
    val qs = results.sortBy(-_._2).map { case (k, v) => jstr(k) + ":" + v }
      .mkString("{", ",", "}")
    val gcJson = gcMs.sortBy(-_._2).map { case (k, v) => jstr(k) + ":" + v }
      .mkString("{", ",", "}")
    val spreadJson = spreadPct.sortBy(-_._2).map { case (k, v) => jstr(k) + ":" + v }
      .mkString("{", ",", "}")
    val heapJson = heapMb.sortBy(-_._2).map { case (k, v) => jstr(k) + ":" + v }
      .mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val base = results.toMap
    val sf03Json = sf03.map { case (k, v) => jstr(k) + ":" + v }
      .mkString("{", ",", "}")
    val sf03Ratio = sf03.collect {
      case (k, v) if v > 0 && base.getOrElse(k, -1.0) > 0 =>
        jstr(k) + ":" + (math.round(v / base(k) * 100) / 100.0)
    }.mkString("{", ",", "}")
    val spreadUntrimmedJson = spreadUntrimmed.sortBy(-_._2)
      .map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    val isoJson = isolated.map { case (k, v) => jstr(k) + ":" + v }
      .mkString("{", ",", "}")
    val isoRatio = isolated.collect {
      case (k, v) if v > 0 && base.getOrElse(k, -1.0) > 0 =>
        jstr(k) + ":" + (math.round(v / base(k) * 100) / 100.0)
    }.mkString("{", ",", "}")
    // ---- load refusal ---------------------------------------------------
    // A loaded machine shows as wide spread on constant-dominated queries:
    // if any sub-second query (after the documented trim) exceeds the
    // ceiling, this run is NOT a committable artifact. The ceiling is
    // gated by an ABSOLUTE range floor: a 0.1s query whose observations
    // span 80ms reads as 80% spread yet is pure scheduler/GC jitter (an
    // idle-machine calibration run showed 9 such), while genuine load
    // inflates sub-second queries by multi-hundred-ms — only a wide
    // RELATIVE spread with a material ABSOLUTE range is load evidence.
    val spreadCeiling =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_SPREAD_CEILING", "50.0").toDouble
    val spreadFloorSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_SPREAD_FLOOR", "0.35").toDouble
    val absRange: Map[String, Double] = names.flatMap { name =>
      obs.get(name).filter(_.size >= 2).map { xs =>
        val ts0 = xs.map(_.t).sorted
        val ts = if (fastSet.contains(name) && ts0.size >= 5) ts0.init else ts0
        name -> (ts.max - ts.min)
      }
    }.toMap
    val violations = spreadPct.collect {
      case (n, s) if fastSet.contains(n) && s > spreadCeiling &&
        absRange.getOrElse(n, 0.0) > spreadFloorSec => n -> s }
    // Load is SYSTEMIC: a loaded machine inflates tens of sub-second
    // queries at once (the round-10 loaded artifact had 29 over the
    // ceiling), while a saturated-but-idle local[32] JVM endemically
    // shows 1-3 borderline ~0.6s window queries with one straggler-task
    // hiccup among their reps (two idle calibration runs: 3 and 0 past
    // the floor). Reject only past the allowance; the violation list is
    // still emitted either way so a borderline artifact shows its noise.
    val violationAllowance =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_SPREAD_ALLOWANCE", "5").toInt
    val violJson = violations.sortBy(-_._2)
      .map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    val rejected = only.isEmpty && violations.size >= violationAllowance &&
      sys.env.getOrElse("SPARK_GRAFT_BENCH_FORCE", "0") != "1"
    val warnJson = warnings.map { case (k, v) => jstr(k) + ":" + jstr(v) }
      .mkString("{", ",", "}")
    // ---- per-round regression diff --------------------------------------
    // Emit the cross-round ratios directly instead of leaving every
    // consumer to recompute the common set by hand: the PREVIOUS round's
    // artifact (default: the committed BENCH_FULL.json this run is about
    // to replace — read HERE, before the write below; override the path
    // via SPARK_GRAFT_BENCH_PREV) contributes its per-query medians, and
    // every query present in both runs whose ratio exceeds 1.25 WITH an
    // absolute delta over 0.15 s (the sub-second-jitter floor — a 0.10 s
    // query drifting to 0.14 s is scheduler noise, not a regression)
    // lands in `regressions` (query → ratio, 2 dp). `prev_total` carries
    // the prior suite total for context; both are null with no readable
    // previous artifact.
    val prevPath = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_PREV", "/root/repo/BENCH_FULL.json")
    // Every suite-flagged regression is AUTO-ADJUDICATED against an
    // isolated fresh-JVM re-measure before it is emitted (round-14 judge
    // item: a loaded driver run minted four phantom regressions that its
    // own isolated arm exonerated — adjudication is now built in, not a
    // judge chore). `regressions` carries only CONFIRMED ones (isolated
    // median still >1.25x prev AND >0.15s absolute);
    // `regressions_suite_flagged` keeps the raw suite ratios and
    // `regressions_adjudication` the isolated medians, so exonerations
    // stay visible. A failed isolated measure (−1) keeps the flag —
    // adjudication may only EXONERATE, never hide a real regression.
    // Bounded at 8 children per run (systemic load trips the spread
    // refusal long before 8 genuine regressions appear in one round).
    val isolatedMap = isolated.toMap
    val (regressJson, unadjJson, suiteFlaggedJson, adjudicationJson, prevTotalJson) =
      try {
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(new java.io.File(prevPath))
        val pq = node.get("queries")
        val flagged: Seq[(String, Double, Double)] = results.collect {
          case (k, v) if v > 0 && pq != null && pq.has(k) &&
            pq.get(k).asDouble(-1.0) > 0 &&
            v / pq.get(k).asDouble > 1.25 &&
            v - pq.get(k).asDouble > 0.15 =>
            (k, math.round(v / pq.get(k).asDouble * 100) / 100.0,
              pq.get(k).asDouble)
        }.toSeq
        val adjudicate = only.isEmpty && isoEnabled &&
          sys.env.getOrElse("SPARK_GRAFT_BENCH_ADJUDICATE", "1") == "1"
        // child-JVM budget for adjudication (a systemically loaded run
        // trips the spread refusal long before this many genuine
        // regressions appear in one round, but a noisy run CAN flag
        // more — capped-out entries must not masquerade as confirmed)
        // toIntOption: a typo'd budget must fall back to the default, not
        // collapse all five regression fields to null via the enclosing
        // catch (ADVICE r15)
        val adjMax = sys.env.get("SPARK_GRAFT_BENCH_ADJUDICATE_MAX")
          .flatMap(_.toIntOption).getOrElse(8)
        // iso semantics: >0 measured; −1 = measure attempted and FAILED
        // (kept conservatively as a confirmed flag — adjudication may
        // only exonerate, never hide); −2 = beyond the child budget,
        // NEVER measured — reported separately as unadjudicated, not
        // as a confirmed regression (the round-15 phantom class).
        val adjudicated: Seq[(String, Double, Double, Double)] =
          flagged.sortBy(-_._2).take(adjMax).map { case (k, r, p) =>
            val iso =
              if (!adjudicate) -1.0
              else isolatedMap.getOrElse(k, isoMeasure(k))
            (k, r, p, iso)
          } ++ flagged.sortBy(-_._2).drop(adjMax).map { case (k, r, p) =>
            (k, r, p, -2.0)
          }
        val confirmed = adjudicated.filter { case (_, _, p, iso) =>
          iso == -1.0 || (iso > 0 && iso / p > 1.25 && iso - p > 0.15)
        }
        val unadjudicated = adjudicated.filter(_._4 == -2.0)
        def m(xs: Seq[(String, Double)]) =
          xs.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
        (m(confirmed.map { case (k, r, p, iso) =>
            k -> (if (iso > 0) math.round(iso / p * 100) / 100.0 else r) }),
          m(unadjudicated.map { case (k, r, _, _) => k -> r }),
          m(flagged.map { case (k, r, _) => k -> r }),
          m(adjudicated.collect { case (k, _, _, iso) if iso > 0 => k -> iso }),
          Option(node.get("value")).map(_.asDouble.toString).getOrElse("null"))
      } catch { case _: Exception =>
        ("null", "null", "null", "null", "null") }
    val loadavgEnd =
      ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    // direct machine-state evidence beside the inferred spread gate: a
    // run started above this 1-min loadavg is MARKED loaded in the
    // artifact (regressions are adjudicated regardless, so a loaded run
    // can no longer mint phantom regressions — it reports only confirmed
    // ones). Raise SPARK_GRAFT_BENCH_MAX_LOADAVG to tune; the r14 loaded
    // driver run started at 7.5 on this 32-cpu box, idle runs under 1.
    val maxLoadavg =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_LOADAVG", "4.0").toDouble
    val loadedRun = loadavgStart > maxLoadavg
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"fast_reps":$fastReps,"seed":$seed,"queries":$qs,"spread_pct":$spreadJson,"spread_untrimmed_pct":$spreadUntrimmedJson,"gc_ms":$gcJson,"heap_mb":$heapJson,"inter_query_gc":$interQueryGc,"aqe":$aqe,"errors":$errJson,"n_failed":${errors.size},"warnings":$warnJson,"loadavg_start":$loadavgStart,"loadavg_end":$loadavgEnd,"sf":"$sfDir","cpus":$cpus,"isolated":$isoJson,"isolated_over_suite_ratio":$isoRatio,"iso_threshold_sec":$isoThreshold,"spread_ceiling_pct":$spreadCeiling,"spread_floor_sec":$spreadFloorSec,"spread_violation_allowance":$violationAllowance,"spread_violations":$violJson,"rejected_for_load":$rejected,"loaded_run":$loadedRun,"max_loadavg":$maxLoadavg,"prev_total":$prevTotalJson,"regressions":$regressJson,"regressions_unadjudicated":$unadjJson,"regressions_suite_flagged":$suiteFlaggedJson,"regressions_adjudication":$adjudicationJson,"sf03_queries":$sf03Json,"sf03_over_sf01_ratio":$sf03Ratio,"cluster_smoke":$clusterJson}"""
    println(line)
    // ---- compact driver-parseable FINAL line (round 17) ------------------
    // The full line above is ~20 KB and the primary consumer keeps only a
    // 2000-char stdout TAIL, which since r14 has landed inside the embedded
    // cluster_smoke block — so the consumer's parse has been null and its
    // per-query/scaling reports empty. This SECOND line is the last thing
    // on stdout and is budgeted to always fit that tail whole: the same
    // contract fields (metric/value/unit/queries/sf) plus cpus and
    // n_failed, with `queries` carrying as many per-query medians as fit
    // the byte budget in DESCENDING time order (the slow, interesting ones)
    // and the omitted remainder COUNTED and SUMMED — never dropped
    // silently. Every number also lives in the full artifact file.
    // Where the full artifact goes is settled BEFORE the compact line is
    // printed, so the line names the file this run actually writes. A
    // load-rejected run is diverted to target/ so it can be inspected but
    // never committed as the round artifact. Round 17: a full run at a
    // DIFFERENT core count than the committed artifact's `cpus` is
    // diverted to target/ too — an r16 8-core re-run silently replaced
    // the accepted 32-core snapshot, losing its per-query data.
    // An unreadable committed artifact counts as a clash (divert, never
    // overwrite what could not be checked). A full run marked
    // `loaded_run` is diverted too, ahead of both: it is evidence, never
    // the committed artifact.
    val repoDir = java.nio.file.Paths.get(sys.props("user.dir"))
    val mainPath = repoDir.resolve("BENCH_FULL.json")
    val loadedFull = only.isEmpty && !rejected && loadedRun
    val cpusClash = only.isEmpty && !rejected && !loadedRun &&
      java.nio.file.Files.exists(mainPath) && scala.util.Try {
        val prior = new String(
          java.nio.file.Files.readAllBytes(mainPath), "UTF-8")
        val rx = """"cpus":"?([0-9]+)"?""".r
        // artifacts predating this field were all accepted at 32 cores
        rx.findFirstMatchIn(prior).map(_.group(1)).getOrElse("32") != cpus
      }.getOrElse(true)
    // filtered A/B runs must not clobber the committed full snapshot
    val artifact =
      if (rejected) "target/BENCH_REJECTED.json"
      else if (loadedFull) "target/BENCH_LOADED.json"
      else if (cpusClash) s"target/BENCH_FULL_c$cpus.json"
      else if (only.isEmpty) "BENCH_FULL.json"
      else "target/BENCH_FILTERED.json"
    val tailBudget = sys.env.get("SPARK_GRAFT_BENCH_TAIL_BYTES")
      .flatMap(_.toIntOption).getOrElse(2000)
    val compactLine = {
      def r3(v: Double): Double = math.round(v * 1000) / 1000.0
      val sorted = results.sortBy(-_._2)
      val head = s"""{"metric":"total","value":${r3(total)},"unit":"sec","sf":${jstr(sfDir)},"cpus":$cpus,"reps":$reps,"n_failed":${errors.size},"rejected_for_load":$rejected,"loadavg_start":${r3(loadavgStart)},"n_queries":${results.size},"full_artifact":${jstr(artifact)},"compact":true"""
      // worst-case fixed tail: two counters + closing braces
      val reserve = 80
      val entries = Seq.newBuilder[String]
      var used = head.length + reserve + ""","queries":{}""".length
      var shown = 0
      var omittedSec = 0.0
      // the shown set is a descending-time PREFIX: once one entry does not
      // fit, every later (faster) one is omitted too
      var fits = true
      sorted.foreach { case (k, v) =>
        val e = jstr(k) + ":" + r3(v)
        // -300: leave room for launcher trailer lines (sbt prints
        // "[success] ..." after the program's stdout) inside the tail
        fits = fits && used + e.length + 1 <= tailBudget - 300
        if (fits) {
          entries += e; used += e.length + 1; shown += 1
        } else omittedSec += math.max(v, 0.0)
      }
      head + s""","queries_omitted":${results.size - shown},"queries_omitted_sec":${r3(omittedSec)},"queries":${entries.result().mkString("{", ",", "}")}}"""
    }
    println(compactLine)
    // truncation-proof copy: the stdout line is captured by a consumer that
    // has historically kept only a prefix; the file keeps every number.
    try {
      if (cpusClash) System.err.println(
        s"[bench] BENCH_FULL.json was recorded at a different core count; " +
          s"writing this cpus=$cpus run to $artifact " +
          "instead (delete the committed artifact to replace it)")
      if (loadedFull) System.err.println(
        s"[bench] loadavg_start $loadavgStart exceeds $maxLoadavg: this loaded " +
          s"run goes to $artifact, not BENCH_FULL.json (re-run idle)")
      java.nio.file.Files.write(repoDir.resolve(artifact),
        (line + "\n").getBytes("UTF-8"))
      if (rejected) System.err.println(
        s"[bench] REFUSED to write BENCH_FULL.json: ${violations.size} " +
          s"sub-second queries exceed the ${spreadCeiling}% spread ceiling " +
          s"(worst: ${violations.sortBy(-_._2).take(3).map { case (n, s) => s"$n=$s%" }.mkString(", ")}) " +
          "— the machine was under load; re-run idle (SPARK_GRAFT_BENCH_FORCE=1 overrides)")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write BENCH_FULL.json: $e")
    }
    spark.stop()
    // explicit exit either way: a leaked non-daemon thread (embedded
    // server dispatcher) must not stall the driver's bench collection
    sys.exit(if (rejected) 2 else if (errors.nonEmpty) 1 else 0)
  }
}
