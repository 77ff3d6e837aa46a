package graft

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.GraftEngine
import graft.sources._

/** Golden-plan + lifecycle coverage of the DSv2 file connector:
  *   - accepted predicates reach the scan (`PushedFilters` in description);
  *   - declined predicates (OR trees) stay as a Spark Filter above the scan
  *     — the residual-polyfill contract (reference sql_to_cql.go:199-204);
  *   - column pruning reaches the reader's parse schema;
  *   - limit pushdown annotates the scan;
  *   - schema inference by sampling raw files without a sidecar
  *     (reference mgo_source.go:269-311);
  *   - INSERT / UPDATE / DELETE WHERE lifecycle
  *     (reference cass_test.go:484-599);
  *   - CREATE SOURCE runtime registration (reference README.md:64-76).
  */
class FileSourceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private val sfDir = "/root/testdata/sf0.001"

  private def fedTable(name: String) = {
    FedData.ensure(spark, sfDir)
    spark.table(s"graft.fed.$name")
  }

  /** The Spark jobs `body` launches and their tasks. A one-task marker
    * job fences the asynchronous listener bus: events arrive in order, so
    * once the marker's start is seen, every earlier job's has been. */
  private def jobsOf(body: => Unit): (Int, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val marker = "jobsOf-marker"
    val sc = spark.sparkContext
    var jobs, tasks = 0
    @volatile var fenced = false
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          fenced = true
        else if (!fenced) { jobs += 1; tasks += e.stageInfos.map(_.numTasks).sum }
    }
    sc.addSparkListener(l)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 10000
      while (!fenced && System.currentTimeMillis() < deadline) Thread.sleep(5)
      assert(fenced, "listener never saw the marker job")
    } finally sc.removeSparkListener(l)
    (jobs, tasks)
  }

  private def scanOf(df: org.apache.spark.sql.DataFrame): FileScanImpl =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation => r.scan
    }.get.asInstanceOf[FileScanImpl]

  test("golden plan: accepted filters are pushed to the scan") {
    val df = fedTable("nation_csv")
      .filter(col("n_regionkey") >= 2 && col("n_name").startsWith("I"))
      .select("n_nationkey", "n_name")
    val d = scanOf(df).description()
    assert(d.contains("GreaterThanOrEqual(n_regionkey,2)"), d)
    assert(d.contains("StringStartsWith(n_name,I)"), d)
    // fully pushed -> no residual Filter in the optimized plan
    val residual = df.queryExecution.optimizedPlan.collect {
      case f: logical.Filter => f
    }
    assert(residual.isEmpty, residual.mkString)
  }

  test("golden plan: OR is declined and re-applied by Spark (residual polyfill)") {
    val df = fedTable("nation_csv")
      .filter((col("n_regionkey") === 0 || col("n_name").endsWith("A")) &&
        col("n_nationkey") >= 5)
    val d = scanOf(df).description()
    assert(d.contains("GreaterThanOrEqual(n_nationkey,5)"), d)
    assert(!d.contains("Or("), d)
    val residual = df.queryExecution.optimizedPlan.collect {
      case f: logical.Filter => f
    }
    assert(residual.nonEmpty, "expected Spark-side residual Filter for the OR")
    assert(residual.head.condition.toString.toLowerCase.contains("or"), residual.head)
  }

  test("golden plan: column pruning reaches the scan") {
    val df = fedTable("customer_json").select("c_custkey", "c_mktsegment")
    assert(scanOf(df).readSchema().fieldNames.toSeq ==
      Seq("c_custkey", "c_mktsegment"))
  }

  test("golden plan: limit pushdown annotates the scan") {
    val df = fedTable("nation_csv").limit(7)
    assert(scanOf(df).description().contains("PushedLimit: 7"))
    assert(df.count() == 7)
  }

  test("golden plan: ORDER BY + LIMIT pushes as per-file top-N") {
    val df = fedTable("orders_csv")
      .filter(col("o_orderstatus") === "O")
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(5)
    val d = scanOf(df).description()
    assert(d.contains("PushedTopN: [SortSpec("), d)
    assert(d.contains("limit=5"), d)
    // values match a full Spark-side sort over the parquet original
    val expected = graft.core.Tables.load(spark, sfDir, "orders")
      .filter(col("o_orderstatus") === "O")
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(5).collect().toSeq
    assert(df.collect().toSeq == expected)
    // an expression sort cannot push: scan stays a plain row scan
    val exprSort = fedTable("orders_csv")
      .orderBy((col("o_totalprice") * -1).asc).limit(5)
    assert(scanOf(exprSort).description().contains("PushedTopN: none"))
  }

  test("prefix-profile source pushes key ranges/prefixes only (BigTable accept list)") {
    FedData.ensure(spark, sfDir)
    // prefix + equality on the declared key column p_name: pushed
    val byPrefix = spark.table("graft.bt.part_bt")
      .filter(col("p_name").startsWith("red"))
    assert(scanOf(byPrefix).description().contains("StringStartsWith(p_name,red)"))
    // non-key predicate: declined, Spark polyfills
    val mixed = spark.table("graft.bt.part_bt")
      .filter(col("p_name").startsWith("red") && col("p_size") >= 25)
    val d = scanOf(mixed).description()
    assert(d.contains("StringStartsWith(p_name,red)"), d)
    assert(!d.contains("GreaterThanOrEqual(p_size"), d)
    val residual = mixed.queryExecution.optimizedPlan.collect {
      case f: logical.Filter => f
    }
    assert(residual.nonEmpty, "expected Spark-side residual for non-key p_size")
    // contains/suffix on the key is NOT a row range: declined
    val contains = spark.table("graft.bt.part_bt")
      .filter(col("p_name").contains("red"))
    assert(scanOf(contains).description().contains("PushedFilters: []"))
  }

  test("keys-profile writes: commit tracks key ranges; range delete refused") {
    FedData.ensure(spark, sfDir)
    val t = "graft.kv.dml_kv_spec"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, v STRING) TBLPROPERTIES ('keys' = 'k')")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b')")
    spark.sql(s"INSERT INTO $t VALUES (10, 'c'), (20, 'd')")
    // each commit merged its file's [min,max] key range into the sidecar:
    // a key equality prunes to the single covering file
    // (VALUES writes one file per input partition — 4 files total)
    val one = spark.table(t).filter(col("k") === 20)
    val d1 = scanOf(one).description()
    assert("files=1/\\d+ key-pruned".r.findFirstIn(d1).isDefined, d1)
    assert(one.count() == 1)
    // the keys profile refuses a range delete, like the reference's
    // Cassandra backend (delete must name its keys, sql_to_cql.go:376-394)
    intercept[Exception] { spark.sql(s"DELETE FROM $t WHERE k > 5") }
    assert(spark.table(t).count() == 4)
    // delete-by-key rewrites the covering file; the leftover superset
    // range is conservative (prunes less, never wrong)
    spark.sql(s"DELETE FROM $t WHERE k IN (1)")
    val after = spark.table(t).filter(col("k") === 2)
    assert(scanOf(after).description().contains("key-pruned"))
    assert(after.count() == 1)
    assert(spark.table(t).count() == 3)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("connector scans report statistics: tiny dims auto-broadcast without a hint") {
    FedData.ensure(spark, sfDir)
    val dim = spark.table("graft.fed.nation_csv")
    val fact = graft.core.Tables.load(spark, sfDir, "customer")
    val joined = fact.join(dim, fact("c_nationkey") === dim("n_nationkey"))
    // SupportsReportStatistics gives Catalyst the real (tiny) size; with
    // the DSv2 default (defaultSizeInBytes = huge) this would plan a
    // sort-merge join and the connector could never be a broadcast dim
    val f = joined.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(f.contains("BroadcastHashJoin"), f)
    assert(joined.count() > 0)
  }

  test("runtime filtering prunes kv files from a broadcast dim's key set") {
    FedData.ensure(spark, sfDir)
    import spark.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    // both dim keys land in ONE of the kv table's 4 range-partitioned
    // files; the join's runtime filter must narrow the scan to it
    // a selective predicate on a SCAN-backed dim is what makes the
    // planner inject a runtime (dynamic-pruning) filter on the fact scan
    // (a LocalRelation dim constant-folds its filter away and qualifies
    // for nothing)
    val dim = graft.core.Tables.load(spark, sfDir, "nation")
      .filter(col("n_nationkey") >= 2 && col("n_nationkey") <= 4)
      .select(col("n_nationkey").as("k"))
    val fact = spark.table("graft.kv.customer_kv")
      .select("c_custkey", "c_name")
    val joined = fact.join(dim, fact("c_custkey") === dim("k"))
    assert(joined.queryExecution.optimizedPlan.toString.contains("dynamicpruning"),
      joined.queryExecution.optimizedPlan.toString)
    val rows = joined.collect()
    assert(rows.length == 3, rows.mkString(","))
    def collectAll[A](p: SparkPlan)(pf: PartialFunction[SparkPlan, A]): Seq[A] = {
      val self = if (pf.isDefinedAt(p)) Seq(pf(p)) else Nil
      self ++ (p match {
        case a: AdaptiveSparkPlanExec => collectAll(a.executedPlan)(pf)
        case q: QueryStageExec => collectAll(q.plan)(pf)
        case other => other.children.flatMap(collectAll(_)(pf))
      })
    }
    val scans = collectAll(joined.queryExecution.executedPlan) {
      case b: BatchScanExec => b.scan
    }
    val fs = scans.collectFirst { case s: FileScanImpl => s }
    assert(fs.isDefined, s"no connector scan in plan: $scans")
    assert(fs.get.plannedFileCount < 4,
      s"runtime filter did not narrow the file list: ${fs.get.description()}")
  }

  test("streaming read resumes from the checkpoint: new files only, exactly once") {
    FedData.ensure(spark, sfDir)
    import org.apache.spark.sql.streaming.Trigger
    val t = "graft.kv.stream_src_spec"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b')")
    val base = java.nio.file.Files.createTempDirectory("graft-stream-src").toFile
    val sink = new File(base, "sink").getPath
    val ckpt = new File(base, "ckpt").getPath
    def drainOnce(): Unit = {
      val q = spark.readStream.table(t).writeStream
        .format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drainOnce()
    assert(spark.read.parquet(sink).count() == 2)
    // append MORE rows, resume from the SAME checkpoint: only the new
    // files replay — file-granularity exactly-once across restarts
    spark.sql(s"INSERT INTO $t VALUES (3, 'c')")
    drainOnce()
    val rows = spark.read.parquet(sink).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "a"), (2L, "b"), (3L, "c")), rows)
    // rewriting consumed files under the checkpoint violates the
    // append-only stream contract: the resumed stream must fail loudly
    // (silently replaying the compacted files would duplicate every row)
    new GraftEngine(spark).sql(s"OPTIMIZE TABLE $t INTO 1 FILES")
    spark.sql(s"INSERT INTO $t VALUES (4, 'd')")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drainOnce()
    }
    assert(e.getMessage.contains("append-only") ||
      Option(e.getCause).exists(_.getMessage.contains("append-only")), e.getMessage)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("streaming offset log stays O(1) across ~100 commits and compacts itself") {
    FedData.ensure(spark, sfDir)
    import org.apache.spark.sql.streaming.Trigger
    val t = "graft.kv.stream_log_spec"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, v STRING)")
    // stage 60 part files directly (one row each) — the stream admits one
    // per micro-batch, so one AvailableNow drain = 60 real commits
    val tdir = SourceRegistry.get("kv").get.tableDir("stream_log_spec")
    for (i <- 0 until 60) {
      val f = new File(tdir, f"part-seed-$i%05d.csv")
      val w = java.nio.file.Files.newBufferedWriter(f.toPath)
      w.write(s"k,v\n$i,r$i\n"); w.close()
    }
    val base = java.nio.file.Files.createTempDirectory("graft-stream-log").toFile
    val sink = new File(base, "sink").getPath
    val ckpt = new File(base, "ckpt")
    def drainOnce(): Unit = {
      val q = spark.readStream.option("maxFilesPerTrigger", "1").table(t)
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt.getPath)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drainOnce()
    assert(spark.read.parquet(sink).count() == 60)
    // every committed offset is O(1) — a log position, not a name set
    // (the v1 design would have written ~60 names into offset 59)
    val offsets = new File(ckpt, "offsets").listFiles()
      .filter(f => scala.util.Try(f.getName.toLong).isSuccess)
    assert(offsets.length >= 55, s"expected ~60 micro-batch commits, got ${offsets.length}")
    // the SOURCE offset is the last line of each offset file: a log
    // position, never a name list (v1 wrote ~60 names into offset 59)
    val lastOffsetLine = scala.io.Source.fromFile(
      offsets.maxBy(_.getName.toLong)).getLines().toSeq.last
    assert(lastOffsetLine.contains("\"id\"") && lastOffsetLine.length < 40,
      s"offset must stay O(1): $lastOffsetLine")
    // the metadata log compacted: entries older than two windows deleted
    // (Spark hands the source its own checkpoint subdir: sources/0)
    val logDir = new File(new File(new File(ckpt, "sources"), "0"), "graft-files")
    assert(logDir.isDirectory, s"metadata log dir missing: $logDir")
    val logIds = logDir.listFiles()
      .flatMap(f => scala.util.Try(f.getName.stripSuffix(".compact").toLong).toOption)
    assert(logIds.length <= 2 * FilesMetadataLog.CompactInterval + 2,
      s"log did not compact: ${logIds.sorted.mkString(",")}")
    assert(logIds.min > 0, "oldest delta entries should be deleted")
    // resume from the same checkpoint: exactly-once across the restart
    spark.sql(s"INSERT INTO $t VALUES (1000, 'tail')")
    drainOnce()
    val rows = spark.read.parquet(sink)
    assert(rows.count() == 61)
    assert(rows.select("k").distinct().count() == 61, "replayed duplicates")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("OPTIMIZE bin-packs part files; data and key pruning survive") {
    FedData.ensure(spark, sfDir)
    val t = "graft.kv.compact_spec"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, v STRING) TBLPROPERTIES ('keys' = 'k')")
    for (i <- 0 until 4)
      spark.sql(s"INSERT INTO $t VALUES (${i * 2}, 'a'), (${i * 2 + 1}, 'b')")
    val before = spark.table(t).orderBy("k").collect().toSeq
    val eng = new GraftEngine(spark)
    val report = eng.sql(s"OPTIMIZE TABLE $t INTO 2 FILES").collect().head
    assert(report.getLong(1) >= 4, s"staging produced too few files: $report")
    assert(report.getLong(2) <= 2, s"compaction left too many files: $report")
    assert(spark.table(t).orderBy("k").collect().toSeq == before)
    // the overwrite commit rebuilt key ranges for the new files: a key
    // equality still prunes (over 2 files now)
    val one = spark.table(t).filter(col("k") === 7)
    assert(scanOf(one).description().contains("key-pruned"),
      scanOf(one).description())
    assert(one.count() == 1)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("REST endpoint schema is inferred by sampling through the widen lattice") {
    FedData.ensure(spark, sfDir)
    // a live endpoint with NO declared schema: documents disagree on
    // `score`'s type (int vs float) and on which fields are present
    val lines = Seq(
      """{"id": 1, "score": 42, "tag": "a"}""",
      """{"id": 2, "score": 4.5}""",
      """{"id": 3, "score": 7, "tag": "c"}""")
    val handler: Map[String, String] => Iterator[String] = { q =>
      val lim = q.get("limit").map(_.toInt).getOrElse(Int.MaxValue)
      lines.iterator.take(lim)
    }
    RestEndpoints.registerSampled(
      FedData.RestSourceName, "sampled_api", Set.empty, handler)
    val df = spark.table(s"graft.${FedData.RestSourceName}.sampled_api")
    // 42 + 4.5 widen to one double column; `tag` (absent in doc 2) is a
    // nullable string — the reference's sample-based type promotion
    assert(df.schema("id").dataType == LongType, df.schema.treeString)
    assert(df.schema("score").dataType == DoubleType, df.schema.treeString)
    assert(df.schema("tag").dataType == StringType, df.schema.treeString)
    val rows = df.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getDouble(1), Option(r.getString(2)))).toSeq
    assert(rows == Seq((1L, 42.0, Some("a")), (2L, 4.5, None), (3L, 7.0, Some("c"))))
    // no declared params: every predicate is declined and polyfilled
    val filtered = df.filter(col("score") > 5.0)
    assert(filtered.count() == 2)
    WireEndpoints.drop(FedData.RestSourceName, "sampled_api")
  }

  test("golden plan: aggregates are pushed as per-file partials") {
    val df = fedTable("customer_json")
      .filter(col("c_acctbal") > 0.0)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), min("c_custkey").as("mn"),
        max("c_acctbal").as("mx"), sum("c_custkey").as("sm"))
    val scan = df.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation => r.scan
    }.get
    assert(scan.isInstanceOf[FileAggScanImpl], scan.description())
    assert(scan.description().contains(
      "PushedAggregates: [count_star, min, max, sum_long]"), scan.description())
    // values identical to the same aggregation over the parquet original
    val viaParquet = graft.core.Tables.load(spark, sfDir, "customer")
      .filter(col("c_acctbal") > 0.0)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), min("c_custkey").as("mn"),
        max("c_acctbal").as("mx"), sum("c_custkey").as("sm"))
    assert(df.orderBy("c_mktsegment").collect().toSeq ==
      viaParquet.orderBy("c_mktsegment").collect().toSeq)
  }

  test("get-by-key prunes the file list via key-range metadata (Datastore-style)") {
    FedData.ensure(spark, sfDir)
    // range-partitioned staging: each of the 4 part files holds a disjoint
    // c_custkey range, so a key equality resolves to exactly one file
    val one = spark.table("graft.kv.customer_kv")
      .filter(col("c_custkey") === 42)
    val d1 = scanOf(one).description()
    assert(d1.contains("files=1/4 key-pruned"), d1)
    assert(one.count() == 1)
    // IN across distant keys keeps the union of their files, none else
    val two = spark.table("graft.kv.customer_kv")
      .filter(col("c_custkey").isin(1, 149))
    val d2 = scanOf(two).description()
    assert(d2.contains("key-pruned"), d2)
    assert(two.count() == 2)
    // a range predicate is NOT pushed by the keys profile (equality/IN
    // only), so nothing prunes — the residual path keeps full results
    val range = spark.table("graft.kv.customer_kv")
      .filter(col("c_custkey") > 140)
    assert(!scanOf(range).description().contains("key-pruned"))
    assert(range.count() ==
      graft.core.Tables.load(spark, sfDir, "customer")
        .filter(col("c_custkey") > 140).count())
    // the prefix profile pushes ranges on its row key: both a LIKE-prefix
    // (Datastore LIKE 'p%' → key range, sql_to_datastore.go:478-489) and
    // an explicit range prune the file list
    val bt = spark.table("graft.bt.part_bt")
      .filter(col("p_name").startsWith("red"))
    val d3 = scanOf(bt).description()
    assert(d3.contains("key-pruned"), d3)
    assert(bt.count() ==
      graft.core.Tables.load(spark, sfDir, "part")
        .filter(col("p_name").startsWith("red")).count())
    val btRange = spark.table("graft.bt.part_bt")
      .filter(col("p_name") >= "w")
    val d4 = scanOf(btRange).description()
    assert(d4.contains("key-pruned"), d4)
    assert(btRange.count() ==
      graft.core.Tables.load(spark, sfDir, "part")
        .filter(col("p_name") >= "w").count())
  }

  test("schema promotion across files: conflicting sampled types widen stably") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft-promote").toFile
    val src = SourceRegistry.register(SourceDef("promote_src", root.getPath, "json"))
    SourceRegistry.ensureCatalog(spark)
    val dir = src.tableDir("mixed"); dir.mkdirs()
    def put(name: String, lines: String*): Unit =
      Files.write(new java.io.File(dir, name).toPath,
        lines.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // f1: a long, b string, d struct{x long}, e null
    put("part-0.jsonl",
      """{"a": 1, "b": "one", "d": {"x": 7}, "e": null}""")
    // f2: a double (long→double promotion), c bool (new field),
    //     d struct{y string} (struct union), e string (null→string)
    put("part-1.jsonl",
      """{"a": 2.5, "c": true, "d": {"y": "z"}, "e": "seen"}""")
    val t = FileTable.open(src, "mixed").get
    val f = t.schema0.fields.map(f => f.name -> f.dataType).toMap
    assert(f("a") == DoubleType, t.schema0.catalogString)
    assert(f("b") == StringType)
    assert(f("c") == BooleanType)
    assert(f("d") == StructType(Seq(
      StructField("x", LongType), StructField("y", StringType))), f("d"))
    assert(f("e") == StringType)
    // values read back under the promoted schema: longs surface as doubles
    val rows = spark.table("graft.promote_src.mixed")
      .orderBy("a").collect()
    assert(rows.map(_.getAs[Double]("a")).toSeq == Seq(1.0, 2.5))
    assert(rows(0).getAs[org.apache.spark.sql.Row]("d").getLong(0) == 7L)
    assert(rows(1).getAs[org.apache.spark.sql.Row]("d").getString(1) == "z")
    // struct vs scalar conflict degrades the column to string
    put("part-2.jsonl", """{"a": 3, "d": 5}""")
    val t2 = FileTable.open(src, "mixed").get
    assert(t2.schema0("d").dataType == StringType, t2.schema0.catalogString)
    SourceRegistry.drop("promote_src")
  }

  test("REST-stub endpoint: API-param pushdown + residual polyfill (Lytics shape)") {
    FedData.ensure(spark, sfDir)
    val df = spark.table("graft.api.nation_api")
      .filter(col("n_regionkey") === 2 && col("n_name").endsWith("2"))
      .select("n_nationkey", "n_name", "n_regionkey")
    val scan = df.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation => r.scan
    }.get
    val d = scan.description()
    assert(d.contains("n_regionkey=2"), d) // equality became an API param
    assert(!d.contains("n_name="), d) // LIKE declined: not an API param
    val residual = df.queryExecution.optimizedPlan.collect {
      case f: logical.Filter => f
    }
    assert(residual.nonEmpty, "expected Spark-side residual for the LIKE")
    // values match the parquet dimension through the JSON round-trip
    val expected = graft.core.Tables.load(spark, sfDir, "nation")
      .filter(col("n_regionkey") === 2 && col("n_name").endsWith("2"))
      .select("n_nationkey", "n_name", "n_regionkey")
      .orderBy("n_nationkey").collect().toSeq
    assert(df.orderBy("n_nationkey").collect().toSeq == expected)
    // limit rides as an API param (partial: Spark trims again)
    val lim = spark.table("graft.api.nation_api").limit(3)
    val dl = lim.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation => r.scan
    }.get.description()
    assert(dl.contains("limit=3"), dl)
    assert(lim.count() == 3)
    // the endpoint appears in the catalog listing
    assert(spark.sql("SHOW TABLES IN graft.api").collect()
      .map(_.getString(1)).contains("nation_api"))
  }

  test("REST source: resource types become tables (Kubernetes shape)") {
    // reference: the Kube backend maps each API resource type to a table
    // (backends/_kube/sql_to_kube.go — pods/services/nodes as tables over
    // one REST API). Two resource listings register as endpoints of one
    // source; they list, push params, and federate in one plan.
    SourceRegistry.ensureCatalog(spark)
    val root = java.nio.file.Files.createTempDirectory("graft-k8s").toFile
    SourceRegistry.register(SourceDef("k8s", root.getPath, "json", "rest"))
    val podSchema = StructType(Seq(
      StructField("name", StringType), StructField("namespace", StringType),
      StructField("phase", StringType), StructField("restarts", LongType)))
    RestEndpoints.registerStatic("k8s", "pods", podSchema,
      Set("namespace", "phase"), Seq(
        Array[Any]("api-1", "prod", "Running", 0L),
        Array[Any]("api-2", "prod", "Pending", 2L),
        Array[Any]("job-1", "batch", "Running", 1L)))
    val svcSchema = StructType(Seq(
      StructField("name", StringType), StructField("namespace", StringType),
      StructField("cluster_ip", StringType)))
    RestEndpoints.registerStatic("k8s", "services", svcSchema,
      Set("namespace"), Seq(
        Array[Any]("api", "prod", "10.0.0.1"),
        Array[Any]("jobs", "batch", "10.0.0.2")))
    // both resource types list as tables
    val tables = spark.sql("SHOW TABLES IN graft.k8s").collect().map(_.getString(1))
    assert(tables.contains("pods") && tables.contains("services"), tables.toSeq)
    // param pushdown per resource + a cross-resource join in one plan
    val running = spark.table("graft.k8s.pods").filter(col("phase") === "Running")
    val d = running.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation => r.scan
    }.get.description()
    assert(d.contains("phase=Running"), d)
    val joined = running.join(
      spark.table("graft.k8s.services"), Seq("namespace"))
    assert(joined.count() == 2) // api-1/prod⨝api, job-1/batch⨝jobs
    WireEndpoints.drop("k8s", "pods")
    WireEndpoints.drop("k8s", "services")
    SourceRegistry.drop("k8s")
  }

  test("passthrough profile consumes the whole statement: bare V2 scan plan") {
    FedData.ensure(spark, sfDir)
    // OR-tree filter + grouped aggregate (incl. a real avg) + sort + limit
    val df = spark.table("graft.bq.orders_bq")
      .filter(col("o_orderstatus") === "F" || col("o_totalprice") > 200000.0)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), min("o_orderkey").as("mn"),
        avg("o_custkey").as("av"))
      .orderBy("o_orderpriority")
      .limit(3)
    val plan = df.queryExecution.optimizedPlan
    assert(plan.collect { case f: logical.Filter => f }.isEmpty,
      "expected no Spark-side Filter above a passthrough scan")
    assert(plan.collect { case a: logical.Aggregate => a }.isEmpty,
      "expected no Spark-side Aggregate above a passthrough scan")
    assert(plan.collect { case s: logical.Sort => s }.isEmpty,
      "expected the consumed top-N to remove the Spark-side Sort")
    val scan = plan.collectFirst { case r: DataSourceV2ScanRelation => r.scan }.get
    val d = scan.description()
    assert(d.contains("Complete: true"), d)
    assert(d.contains("Or("), d)
    assert(d.contains("avg"), d)
    assert(d.contains("limit=3"), d)
    // values identical to the same query over the parquet original
    val viaParquet = graft.core.Tables.load(spark, sfDir, "orders")
      .filter(col("o_orderstatus") === "F" || col("o_totalprice") > 200000.0)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), min("o_orderkey").as("mn"),
        avg("o_custkey").as("av"))
      .orderBy("o_orderpriority")
      .limit(3)
    assert(df.collect().toSeq == viaParquet.collect().toSeq)
  }

  test("passthrough profile: exact top-N without aggregate, NOT pushed whole") {
    FedData.ensure(spark, sfDir)
    // row-scan shape: OR filter + sort + limit, no aggregate — the scan
    // delivers the exact global top-N (one partition), Spark drops its Sort
    val df = spark.table("graft.bq.orders_bq")
      .filter(col("o_orderstatus") === "F" || col("o_totalprice") > 300000.0)
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(5)
    val plan = df.queryExecution.optimizedPlan
    assert(plan.collect { case f: logical.Filter => f }.isEmpty)
    assert(plan.collect { case s: logical.Sort => s }.isEmpty)
    val d = scanOf(df).description()
    assert(d.contains("Exact: true"), d)
    val expected = graft.core.Tables.load(spark, sfDir, "orders")
      .filter(col("o_orderstatus") === "F" || col("o_totalprice") > 300000.0)
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(5).collect().toSeq
    assert(df.collect().toSeq == expected)
    // ORDER BY + LIMIT + OFFSET consumed wholesale (the reference
    // re-renders all three into the BQ dialect): no Sort/Limit/Offset
    // nodes survive above the scan
    val paged = spark.table("graft.bq.orders_bq")
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .offset(7).limit(5)
    val pagedPlan = paged.queryExecution.optimizedPlan
    assert(pagedPlan.collect { case s: logical.Sort => s }.isEmpty)
    assert(pagedPlan.collect { case o: logical.Offset => o }.isEmpty,
      "expected the consumed OFFSET to be removed from the plan")
    val expectedPaged = graft.core.Tables.load(spark, sfDir, "orders")
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .offset(7).limit(5).collect().toSeq
    assert(paged.collect().toSeq == expectedPaged)

    // NOT over a nested tree: accepted by acceptsAll, 3VL-evaluated
    val negated = spark.table("graft.bq.orders_bq")
      .filter(!(col("o_orderstatus") === "F" || col("o_orderpriority") === "1-URGENT"))
    val nd = scanOf(negated).description()
    assert(nd.contains("Not("), nd)
    val expectedNeg = graft.core.Tables.load(spark, sfDir, "orders")
      .filter(!(col("o_orderstatus") === "F" || col("o_orderpriority") === "1-URGENT"))
      .count()
    assert(negated.count() == expectedNeg)
  }

  test("avg decomposes to pushed sum+count; distinct is declined") {
    // Spark rewrites partial avg into sum+count before offering it to the
    // source, so even avg rides the partial pushdown
    val dfAvg = fedTable("customer_json")
      .groupBy("c_mktsegment").agg(avg("c_acctbal"))
    val scanAvg = dfAvg.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation => r.scan
    }.get
    assert(scanAvg.isInstanceOf[FileAggScanImpl], scanAvg.description())
    assert(scanAvg.description().contains("sum_double"), scanAvg.description())
    // count(DISTINCT) cannot be partial-pushed -> plain row scan
    val dfDist = fedTable("customer_json")
      .groupBy("c_mktsegment").agg(countDistinct("c_custkey"))
    val scanDist = dfDist.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation => r.scan
    }.get
    assert(!scanDist.isInstanceOf[FileAggScanImpl], scanDist.description())
  }

  test("key-profile source pushes only key equality/IN (Cassandra accept list)") {
    val eng = new GraftEngine(spark)
    val p = new File(sys.props("user.dir"), "target/graft-test/kv-src").getPath
    eng.sql(s"""CREATE SOURCE kvsrc WITH { "type": "csv", "path": "$p", "pushdown": "keys" }""")
    spark.sql("DROP TABLE IF EXISTS graft.kvsrc.kv")
    spark.sql("CREATE TABLE graft.kvsrc.kv (k BIGINT, v STRING, n BIGINT) " +
      "TBLPROPERTIES ('keys' = 'k')")
    spark.sql("INSERT INTO graft.kvsrc.kv VALUES (1,'a',10), (2,'b',20), (3,'c',30), (4,'d',40)")
    // key equality: pushed
    val byKey = spark.table("graft.kvsrc.kv").filter(col("k") === 2)
    assert(scanOf(byKey).description().contains("EqualTo(k,2)"))
    // range on the key + predicate on a non-key column: both declined,
    // Spark polyfills (the reference's residual WHERE, sql_to_cql.go:199-204)
    val byRange = spark.table("graft.kvsrc.kv")
      .filter(col("k") > 1 && col("n") === 30)
    val d = scanOf(byRange).description()
    assert(d.contains("PushedFilters: []"), d)
    assert(byRange.collect().map(_.getLong(0)).toSeq == Seq(3L))
    // delete-by-where only accepted on keys
    spark.sql("DELETE FROM graft.kvsrc.kv WHERE k IN (1, 4)")
    assert(spark.table("graft.kvsrc.kv").count() == 2)
    intercept[Exception] {
      spark.sql("DELETE FROM graft.kvsrc.kv WHERE n > 15")
    }
    spark.sql("DROP TABLE graft.kvsrc.kv")
    eng.sql("DROP SOURCE kvsrc")
  }

  test("UPSERT replaces by declared key, appends the rest (Put semantics)") {
    val eng = new GraftEngine(spark)
    val p = new File(sys.props("user.dir"), "target/graft-test/upsert-src").getPath
    eng.sql(s"""CREATE SOURCE upsrc WITH { "type": "csv", "path": "$p", "pushdown": "keys" }""")
    spark.sql("DROP TABLE IF EXISTS graft.upsrc.items")
    spark.sql("CREATE TABLE graft.upsrc.items (k BIGINT, v STRING, n BIGINT) " +
      "TBLPROPERTIES ('keys' = 'k')")
    spark.sql("INSERT INTO graft.upsrc.items VALUES (1,'a',10), (2,'b',20)")
    // regression: UPDATE's staged-table swap must carry the key metadata,
    // or the upsert below would fail with "needs declared key columns"
    eng.sql("UPDATE graft.upsrc.items SET n = 11 WHERE k = 1")
    // k=2 replaced, k=3 appended
    eng.sql("UPSERT INTO graft.upsrc.items VALUES (2,'B',200), (3,'c',30)")
    val rows = spark.table("graft.upsrc.items").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows == Seq((1L, "a", 11L), (2L, "B", 200L), (3L, "c", 30L)))
    // upsert with explicit column list
    eng.sql("UPSERT INTO graft.upsrc.items (k, v, n) VALUES (1, 'A', 100)")
    assert(spark.table("graft.upsrc.items").filter(col("k") === 1)
      .collect()(0).getString(1) == "A")
    // column subset: unlisted columns pad with typed nulls
    eng.sql("UPSERT INTO graft.upsrc.items (k, v) VALUES (4, 'd')")
    val r4 = spark.table("graft.upsrc.items").filter(col("k") === 4).collect()(0)
    assert(r4.getString(1) == "d" && r4.isNullAt(2))
    // the key column must be listed
    intercept[IllegalArgumentException] {
      eng.sql("UPSERT INTO graft.upsrc.items (v, n) VALUES ('x', 1)")
    }
    spark.sql("DROP TABLE graft.upsrc.items")
    eng.sql("DROP SOURCE upsrc")
    // prefix-profile source declines IN: a multi-row upsert must still
    // replace by key instead of failing
    val pp = new File(sys.props("user.dir"), "target/graft-test/upsert-bt").getPath
    eng.sql(s"""CREATE SOURCE upbt WITH { "type": "csv", "path": "$pp", "pushdown": "prefix" }""")
    spark.sql("DROP TABLE IF EXISTS graft.upbt.rows")
    spark.sql("CREATE TABLE graft.upbt.rows (rk STRING, v BIGINT) " +
      "TBLPROPERTIES ('keys' = 'rk')")
    spark.sql("INSERT INTO graft.upbt.rows VALUES ('a', 1), ('b', 2)")
    eng.sql("UPSERT INTO graft.upbt.rows VALUES ('b', 20), ('c', 30)")
    val bt = spark.table("graft.upbt.rows").orderBy("rk").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(bt == Seq(("a", 1L), ("b", 20L), ("c", 30L)))
    spark.sql("DROP TABLE graft.upbt.rows")
    eng.sql("DROP SOURCE upbt")
  }

  test("UPSERT replaces by a DATE key (incoming DATE keys match the stored ones)") {
    val eng = new GraftEngine(spark)
    val p = new File(sys.props("user.dir"), "target/graft-test/upsert-date").getPath
    eng.sql(s"""CREATE SOURCE update_src WITH { "type": "csv", "path": "$p", "pushdown": "keys" }""")
    spark.sql("DROP TABLE IF EXISTS graft.update_src.days")
    spark.sql("CREATE TABLE graft.update_src.days (d DATE, v STRING) " +
      "TBLPROPERTIES ('keys' = 'd')")
    spark.sql("INSERT INTO graft.update_src.days VALUES " +
      "(DATE'2020-01-01', 'a'), (DATE'2020-01-02', 'b')")
    eng.sql("UPSERT INTO graft.update_src.days VALUES " +
      "(DATE'2020-01-02', 'B'), (DATE'2020-01-03', 'c')")
    val rows = spark.table("graft.update_src.days").orderBy("d").collect()
      .map(r => (r.getDate(0).toString, r.getString(1))).toSeq
    assert(rows == Seq(("2020-01-01", "a"), ("2020-01-02", "B"), ("2020-01-03", "c")))
    spark.sql("DROP TABLE graft.update_src.days")
    eng.sql("DROP SOURCE update_src")
  }

  test("keyed UPDATE/UPSERT rewrite only intersecting part files (rest byte-identical)") {
    val eng = new GraftEngine(spark)
    val p = new File(sys.props("user.dir"), "target/graft-test/upd-prune").getPath
    eng.sql(s"""CREATE SOURCE updsrc WITH { "type": "csv", "path": "$p", "pushdown": "keys" }""")
    spark.sql("DROP TABLE IF EXISTS graft.updsrc.kv")
    spark.sql("CREATE TABLE graft.updsrc.kv (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('keys' = 'k')")
    // four commits -> four part files with disjoint key ranges
    for (i <- 0 until 4)
      spark.sql(s"INSERT INTO graft.updsrc.kv VALUES (${i * 10}, 'a$i'), (${i * 10 + 5}, 'b$i')")
    val tdir = new File(p, "kv")
    def snap(): Map[String, Seq[Byte]] =
      FileTable.dataFiles(tdir, "csv")
        .map(f => f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
    val before = snap()
    assert(before.size == 8, s"expected 8 part files, got ${before.keySet}")

    // one-row UPDATE: exactly ONE part file changes, the others keep their
    // names AND bytes (the KeyRanges sidecar pruned them out of the write),
    // in ONE Spark job of ONE task: the BIGINT key's literal folds out of
    // its cast, so pruning leaves one file, and no match pre-pass runs
    var affected = -1L
    val (jobs, tasks) = jobsOf {
      affected = eng.sql("UPDATE graft.updsrc.kv SET v = 'HIT' WHERE k = 15")
        .collect()(0).getLong(0)
    }
    assert(affected == 1)
    assert((jobs, tasks) == (1, 1), s"UPDATE ran $jobs jobs of $tasks tasks")
    val afterUpd = snap()
    assert(afterUpd.keySet == before.keySet)
    val changed = before.keySet.filter(n => before(n) != afterUpd(n))
    assert(changed.size == 1, s"expected 1 rewritten file, got $changed")
    assert(spark.table("graft.updsrc.kv").filter(col("k") === 15)
      .collect()(0).getString(1) == "HIT")
    assert(spark.table("graft.updsrc.kv").count() == 8)

    // no-match UPDATE: zero rewrites, zero byte churn
    val none = eng.sql("UPDATE graft.updsrc.kv SET v = 'X' WHERE k = 999")
      .collect()(0).getLong(0)
    assert(none == 0)
    assert(snap() == afterUpd)

    // key-pruned DELETE: the single-row file holding k=25 is emptied and
    // removed; every other part file keeps its exact bytes
    spark.sql("DELETE FROM graft.updsrc.kv WHERE k = 25")
    val afterDel = snap()
    assert((afterUpd.keySet -- afterDel.keySet).size == 1)
    assert(afterDel.forall { case (n, bytes) => afterUpd(n) == bytes })
    assert(spark.table("graft.updsrc.kv").count() == 7)

    // a part file whose key range [100, 110] holds no 105: a DELETE of
    // k = 105 prunes to it, finds no hit and leaves it as it was, inode
    // and mtime included
    spark.sql("INSERT INTO graft.updsrc.kv " +
      "SELECT /*+ COALESCE(1) */ * FROM VALUES (100L, 'x'), (110L, 'y') AS t(k, v)")
    val wide = FileTable.dataFiles(tdir, "csv").filterNot(f => afterDel.contains(f.getName))
    assert(wide.size == 1, s"expected one new part file, got $wide")
    def stamp(f: File) = {
      val a = java.nio.file.Files.readAttributes(f.toPath,
        classOf[java.nio.file.attribute.BasicFileAttributes])
      (a.fileKey(), a.lastModifiedTime())
    }
    val wideBefore = stamp(wide.head)
    Thread.sleep(20) // a rewrite within the same mtime tick must still show
    spark.sql("DELETE FROM graft.updsrc.kv WHERE k = 105")
    assert(stamp(wide.head) == wideBefore, "a DELETE without a hit rewrote the file")
    // a DELETE of that file's largest key shrinks its sidecar range
    def range(f: File) = KeyRanges.load(tdir)(f.getName)
    assert(range(wide.head).max == "110")
    spark.sql("DELETE FROM graft.updsrc.kv WHERE k = 110")
    assert((range(wide.head).min, range(wide.head).max) == ("100", "100"))
    spark.sql("DROP TABLE graft.updsrc.kv")
    eng.sql("DROP SOURCE updsrc")

    // composite-key UPSERT: replaces matching key tuples in ONE rewrite
    // job and leaves non-intersecting part files untouched
    val pc = new File(sys.props("user.dir"), "target/graft-test/upd-prune-ck").getPath
    eng.sql(s"""CREATE SOURCE updck WITH { "type": "csv", "path": "$pc", "pushdown": "keys" }""")
    spark.sql("DROP TABLE IF EXISTS graft.updck.kv2")
    spark.sql("CREATE TABLE graft.updck.kv2 (k1 BIGINT, k2 STRING, v BIGINT) " +
      "TBLPROPERTIES ('keys' = 'k1,k2')")
    for (i <- 0 until 3)
      spark.sql(s"INSERT INTO graft.updck.kv2 VALUES (${i * 10}, 'x', ${i}), (${i * 10 + 5}, 'y', ${i})")
    val cdir = new File(pc, "kv2")
    def snap2(): Map[String, Seq[Byte]] =
      FileTable.dataFiles(cdir, "csv")
        .map(f => f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
    val beforeUp = snap2()
    assert(beforeUp.size == 6)
    eng.sql("UPSERT INTO graft.updck.kv2 VALUES (15, 'y', 99), (40, 'z', 7)")
    val rows = spark.table("graft.updck.kv2").orderBy("k1", "k2").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows == Seq((0L, "x", 0L), (5L, "y", 0L), (10L, "x", 1L), (15L, "y", 99L),
      (20L, "x", 2L), (25L, "y", 2L), (40L, "z", 7L)), rows)
    val afterUp = snap2()
    // original files: only the one whose range holds k1=15 was rewritten
    val origChanged = beforeUp.keySet.filter(n =>
      !afterUp.get(n).contains(beforeUp(n)))
    assert(origChanged.size == 1, s"expected 1 rewritten file, got $origChanged")
    // a NULL key part never matches: the row appends, (15, 'y') stays
    eng.sql("UPSERT INTO graft.updck.kv2 VALUES (15, NULL, 5)")
    assert(spark.table("graft.updck.kv2").filter(col("k1") === 15).count() == 2)
    spark.sql("DROP TABLE graft.updck.kv2")
    eng.sql("DROP SOURCE updck")
  }

  test("a keyed UPSERT is one job and one commit; a failed one changes no byte") {
    val eng = new GraftEngine(spark)
    val p = new File(sys.props("user.dir"), "target/graft-test/upsert-one").getPath
    eng.sql(s"""CREATE SOURCE upone WITH { "type": "csv", "path": "$p", "pushdown": "keys" }""")
    spark.sql("DROP TABLE IF EXISTS graft.upone.kv")
    spark.sql("CREATE TABLE graft.upone.kv (k BIGINT, v STRING, n BIGINT) " +
      "TBLPROPERTIES ('keys' = 'k')")
    for (i <- 0 until 4)
      spark.sql(s"INSERT INTO graft.upone.kv VALUES (${i * 10}, 'a$i', $i), (${i * 10 + 5}, 'b$i', $i)")
    val tdir = new File(p, "kv")
    // every file of the table, the sidecars included
    def snap(): Map[String, Seq[Byte]] =
      tdir.listFiles().map(f => f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
    val parts = FileTable.dataFiles(tdir, "csv").map(_.getName).toSet
    assert(parts.size == 8)

    // a one-row UPSERT of a held key: the one-row file holding k = 15 is
    // emptied and deleted, and the incoming row lands in one new part
    // file, in ONE job of two tasks
    var affected = -1L
    val (jobs, tasks) = jobsOf {
      affected = eng.sql("UPSERT INTO graft.upone.kv VALUES (15, 'U', 99)")
        .collect()(0).getLong(0)
    }
    assert(affected == 1)
    assert((jobs, tasks) == (1, 2), s"UPSERT ran $jobs jobs of $tasks tasks")
    val after = FileTable.dataFiles(tdir, "csv").map(_.getName).toSet
    assert((parts -- after).size == 1 && (after -- parts).size == 1, s"$parts -> $after")
    val ranges = KeyRanges.load(tdir)
    assert(ranges.keySet == after)
    assert(ranges((after -- parts).head) == FileMeta("15", "15", 1, -1))
    assert(spark.table("graft.upone.kv").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((0L, "a0"), (5L, "b0"), (10L, "a1"), (15L, "U"),
        (20L, "a2"), (25L, "b2"), (30L, "a3"), (35L, "b3")))

    // a value the table cannot store fails the statement before any
    // file is touched: every part file and both sidecars keep their bytes
    val before = snap()
    val e = intercept[Exception](
      eng.sql("UPSERT INTO graft.upone.kv VALUES (25, 'x', 'abc')").collect())
    assert(e.getMessage.contains("CANNOT_SAFELY_CAST"), e.getMessage)
    assert(snap() == before)
    assert(spark.table("graft.upone.kv").filter(col("k") === 25)
      .collect().map(_.getString(1)).toSeq == Seq("b2"))
    spark.sql("DROP TABLE graft.upone.kv")
    eng.sql("DROP SOURCE upone")
  }

  test("the key-range sidecar is replaced whole: a concurrent load sees the old map or the new") {
    val dir = new File(sys.props("user.dir"), "target/graft-test/keyranges-race")
    Option(dir.listFiles()).getOrElse(Array.empty[File]).foreach(_.delete())
    dir.mkdirs()
    def entries(rows: Long) = (0 until 3000).map { i =>
      f"part-$i%05d.csv" -> FileMeta(s"k$i", s"k${i + 1}", rows, -1)
    }.toMap
    val (a, b) = (entries(1), entries(2))
    KeyRanges.merge(dir, a)
    @volatile var done = false
    val loads, thrown, torn = new java.util.concurrent.atomic.AtomicInteger
    val reader = new Thread(() =>
      while (!done) {
        try {
          val m = KeyRanges.load(dir)
          if (m != a && m != b) torn.incrementAndGet()
        } catch { case _: Throwable => thrown.incrementAndGet() }
        loads.incrementAndGet()
      })
    reader.start()
    try (1 to 200).foreach(i => KeyRanges.merge(dir, if (i % 2 == 0) a else b))
    finally { done = true; reader.join() }
    assert(loads.get > 0)
    assert((thrown.get, torn.get) == (0, 0),
      s"of ${loads.get} loads, ${thrown.get} threw and ${torn.get} saw a partial map")
    assert(KeyRanges.load(dir) == a)
    assert(dir.list().toSet == Set(KeyRanges.FileName), dir.list().mkString(", "))
  }

  test("UPDATE accepts bracket-quoted identifiers (reference dialect)") {
    // the reference's exact statement shape: UPDATE user SET
    // name = "was_updated", [deleted] = true WHERE id = ...
    // (backends/cassandra/cass_test.go:593 — [deleted] is qlbridge
    // identity quoting, not an array literal)
    val eng = new GraftEngine(spark)
    val p = new File(sys.props("user.dir"), "target/graft-test/upd-bracket").getPath
    eng.sql(s"""CREATE SOURCE brsrc WITH { "type": "csv", "path": "$p", "pushdown": "keys" }""")
    spark.sql("DROP TABLE IF EXISTS graft.brsrc.user")
    spark.sql("CREATE TABLE graft.brsrc.user (id STRING, name STRING, deleted BOOLEAN) " +
      "TBLPROPERTIES ('keys' = 'id')")
    spark.sql("INSERT INTO graft.brsrc.user VALUES ('update123', 'test_name', false)," +
      " ('other', 'x', false)")
    val n = eng.sql(
      """UPDATE graft.brsrc.user SET name = "was_updated", [deleted] = true WHERE id = 'update123'""")
      .collect()(0).getLong(0)
    assert(n == 1)
    val row = spark.table("graft.brsrc.user").filter(col("id") === "update123").collect()(0)
    assert(row.getString(1) == "was_updated" && row.getBoolean(2))
    val other = spark.table("graft.brsrc.user").filter(col("id") === "other").collect()(0)
    assert(other.getString(1) == "x" && !other.getBoolean(2))
    // bracket-quoting also reaches plain SELECT through the engine...
    assert(eng.sql("SELECT [name] FROM graft.brsrc.user WHERE [id] = 'other'")
      .collect()(0).getString(0) == "x")
    // ...while genuine array INDEXING stays indexing
    assert(eng.sql("SELECT array('a','b')[1] AS e").collect()(0).getString(0) == "b")
    // ...and brackets INSIDE string literals stay text, even after a
    // backslash-escaped quote (\' must not close the literal)
    assert(eng.sql("""SELECT 'it\'s [ok]' AS x""").collect()(0)
      .getString(0) == "it's [ok]")
    spark.sql("DROP TABLE graft.brsrc.user")
    eng.sql("DROP SOURCE brsrc")
  }

  test("key/prefix profiles decline aggregate pushdown (no server-side aggs)") {
    FedData.ensure(spark, sfDir)
    val df = spark.table("graft.kv.customer_kv")
      .groupBy("c_mktsegment").agg(count(lit(1)))
    val scan = df.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation => r.scan
    }.get
    assert(!scan.isInstanceOf[FileAggScanImpl], scan.description())
  }

  test("CTAS, REPLACE TABLE AS SELECT, and INSERT OVERWRITE") {
    FedData.ensure(spark, sfDir)
    spark.sql("DROP TABLE IF EXISTS graft.fed.ctas_t")
    spark.sql("CREATE TABLE graft.fed.ctas_t AS " +
      "SELECT n_nationkey, n_name FROM graft.fed.nation_csv WHERE n_regionkey = 2")
    val n = spark.table("graft.fed.ctas_t").count()
    assert(n > 0)
    // RTAS: full replace via SupportsOverwrite(AlwaysTrue)
    spark.sql("CREATE OR REPLACE TABLE graft.fed.ctas_t AS " +
      "SELECT CAST(1 AS BIGINT) AS n_nationkey, 'only' AS n_name")
    assert(spark.table("graft.fed.ctas_t").count() == 1)
    // INSERT OVERWRITE replaces the table contents
    spark.sql("INSERT OVERWRITE graft.fed.ctas_t " +
      "VALUES (CAST(7 AS BIGINT), 'seven'), (CAST(8 AS BIGINT), 'eight')")
    val rows = spark.table("graft.fed.ctas_t").orderBy("n_nationkey")
      .collect().map(_.getString(1)).toSeq
    assert(rows == Seq("seven", "eight"))
    spark.sql("DROP TABLE graft.fed.ctas_t")
  }

  test("ALTER TABLE add/drop column evolves the schema without data rewrite") {
    val eng = new GraftEngine(spark)
    val p = new File(sys.props("user.dir"), "target/graft-test/alter-src").getPath
    eng.sql(s"""CREATE SOURCE altsrc WITH { "type": "csv", "path": "$p" }""")
    spark.sql("DROP TABLE IF EXISTS graft.altsrc.t")
    spark.sql("CREATE TABLE graft.altsrc.t (id BIGINT, name STRING)")
    spark.sql("INSERT INTO graft.altsrc.t VALUES (1, 'a'), (2, 'b')")
    spark.sql("ALTER TABLE graft.altsrc.t ADD COLUMN note STRING")
    // old files read null for the new column; new inserts carry it
    spark.sql("INSERT INTO graft.altsrc.t VALUES (3, 'c', 'hello')")
    val rows = spark.table("graft.altsrc.t").orderBy("id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) null else r.getString(2))).toSeq
    assert(rows == Seq((1L, null), (2L, null), (3L, "hello")))
    spark.sql("ALTER TABLE graft.altsrc.t DROP COLUMN note")
    assert(spark.table("graft.altsrc.t").columns.toSeq == Seq("id", "name"))
    assert(spark.table("graft.altsrc.t").count() == 3)
    spark.sql("DROP TABLE graft.altsrc.t")
    eng.sql("DROP SOURCE altsrc")
  }

  test("pushed results match parquet originals (codec round-trip)") {
    val viaConnector = fedTable("customer_json")
      .filter(col("c_acctbal") > 9000.0)
      .agg(count(lit(1)), round(sum("c_acctbal"), 4)).collect()(0)
    val viaParquet = graft.core.Tables.load(spark, sfDir, "customer")
      .filter(col("c_acctbal") > 9000.0)
      .agg(count(lit(1)), round(sum("c_acctbal"), 4)).collect()(0)
    assert(viaConnector == viaParquet)
  }

  test("nested struct columns: dotted-path pushdown, pruning, and value fidelity") {
    // reference: ES document sub-objects addressed as dotted paths
    // (elasticsearch/source.go:154-255); here they are native structs
    val doc = fedTable("customer_doc")
    assert(doc.schema("profile").dataType.isInstanceOf[StructType])
    assert(doc.schema("market").dataType.isInstanceOf[StructType])
    // nested predicates are inside the accept-list => pushed, no residual
    val df = doc
      .filter(col("market.segment") === "BUILDING" && col("profile.balance") > 5000.0)
      .select(col("c_custkey"), col("profile.name").as("name"))
    val d = scanOf(df).description()
    assert(d.contains("EqualTo(market.segment,BUILDING)"), d)
    assert(d.contains("GreaterThan(profile.balance,5000.0)"), d)
    assert(df.queryExecution.optimizedPlan.collect {
      case f: logical.Filter => f }.isEmpty, "nested filters should fully push")
    // nested schema pruning reaches the scan: only profile.name is read
    // even though the pushed filter needed profile.balance (the reader
    // parses the full struct and re-projects to the pruned shape)
    assert(scanOf(df).readSchema().catalogString ==
      "struct<c_custkey:bigint,profile:struct<name:string>>")
    // values identical to the flat parquet original
    val exp = graft.core.Tables.load(spark, sfDir, "customer")
      .filter(col("c_mktsegment") === "BUILDING" && col("c_acctbal") > 5000.0)
      .select(col("c_custkey"), col("c_name").as("name"))
      .orderBy("c_custkey").collect().toSeq
    assert(df.orderBy("c_custkey").collect().toSeq == exp)
    // whole-struct select round-trips nested rows
    val whole = doc.select("c_custkey", "profile").orderBy("c_custkey").limit(3).collect()
    assert(whole.forall(r => r.getStruct(1).schema.fieldNames.toSeq == Seq("name", "balance")))
  }

  test("nested JSONL schema inference: objects become structs, mixed degrades to string") {
    val root = new File(sys.props("user.dir"), "target/graft-test/nested-infer")
    val dir = new File(root, "docs"); dir.mkdirs()
    val f = new File(dir, "data.jsonl")
    val w = new java.io.FileWriter(f)
    w.write("""{"id":1,"repo":{"name":"alpha","stars":10},"mixed":{"a":1}}""" + "\n")
    w.write("""{"id":2,"repo":{"name":"beta","stars":20,"fork":true},"mixed":7}""" + "\n")
    w.write("""{"id":3,"repo":{"name":"gamma","stars":2.5}}""" + "\n")
    w.close()
    SourceRegistry.ensureCatalog(spark)
    SourceRegistry.register(SourceDef("nestsrc", root.getPath, "json"))
    val t = spark.table("graft.nestsrc.docs")
    val repo = t.schema("repo").dataType.asInstanceOf[StructType]
    assert(repo.fieldNames.toSeq == Seq("name", "stars", "fork"))
    assert(repo("name").dataType == StringType)
    assert(repo("stars").dataType == DoubleType) // long then double => widened
    assert(repo("fork").dataType == BooleanType)
    // object-vs-scalar conflict degrades to JSON text in a string column
    assert(t.schema("mixed").dataType == StringType)
    val rows = t.orderBy("id").collect()
    assert(rows(0).getStruct(1).getString(0) == "alpha")
    assert(rows(1).getStruct(1).getBoolean(2))
    assert(rows(2).getStruct(1).isNullAt(2)) // fork absent => null
    assert(rows(0).getString(2) == """{"a":1}""")
  }

  test("schema inference by sampling when no sidecar exists") {
    val root = new File(sys.props("user.dir"), "target/graft-test/infer")
    val dir = new File(root, "samples"); dir.mkdirs()
    val f = new File(dir, "data.csv")
    val w = new java.io.FileWriter(f)
    w.write("id,score,flag,label,seen\n")
    w.write("1,2.5,true,alpha,2024-05-01T10:00:00.000000Z\n")
    w.write("2,3.5,false,beta,2024-05-02T11:30:00.000000Z\n")
    w.write("3,,true,,2024-05-03T09:15:00.000000Z\n")
    w.close()
    SourceRegistry.ensureCatalog(spark)
    SourceRegistry.register(SourceDef("infersrc", root.getPath, "csv"))
    val t = spark.table("graft.infersrc.samples")
    assert(t.schema == StructType(Seq(
      StructField("id", LongType), StructField("score", DoubleType),
      StructField("flag", BooleanType), StructField("label", StringType),
      StructField("seen", TimestampType))))
    assert(t.count() == 3)
    assert(t.filter(col("flag")).count() == 2)
  }

  test("UPDATE evaluates all assignments against the original row") {
    FedData.ensure(spark, sfDir)
    val eng = new GraftEngine(spark)
    val t = "graft.fed.upd_sem"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (id BIGINT, a BIGINT, b BIGINT)")
    spark.sql(s"INSERT INTO $t VALUES (1, 1, 0), (2, 5, 0)")
    // SQL semantics: b gets the OLD a; the WHERE sees the OLD a too
    eng.sql(s"UPDATE $t SET a = a + 1, b = a WHERE a = 1")
    val rows = spark.table(t).orderBy("id").collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(rows == Seq((2L, 1L), (5L, 0L)), rows)
    spark.sql(s"DROP TABLE $t")
  }

  test("DML lifecycle: insert, update, deleteWhere") {
    FedData.ensure(spark, sfDir)
    val eng = new GraftEngine(spark)
    val t = "graft.fed.lifecycle_items"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (id BIGINT, name STRING, qty BIGINT)")
    spark.sql(s"INSERT INTO $t VALUES (1,'a',10), (2,'b',20), (3,'c',30)")
    assert(spark.table(t).count() == 3)
    val affected = eng.sql(s"UPDATE $t SET qty = qty + 100 WHERE id >= 2")
    assert(affected.collect()(0).getLong(0) == 2)
    assert(spark.table(t).filter(col("qty") > 100).count() == 2)
    spark.sql(s"DELETE FROM $t WHERE qty = 120")
    val left = spark.table(t).orderBy("id").collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(left.toSeq == Seq((1L, 10L), (3L, 130L)))
    spark.sql(s"DROP TABLE $t")
  }

  test("_files meta-table lists staged tables") {
    FedData.ensure(spark, sfDir)
    val rows = spark.table("graft.fed._files")
      .select("table_name", "format").distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(Set(("nation_csv", "csv"), ("customer_json", "json"),
      ("orders_csv", "csv")).subsetOf(rows))
  }

  test("CREATE SOURCE / SHOW SOURCES / DROP SOURCE through the engine") {
    val eng = new GraftEngine(spark)
    val p = new File(sys.props("user.dir"), "target/graft-test/runtime-src").getPath
    eng.sql(s"""CREATE SOURCE rtsrc WITH { "type": "json", "path": "$p" }""")
    val shown = eng.sql("SHOW SOURCES").collect().map(_.getString(0))
    assert(shown.contains("rtsrc"))
    spark.sql("CREATE TABLE graft.rtsrc.notes (id BIGINT, body STRING)")
    spark.sql("INSERT INTO graft.rtsrc.notes VALUES (1, 'hello')")
    assert(spark.table("graft.rtsrc.notes").count() == 1)
    spark.sql("DROP TABLE graft.rtsrc.notes")
    eng.sql("DROP SOURCE rtsrc")
    assert(!eng.sql("SHOW SOURCES").collect().map(_.getString(0)).contains("rtsrc"))
  }

  test("@-substitution never rewrites quoted literals") {
    val eng = new GraftEngine(spark)
    eng.sql("SET @limit_v = 3")
    assert(eng.substitute("SELECT 'a@b.com' AS email WHERE x > @limit_v") ==
      "SELECT 'a@b.com' AS email WHERE x > 3")
    val r = eng.sql("SELECT 'a@b.com' AS email").collect()(0).getString(0)
    assert(r == "a@b.com")
    // Spark reads "…" as a string literal and `…` as a name: neither
    // holds a variable reference
    assert(eng.sql("SELECT \"a@b.com\" AS email").collect()(0).getString(0) == "a@b.com")
    assert(eng.sql("SELECT 1 AS `a@b`").columns.toSeq == Seq("a@b"))
  }

  test("prepared statements: PREPARE / EXECUTE USING / DEALLOCATE") {
    val eng = new GraftEngine(spark)
    graft.core.Tables.registerAll(spark, sfDir)
    eng.sql("PREPARE get_nation FROM " +
      "'SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = ? AND n_nationkey >= ? ORDER BY n_nationkey'")
    val r1 = eng.sql("EXECUTE get_nation USING 2, 10")
      .collect().map(_.getInt(0))
    assert(r1.nonEmpty && r1.forall(k => k >= 10))
    // @-variables as EXECUTE args, MySQL-style
    eng.sql("SET @rk = 0")
    val r2 = eng.sql("EXECUTE get_nation USING @rk, 0").collect()
    assert(r2.nonEmpty)
    // ? inside a quoted literal is data, not a placeholder
    eng.sql("PREPARE q2 FROM 'SELECT ''a?b'' AS s, ? AS x'")
    val row = eng.sql("EXECUTE q2 USING 7").collect()(0)
    assert(row.getString(0) == "a?b" && row.get(1) == 7)
    // arity errors
    intercept[IllegalArgumentException] { eng.sql("EXECUTE q2 USING 1, 2") }
    intercept[IllegalArgumentException] { eng.sql("EXECUTE get_nation USING 1") }
    // a DATE argument binds as a DATE literal, not as 2020 - 1 - 1
    eng.sql("PREPARE pd FROM 'SELECT ? AS a'")
    assert(eng.sql("EXECUTE pd USING DATE'2020-01-01'").collect()(0).get(0) ==
      java.sql.Date.valueOf("2020-01-01"))
    eng.sql("DEALLOCATE PREPARE get_nation")
    intercept[IllegalArgumentException] { eng.sql("EXECUTE get_nation USING 1, 2") }
  }

  test("mysql session functions: connection_id, database, current_user") {
    val eng = new GraftEngine(spark)
    val row = eng.sql(
      "SELECT connection_id() AS cid, database() AS db, current_user() AS u")
      .collect()(0)
    assert(row.getLong(0) >= 1L)
    assert(row.getString(1) == "default")
    assert(row.getString(2) != null)
  }
}
