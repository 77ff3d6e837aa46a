package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.engine.GraftEngine

class GraftEngineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val engine: GraftEngine = {
    Tables.registerAll(spark, "/root/testdata/sf0.001")
    new GraftEngine(spark)
  }

  test("SET @var then use in a query (mysql_session.go semantics)") {
    engine.sql("SET @min_price = 400000")
    val n = engine.sql(
      "SELECT count(*) AS n FROM orders WHERE o_totalprice > @min_price")
      .collect()(0).getLong(0)
    val direct = spark.sql(
      "SELECT count(*) AS n FROM orders WHERE o_totalprice > 400000")
      .collect()(0).getLong(0)
    assert(n == direct && n > 0)
    // a DATE variable substitutes as a DATE literal, not as 2020 - 1 - 1
    engine.sql("SET @d = DATE'2020-01-01'")
    assert(engine.sql("SELECT @d AS d").collect()(0).getDate(0) ==
      java.sql.Date.valueOf("2020-01-01"))
    // a backslash in a string variable survives the round trip
    engine.sql("""SET @path = 'C:\\dir'""")
    assert(engine.sql("SELECT @path AS p").collect()(0).getString(0) == "C:\\dir")
  }

  test("WITH distributed=true, node_ct=N hints accept (the reference's syntax)") {
    // the exact statement shape from backends/mongo/mgo_test.go:366
    val df = engine.sql(
      "SELECT o_orderpriority, count(*) AS ct FROM orders " +
        "GROUP BY o_orderpriority WITH distributed=true, node_ct=2")
    assert(df.rdd.getNumPartitions == 2, "node_ct maps to the output fan-out")
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = spark.sql("SELECT o_orderpriority, count(*) AS ct FROM orders " +
      "GROUP BY o_orderpriority").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want, "the hint must not change the result")
    // a CTE-leading WITH is untouched by the hint stripper
    assert(engine.sql("WITH t AS (SELECT 1 AS x) SELECT x FROM t")
      .collect()(0).getInt(0) == 1)
  }

  test("node_ct drives WIRE-SCAN fan-out, not just output partitions") {
    // a Mongo wire table with range-split metadata, read through the
    // engine under the distribution hint: the hint must reach
    // planInputPartitions (sql_master.go:78-97 sizes the worker fleet
    // from the same statement attribute)
    import org.apache.spark.sql.types._
    import graft.sources._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType)))
    val rows: Seq[Array[Any]] = (0L until 300L).map(i => Array[Any](i, i * 2.0))
    LoopbackMongoServer.register("hint_fan", schema, rows)
    val (host, port) = LoopbackMongoServer.ensureStarted()
    WireEndpoints.register(MongoEndpoint("mongotest", "hint_fan", schema,
      MongoEndpointSpec(host, port, LoopbackMongoServer.Db, "hint_fan",
        MongoClientConfig(batchSize = 64, retryBackoffMs = 5)),
      splits = Some(WireSplits("id", Seq(50L, 100L, 150L, 200L, 250L)))))
    if (SourceRegistry.get("mongotest").isEmpty)
      SourceRegistry.register(SourceDef("mongotest",
        new java.io.File(sys.props("user.dir"), "target/graft-test/mongotest").getPath,
        "json", "mongo"))
    SourceRegistry.ensureCatalog(spark)
    val t = s"${SourceRegistry.CatalogName}.mongotest.hint_fan"

    def scanParts(df: org.apache.spark.sql.DataFrame): Seq[Int] = {
      def unwrap(p: org.apache.spark.sql.execution.SparkPlan)
          : org.apache.spark.sql.execution.SparkPlan = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case other => other
      }
      unwrap(df.queryExecution.executedPlan).collectLeaves().collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputPartitions.size
      }
    }

    val hinted = engine.sql(s"SELECT id FROM $t WITH distributed=true, node_ct=3")
    assert(scanParts(hinted) == Seq(3),
      "node_ct=3 must reach the wire scan's partition planning")
    assert(hinted.collect().map(_.getLong(0)).sorted.toSeq == (0L until 300L),
      "fan-out must not change the result")
    // without the hint, the table's own metadata count applies (6 ranges)
    val plain = engine.sql(s"SELECT id FROM $t")
    assert(scanParts(plain) == Seq(6))
    // the hint is statement-scoped: it must NOT leak into the next one
    val hinted2 = engine.sql(s"SELECT id FROM $t WITH distributed=true, node_ct=2")
    val after = engine.sql(s"SELECT id FROM $t")
    assert(scanParts(after) == Seq(6), "node_ct must not bleed across statements")
    // ... nor into a scan planned OUTSIDE the engine (the hint rides in
    // the statement's own plan, not in session state)
    assert(scanParts(spark.table(t).select("id")) == Seq(6),
      "a plain spark.table scan after a hinted statement keeps its own fan-out")
    // and the hinted DataFrame keeps its fan-out even though other
    // statements ran before it was planned — the hint survives laziness
    assert(scanParts(hinted2) == Seq(2))
    assert(hinted2.count() == 300L, "fan-out must not change the result")
  }

  test("SET @var evaluates expressions eagerly") {
    engine.sql("SET @two = 1 + 1")
    assert(engine.substitute("SELECT @two") == "SELECT 2")
  }

  test("@@system variables resolve") {
    val v = engine.sql("SELECT @@max_allowed_packet AS v").collect()(0).getString(0)
    assert(v == "67108864")
  }

  test("SHOW VARIABLES returns the sysvar table, LIKE filters") {
    assert(engine.sql("SHOW VARIABLES").count() == engine.sysVars.size)
    val rows = engine.sql("SHOW VARIABLES LIKE 'version%'").collect()
    assert(rows.map(_.getString(0)).toSet == Set("version", "version_comment"))
  }

  test("BEGIN/COMMIT/ROLLBACK are accepted no-ops") {
    Seq("BEGIN", "COMMIT", "ROLLBACK").foreach { stmt =>
      assert(engine.sql(stmt).collect().isEmpty)
    }
  }

  test("SHOW CREATE TABLE renders MySQL-style DDL (sql_writer.go:164-201)") {
    val ddl = engine.sql("SHOW CREATE TABLE lineitem")
      .collect()(0).getString(1)
    assert(ddl.startsWith("CREATE TABLE `lineitem`"))
    assert(ddl.contains("`l_orderkey` bigint"))
    assert(ddl.contains("`l_returnflag` varchar(255)"))
    assert(ddl.contains("`l_shipdate` datetime"))
    assert(ddl.contains("`l_linenumber` int(11)"))
  }

  test("SHOW DATABASES lists registered sources (the proxy's connect-time shape)") {
    val dbs = engine.sql("SHOW DATABASES").collect().map(_.getString(0))
    assert(dbs.contains("default"))
    assert(dbs.sorted.toSeq == dbs.toSeq, "MySQL returns databases sorted")
    assert(engine.sql("SHOW SCHEMAS").columns.toSeq == Seq("Database"))
  }

  test("SHOW TABLES / DESCRIBE work natively") {
    val tables = engine.sql("SHOW TABLES").collect().map(_.getString(1)).toSet
    assert(Tables.all.toSet.subsetOf(tables))
    val desc = engine.sql("DESCRIBE lineitem").collect()
    assert(desc.exists(r => r.getString(0) == "l_orderkey"))
  }

  test("malformed SQL errors gracefully (mgo_test.go:111-121)") {
    val e1 = intercept[Exception](engine.sql("SELEC 1 FORM dual"))
    assert(e1.getMessage.nonEmpty)
    val e2 = intercept[Exception](engine.sql("SELECT no_such_col FROM lineitem"))
    assert(e2.getMessage.nonEmpty)
    // the session survives a bad statement
    assert(engine.sql("SELECT 1 AS ok").collect()(0).getInt(0) == 1)
  }

  test("dialect functions: toint/hasprefix/exists/json_jmespath") {
    val r = engine.sql(
      """SELECT toint('42') AS i, hasprefix('redcar', 'red') AS p,
        |       exists('x') AS e, json_jmespath('{"a": 7}', '$.a') AS j
        |""".stripMargin).collect()(0)
    assert(r.getLong(0) == 42L && r.getBoolean(1) && r.getBoolean(2) &&
      r.getString(3) == "7")
  }

  test("CREATE SOURCE over an ES wire endpoint: discovery populates, SHOW TABLES lists live") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    import graft.sources._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("bal", DoubleType)))
    val rows = (0L until 100L).map(i => Array[Any](i, s"n$i", i * 1.5))
    LoopbackRestServer.registerEs("cs_idx_a", schema, rows)
    val url = LoopbackRestServer.ensureStarted()
    // the reference's runtime-registration flow: the source registers,
    // discovery runs, tables appear — no schema ever declared
    engine.sql(s"""CREATE SOURCE es_live WITH {"protocol": "es", "url": "$url"}""")
    def listed: Set[String] = engine.sql(
      s"SHOW TABLES IN ${SourceRegistry.CatalogName}.es_live")
      .collect().map(_.getString(1)).toSet
    assert(listed.contains("cs_idx_a"))
    val t = s"${SourceRegistry.CatalogName}.es_live.cs_idx_a"
    val got = spark.table(t).filter(col("id") < 5)
      .select("id", "name", "bal").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1)
    assert(got.toSeq == (0L until 5L).map(i => (i, s"n$i", i * 1.5)))
    // the cluster grows an index AFTER registration: SHOW TABLES must
    // reflect it (live _aliases round-trip), and first resolution
    // discovers its mapping lazily
    LoopbackRestServer.registerEs("cs_idx_b", schema,
      Seq(Array[Any](7L, "late", 9.0)))
    assert(listed.contains("cs_idx_b"), "SHOW TABLES must list live")
    val late = spark.table(s"${SourceRegistry.CatalogName}.es_live.cs_idx_b")
      .collect()
    assert(late.length == 1 && late(0).getLong(0) == 7L)
    // DROP SOURCE unregisters the namespace and its endpoints
    engine.sql("DROP SOURCE es_live")
    assert(SourceRegistry.get("es_live").isEmpty)
    assert(WireEndpoints.get("es_live", "cs_idx_a").isEmpty)
  }

  test("CREATE SOURCE cassandra: discovered keys compile pushdown; mongo: sampled types") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    import graft.sources._
    // cassandra: key structure comes from system_schema, so a partition-
    // key predicate compiles server-side against the discovered layout
    val cschema = StructType(Seq(
      StructField("seg", StringType), StructField("id", LongType),
      StructField("v", DoubleType)))
    val crows = (0L until 90L).map(i =>
      Array[Any](if (i % 3 == 0) "A" else "B", i, i * 0.5))
    LoopbackCqlServer.register("cs_cql_t", cschema, Seq("seg"), Seq("id"), crows)
    val (chost, cport) = LoopbackCqlServer.ensureStarted()
    engine.sql(s"""CREATE SOURCE cql_live WITH {"protocol": "cassandra",
      "host": "$chost", "port": $cport}""")
    val ct = s"${SourceRegistry.CatalogName}.cql_live.cs_cql_t"
    val cgot = spark.table(ct).filter(col("seg") === "A")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(cgot == (0L until 90L).filter(_ % 3 == 0))
    assert(WireEndpoints.get("cql_live", "cs_cql_t").collect { case e: CqlEndpoint => e }
      .exists(e => e.partitionKeys == Seq("seg") && e.clusteringKeys == Seq("id")))
    engine.sql("DROP SOURCE cql_live")
    // mongo: types sampled off documents, pushed filter compiles on them
    val mschema = StructType(Seq(
      StructField("id", LongType), StructField("score", DoubleType)))
    LoopbackMongoServer.register("cs_mg_t", mschema,
      (0L until 60L).map(i => Array[Any](i, i * 1.0)))
    val (mhost, mport) = LoopbackMongoServer.ensureStarted()
    engine.sql(s"""CREATE SOURCE mg_live WITH {"protocol": "mongo",
      "host": "$mhost", "port": $mport, "db": "${LoopbackMongoServer.Db}"}""")
    val mt = s"${SourceRegistry.CatalogName}.mg_live.cs_mg_t"
    val mgot = spark.table(mt).filter(col("score") >= 55.0)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(mgot == (55L until 60L))
    engine.sql("DROP SOURCE mg_live")
  }

  test("CREATE SOURCE bigquery/datastore/bigtable/kube: all runtime-registrable") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    import graft.sources._
    val url = LoopbackRestServer.ensureStarted()
    // BigQuery: tables.list + tables.get discovery
    val bschema = StructType(Seq(
      StructField("id", LongType), StructField("amt", DoubleType)))
    LoopbackRestServer.registerBq("cs_bq_t",
      bschema, (0L until 40L).map(i => Array[Any](i, i * 2.0)))
    engine.sql(s"""CREATE SOURCE bq_live WITH {"protocol": "bigquery", "url": "$url"}""")
    val bq = spark.table(s"${SourceRegistry.CatalogName}.bq_live.cs_bq_t")
      .filter(col("amt") >= 70.0).select("id").collect().map(_.getLong(0)).sorted
    assert(bq.toSeq == (35L until 40L))
    // Datastore: __kind__ listing carries the key property -> get-by-key
    // stays available on a runtime-registered kind
    val dschema = StructType(Seq(
      StructField("ev", LongType), StructField("kind", StringType)))
    LoopbackRestServer.registerDs("cs_ds_k", dschema, "ev",
      (0L until 30L).map(i => Array[Any](i, s"k${i % 3}")))
    engine.sql(s"""CREATE SOURCE ds_live WITH {"protocol": "datastore", "url": "$url"}""")
    val ds = spark.table(s"${SourceRegistry.CatalogName}.ds_live.cs_ds_k")
      .filter(col("kind") === "k1").select("ev").collect().map(_.getLong(0)).sorted
    assert(ds.toSeq == (0L until 30L).filter(_ % 3 == 1))
    assert(WireEndpoints.get("ds_live", "cs_ds_k").collect { case e: DsEndpoint => e }
      .exists(_.keyCol.contains("ev")))
    // BigTable: admin listing carries the row-key qualifier; cell types
    // guessed -> the discovered key compiles a prefix range
    val tschema = StructType(Seq(
      StructField("name", StringType), StructField("qty", LongType)))
    LoopbackRestServer.registerBt("cs_bt_t", tschema, "name",
      (0L until 50L).map(i => Array[Any](f"row$i%03d", i)))
    engine.sql(s"""CREATE SOURCE bt_live WITH {"protocol": "bigtable", "url": "$url"}""")
    val bt = spark.table(s"${SourceRegistry.CatalogName}.bt_live.cs_bt_t")
      .filter(col("name").startsWith("row04")).select("qty")
      .collect().map(_.getLong(0)).sorted
    assert(bt.toSeq == (40L until 50L))
    assert(WireEndpoints.get("bt_live", "cs_bt_t").collect { case e: BtEndpoint => e }
      .exists(_.keyCol == "name"))
    // Kubernetes: the API's fixed typed-table surface registers whole
    engine.sql(s"""CREATE SOURCE k8s_live WITH {"protocol": "kube", "url": "$url"}""")
    assert(engine.sql(s"SHOW TABLES IN ${SourceRegistry.CatalogName}.k8s_live")
      .collect().map(_.getString(1)).toSet
      .intersect(Set("pods", "nodes", "services")).size == 3)
    Seq("bq_live", "ds_live", "bt_live", "k8s_live")
      .foreach(s => engine.sql(s"DROP SOURCE $s"))
  }

  test("CREATE SOURCE with an unknown protocol fails loudly") {
    val e = intercept[IllegalArgumentException](engine.sql(
      """CREATE SOURCE bad_live WITH {"protocol": "gopher", "url": "x"}"""))
    assert(e.getMessage.contains("unknown protocol"))
  }

  test("CREATE SOURCE config errors fail AT the statement and roll back") {
    import graft.sources._
    val url = LoopbackRestServer.ensureStarted()
    // a malformed fanout must not register a silently-empty source
    intercept[IllegalArgumentException](engine.sql(
      s"""CREATE SOURCE es_bad WITH {"protocol": "es", "url": "$url", "fanout": "four"}"""))
    assert(SourceRegistry.get("es_bad").isEmpty, "no phantom namespace")
    assert(WireSources.get("es_bad").isEmpty)
    // kube's table surface is static, but a missing url must still fail
    // at the statement (every later scan needs it)
    intercept[IllegalArgumentException](engine.sql(
      """CREATE SOURCE k8s_bad WITH {"protocol": "kube"}"""))
    assert(SourceRegistry.get("k8s_bad").isEmpty)
  }

  test("CREATE SOURCE tables_to_load restricts the namespace (Conf.TablesToLoad)") {
    import org.apache.spark.sql.types._
    import graft.sources._
    val schema = StructType(Seq(StructField("id", LongType)))
    LoopbackRestServer.registerEs("cs_ttl_a", schema, Seq(Array[Any](1L)))
    LoopbackRestServer.registerEs("cs_ttl_b", schema, Seq(Array[Any](2L)))
    val url = LoopbackRestServer.ensureStarted()
    engine.sql(s"""CREATE SOURCE es_ttl WITH {"protocol": "es", "url": "$url",
      "tables_to_load": "cs_ttl_a"}""")
    val listed = engine.sql(s"SHOW TABLES IN ${SourceRegistry.CatalogName}.es_ttl")
      .collect().map(_.getString(1)).toSet
    assert(listed.contains("cs_ttl_a") && !listed.contains("cs_ttl_b"))
    // the filter also blocks LAZY registration through resolution
    intercept[Exception](
      spark.table(s"${SourceRegistry.CatalogName}.es_ttl.cs_ttl_b").collect())
    assert(WireEndpoints.get("es_ttl", "cs_ttl_b").isEmpty)
    engine.sql("DROP SOURCE es_ttl")
  }

  test("re-registering an existing source with a broken definition restores it") {
    import org.apache.spark.sql.types._
    import graft.sources._
    val schema = StructType(Seq(StructField("id", LongType)))
    LoopbackRestServer.registerEs("cs_keep_idx", schema,
      (0L until 20L).map(i => Array[Any](i)))
    val url = LoopbackRestServer.ensureStarted()
    engine.sql(s"""CREATE SOURCE es_keep WITH {"protocol": "es", "url": "$url"}""")
    val t = s"${SourceRegistry.CatalogName}.es_keep.cs_keep_idx"
    assert(spark.table(t).count() == 20L)
    // the re-registration fails (malformed fanout) — the statement must
    // error AND the previously working source must survive
    intercept[IllegalArgumentException](engine.sql(
      s"""CREATE SOURCE es_keep WITH {"protocol": "es", "url": "$url", "fanout": "four"}"""))
    assert(WireSources.get("es_keep").isDefined, "prior definition reinstated")
    assert(spark.table(t).count() == 20L, "prior source still queryable")
    engine.sql("DROP SOURCE es_keep")
  }

  test("CREATE SOURCE rest: catalog-route discovery, sampled schema, param pushdown") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    import graft.sources._
    val schema = StructType(Seq(
      StructField("aid", LongType), StructField("seg", StringType)))
    LoopbackRestServer.registerRestApi("cs_rest_api", schema, Set("seg"),
      (0L until 40L).map(i => Array[Any](i, if (i % 2 == 0) "even" else "odd")))
    val url = LoopbackRestServer.ensureStarted()
    engine.sql(s"""CREATE SOURCE rest_cs WITH {"protocol": "rest", "url": "$url", "fanout": 2}""")
    val listed = engine.sql(s"SHOW TABLES IN ${SourceRegistry.CatalogName}.rest_cs")
      .collect().map(_.getString(1)).toSet
    assert(listed.contains("cs_rest_api"), listed.toString)
    // schema discovered by live-sampling the listing (no declared schema)
    val ep = WireEndpoints.get("rest_cs", "cs_rest_api")
      .collect { case e: RestEndpoint => e }.get
    assert(ep.schema("aid").dataType == LongType)
    assert(ep.schema("seg").dataType == StringType)
    assert(ep.slices == 2, "fanout prop flows into strided scan slices")
    // the declared param ships as a query parameter the API applies
    val df = spark.table(s"${SourceRegistry.CatalogName}.rest_cs.cs_rest_api")
      .filter(col("seg") === "even")
    assert(df.count() == 20L)
    assert(LoopbackRestServer.lastParams.get().get("seg").contains("even"),
      LoopbackRestServer.lastParams.get().toString)
    // an already-registered table resolves off the registry alone: no
    // listing or sampling round-trip to the backend
    val servedBefore = LoopbackRestServer.served.get
    spark.table(s"${SourceRegistry.CatalogName}.rest_cs.cs_rest_api").schema
    assert(LoopbackRestServer.served.get - servedBefore == 0L,
      "re-resolving a registered REST table must not call the backend")
    engine.sql("DROP SOURCE rest_cs")
    assert(WireEndpoints.get("rest_cs", "cs_rest_api").isEmpty, "DROP cleans endpoints")
  }

  test("failed wire CREATE SOURCE over an existing FILE source restores it") {
    import graft.sources._
    // the prior definition here is a plain file source (no wire def) —
    // the rollback must reinstate its registry entry too, not just the
    // wire->wire case
    val p = new java.io.File(sys.props("user.dir"),
      "target/graft-test/file-keep-src").getPath
    engine.sql(s"""CREATE SOURCE file_keep WITH {"type": "csv", "path": "$p"}""")
    val t = s"${SourceRegistry.CatalogName}.file_keep.kv"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $t VALUES (1,'a'), (2,'b')")
    assert(spark.table(t).count() == 2L)
    val url = LoopbackRestServer.ensureStarted()
    intercept[IllegalArgumentException](engine.sql(
      s"""CREATE SOURCE file_keep WITH {"protocol": "es", "url": "$url", "fanout": "four"}"""))
    assert(SourceRegistry.get("file_keep").isDefined, "file source reinstated")
    assert(WireSources.get("file_keep").isEmpty, "no phantom wire def")
    assert(spark.table(t).count() == 2L, "prior file source still queryable")
    spark.sql(s"DROP TABLE $t")
    engine.sql("DROP SOURCE file_keep")
  }
}
