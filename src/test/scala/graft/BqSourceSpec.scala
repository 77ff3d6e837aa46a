package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.{SortExec, TakeOrderedAndProjectExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources._

/** BQ-protocol passthrough connector: SQL render → parse round-trips
  * under 3VL, warehouse-side execution exactness, jobs.query paging,
  * the bare-scan golden plan (aggregate + sort + limit + offset all
  * consumed), and fault injection through the shared REST client. */
class BqSourceSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = TestSpark.session

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("seg", StringType),
    StructField("name", StringType), StructField("bal", DoubleType)))
  private val rows: Seq[Array[Any]] = (0L until 400L).map { i =>
    Array[Any](i, if (i % 3 == 0) "A" else if (i % 3 == 1) "B" else null,
      s"name_${i}_x", i * 1.5)
  }

  private def table(name: String, tSchema: StructType = schema,
      tRows: Seq[Array[Any]] = rows): String = {
    LoopbackRestServer.register(name, tSchema, tRows)
    val baseUrl = LoopbackRestServer.ensureStarted()
    LoopbackRestServer.failNext.set(0)
    LoopbackRestServer.delayMs.set(0)
    WireEndpoints.register(BqEndpoint("bqtest", name, tSchema,
      BqEndpointSpec(baseUrl, name, WireClientConfig(pageSize = 64, retryBackoffMs = 5))))
    if (SourceRegistry.get("bqtest").isEmpty)
      SourceRegistry.register(SourceDef("bqtest",
        new java.io.File(sys.props("user.dir"), "target/graft-test/bqtest").getPath,
        "json", "bq"))
    SourceRegistry.ensureCatalog(spark)
    s"${SourceRegistry.CatalogName}.bqtest.$name"
  }

  // ---- render -> parse -> eval ≡ 3VL ------------------------------------

  test("every rendered filter survives the parse round-trip with 3VL intact") {
    val filters: Seq[Filter] = Seq(
      EqualTo("seg", "A"),
      EqualNullSafe("seg", "A"),
      EqualNullSafe("seg", null),
      In("id", Array(3L, 5L, 999L)),
      In("name", Array("name_1_x", "o'brien")),
      GreaterThan("bal", 300.0),
      LessThanOrEqual("id", 10L),
      IsNull("seg"), IsNotNull("seg"),
      StringStartsWith("name", "name_1"),
      StringEndsWith("name", "0_x"),
      StringContains("name", "_39_"),
      Not(EqualTo("seg", "A")),
      Not(Or(EqualTo("seg", "A"), GreaterThan("id", 200L))),
      And(Or(EqualTo("seg", "A"), EqualTo("seg", "B")), LessThan("id", 50L)),
      Or(And(IsNull("seg"), GreaterThan("id", 390L)),
        And(IsNotNull("seg"), LessThan("id", 5L))),
      AlwaysTrue(), AlwaysFalse())
    filters.foreach { f =>
      val sql = BqSql.render(f).getOrElse(fail(s"$f did not render"))
      val back = new BqSqlTestHook(sql).parsed
      val got = rows.filter(r => FilterEval.eval(back, schema, r)).map(_(0))
      val want = rows.filter(r => FilterEval.eval(f, schema, r)).map(_(0))
      assert(got == want, s"filter $f rendered [$sql] parsed [$back]")
    }
  }

  test("scientific-notation doubles round-trip (Double.toString emits 1.0E-4)") {
    for (v <- Seq(0.0001, -0.0001, 1.5e-7, 2.5e18)) {
      val f = GreaterThan("bal", v)
      val sql = BqSql.render(f).get
      val back = new BqSqlTestHook(sql).parsed
      assert(back == GreaterThan("bal", v), s"[$sql] -> $back")
    }
  }

  test("LIKE meta-characters in literals are escaped, not interpreted") {
    val f = StringContains("name", "100%_x")
    val sql = BqSql.render(f).get
    val back = new BqSqlTestHook(sql).parsed
    assert(back == StringContains("name", "100%_x"), s"[$sql] -> $back")
  }

  test("LIKE meta at fragment EDGES survives both escape levels") {
    // escaped % adjacent to an anchor, and literal backslashes — each
    // must round-trip shape-exact (an EndsWith("x%") that comes back as
    // Contains("x") is silently wrong rows)
    val cases: Seq[Filter] = Seq(
      StringEndsWith("name", "x%"), StringStartsWith("name", "%x"),
      StringContains("name", "%"), StringContains("name", "%%"),
      StringStartsWith("name", "a\\b"), StringEndsWith("name", "a\\"),
      StringContains("name", "a\\%b"), StringStartsWith("name", "x%"),
      StringEndsWith("name", "_"), StringContains("name", "\\"),
      StringStartsWith("name", "\\%"))
    cases.foreach { f =>
      val sql = BqSql.render(f).get
      val back = new BqSqlTestHook(sql).parsed
      assert(back == f, s"$f rendered [$sql] came back $back")
    }
  }

  test("full statements parse: aggregates, group, order, limit, offset") {
    val stmt = BqEval.parse(
      "SELECT seg, count(*) AS n, sum(id) AS s FROM t " +
        "WHERE (seg = 'A' OR bal > 10.5) AND id IS NOT NULL " +
        "GROUP BY seg ORDER BY seg ASC NULLS FIRST LIMIT 5 OFFSET 2")
    assert(stmt.groupBy == Seq("seg") && stmt.aggs.map(_._2) == Seq("n", "s"))
    assert(stmt.limit == 5 && stmt.offset == 2)
    assert(stmt.orderBy == Seq(BqSql.Order("seg", desc = false, nullsFirst = true)))
  }

  test("warehouse execution: exact integer aggregation and null ordering") {
    val stmt = BqEval.parse(
      "SELECT seg, count(*) AS n, sum(id) AS s, avg(id) AS a FROM t " +
        "GROUP BY seg ORDER BY seg ASC NULLS FIRST")
    val (names, _, out) = BqEval.execute(stmt, schema, rows)
    assert(names == Seq("seg", "n", "s", "a"))
    assert(out.head.head == null, "NULLS FIRST must order the null segment first")
    val aRow = out(1) // seg 'A'
    val ids = rows.filter(_(1) == "A").map(_(0).asInstanceOf[Long])
    assert(aRow(1) == ids.size.toLong && aRow(2) == ids.sum &&
      aRow(3) == ids.sum.toDouble / ids.size)
  }

  // ---- DSv2 through the socket ------------------------------------------

  test("the whole statement ships: bare-scan golden plan, exact answer") {
    val t = table("bq1")
    val df = spark.table(t)
      .filter(col("seg") === "A" || col("bal") > 500.0)
      .groupBy("seg")
      .agg(count(lit(1)).as("n"), sum("id").as("s"), avg("id").as("a"))
      .orderBy(col("seg").asc_nulls_first)
      .offset(1)
      .limit(2)
    val got = df.collect()
    // oracle: in-memory over the same rows
    val matched = rows.filter(r => r(1) == "A" || r(3).asInstanceOf[Double] > 500.0)
    val grouped = matched.groupBy(_(1)).toSeq
      .sortBy { case (k, _) => (if (k == null) 0 else 1, String.valueOf(k)) }
      .slice(1, 3)
    assert(got.length == grouped.size)
    got.zip(grouped).foreach { case (r, (seg, g)) =>
      val ids = g.map(_(0).asInstanceOf[Long])
      assert(r.getString(0) == seg && r.getLong(1) == ids.size &&
        r.getLong(2) == ids.sum && r.getDouble(3) == ids.sum.toDouble / ids.size)
    }
    val sql = LoopbackRestServer.lastBqSql.get()
    assert(sql.contains("OR") && sql.contains("GROUP BY seg") &&
      sql.contains("ORDER BY seg") && sql.contains("LIMIT 2") &&
      sql.contains("OFFSET 1"), sql)
    // golden plan: the warehouse consumed EVERYTHING — no Spark-side
    // aggregate, sort, or limit operators remain
    val plan = df.queryExecution.executedPlan
    def all(p: org.apache.spark.sql.execution.SparkPlan): Seq[Any] = {
      val aggs = p.collect {
        case h: HashAggregateExec => h: Any
        case o: ObjectHashAggregateExec => o: Any
        case s: SortAggregateExec => s: Any
        case s: SortExec => s: Any
        case t: TakeOrderedAndProjectExec => t: Any
      }
      aggs
    }
    assert(all(plan).isEmpty, s"expected a bare passthrough scan:\n$plan")
  }

  test("un-renderable predicates decline and polyfill") {
    val t = table("bq2")
    // modulo is outside the rendered dialect -> Spark residual
    val got = spark.table(t)
      .filter(col("seg") === "B" && (col("id") % 7 === 0))
      .select("id").collect().map(_.getLong(0)).sorted
    val want = rows.filter(r => r(1) == "B" && r(0).asInstanceOf[Long] % 7 == 0)
      .map(_(0).asInstanceOf[Long]).sorted
    assert(got.toSeq == want)
    assert(!LoopbackRestServer.lastBqSql.get().contains("%"),
      s"the modulo must stay engine-side: ${LoopbackRestServer.lastBqSql.get()}")
  }

  test("a delegated DESC sort places nulls where Spark does") {
    val vSchema = StructType(Seq(StructField("id", LongType), StructField("v", LongType)))
    val vRows: Seq[Array[Any]] = Seq((1L, 5L), (2L, null), (3L, 9L), (4L, null), (5L, 1L))
      .map { case (i, v) => Array[Any](i, v) }
    val t = spark.table(table("bqdescnulls", vSchema, vRows))
    val local = spark.createDataFrame(
      java.util.Arrays.asList(vRows.map(r => Row.fromSeq(r.toSeq)): _*), vSchema)
    def top3(df: DataFrame, v: Column): Seq[Long] =
      df.orderBy(v, col("id")).limit(3).collect().map(_.getLong(0)).toSeq
    for (v <- Seq(col("v").desc, col("v").desc_nulls_first)) {
      val got = top3(t, v)
      val sql = LoopbackRestServer.lastBqSql.get()
      assert(sql.contains("ORDER BY v DESC") && sql.contains("LIMIT 3"),
        s"the window must be delegated: $sql")
      assert(got == top3(local, v), s"$v over [$sql]")
    }
    assert(top3(t, col("v").desc) == Seq(3L, 1L, 5L))
  }

  test("row results page with pageToken (pageSize < result size)") {
    val t = table("bq3")
    val served0 = LoopbackRestServer.served.get()
    assert(spark.table(t).select("id", "name").collect().length == 400)
    assert(LoopbackRestServer.served.get() - served0 >= 6,
      "400 rows at 64-row pages must take several jobs.query calls")
  }

  test("injected 500s retry through the shared REST client") {
    val t = table("bq4")
    LoopbackRestServer.failNext.set(2)
    assert(spark.table(t).filter(col("seg").isNull).count() ==
      rows.count(_(1) == null))
  }

  // ---- key-range fan-out -------------------------------------------------

  private def fanTable(name: String, points: Seq[Any]): String = {
    LoopbackRestServer.register(name, schema, rows)
    val baseUrl = LoopbackRestServer.ensureStarted()
    WireEndpoints.register(BqEndpoint("bqtest", name, schema,
      BqEndpointSpec(baseUrl, name, WireClientConfig(pageSize = 64, retryBackoffMs = 5)),
      splits = Some(WireSplits("id", points))))
    if (SourceRegistry.get("bqtest").isEmpty)
      SourceRegistry.register(SourceDef("bqtest",
        new java.io.File(sys.props("user.dir"), "target/graft-test/bqtest").getPath,
        "json", "bq"))
    SourceRegistry.ensureCatalog(spark)
    s"${SourceRegistry.CatalogName}.bqtest.$name"
  }

  // ---- wire DML ----------------------------------------------------------

  test("INSERT streams insertAll; UPDATE/DELETE ship as DML jobs") {
    val name = "wrq1"
    LoopbackRestServer.register(name, schema, Seq.empty)
    val baseUrl = LoopbackRestServer.ensureStarted()
    WireEndpoints.register(BqEndpoint("bqtest", name, schema,
      BqEndpointSpec(baseUrl, name, WireClientConfig(pageSize = 64, retryBackoffMs = 5))))
    SourceRegistry.ensureCatalog(spark)
    val t = s"${SourceRegistry.CatalogName}.bqtest.$name"
    spark.sql(s"INSERT INTO $t VALUES (1, 'A', 'one', 1.0), (2, 'B', 'two', 2.0), " +
      "(3, null, 'three', 3.0)")
    assert(spark.table(t).count() == 3)
    val eng = new graft.engine.GraftEngine(spark)
    val n = eng.sql(s"UPDATE $t SET bal = 9.5 WHERE seg = 'A'")
      .collect()(0).getLong(0)
    assert(n == 1L)
    assert(spark.table(t).filter(col("id") === 1L).collect()(0).getDouble(3) == 9.5)
    spark.sql(s"DELETE FROM $t WHERE seg IS NULL")
    assert(spark.table(t).count() == 2)
    // unconditional delete maps to WHERE TRUE
    spark.sql(s"DELETE FROM $t")
    assert(spark.table(t).count() == 0)
  }

  test("the warehouse rejects DML without a WHERE clause") {
    val name = "wrq2"
    LoopbackRestServer.register(name, schema, rows.take(5))
    val baseUrl = LoopbackRestServer.ensureStarted()
    val client = new HttpRestClient(baseUrl, WireClientConfig(maxRetries = 0))
    intercept[Exception](client.postJson(s"/bq/$name/query",
      """{"query":"DELETE FROM wrq2"}"""))
    // the rows are untouched after the refused statement
    assert(LoopbackRestServer.lastBqSql.get() != null)
    val resp = client.postJson(s"/bq/$name/query",
      """{"query":"SELECT count(*) AS n FROM wrq2"}""")
    assert(resp.contains("\"5\""), resp)
  }

  test("an UPDATE whose WHERE cannot render ABORTS (no widened mutation)") {
    val name = "wrq3"
    LoopbackRestServer.register(name, schema, Seq.empty)
    val baseUrl = LoopbackRestServer.ensureStarted()
    WireEndpoints.register(BqEndpoint("bqtest", name, schema,
      BqEndpointSpec(baseUrl, name, WireClientConfig(pageSize = 64, retryBackoffMs = 5))))
    SourceRegistry.ensureCatalog(spark)
    val t = s"${SourceRegistry.CatalogName}.bqtest.$name"
    spark.sql(s"INSERT INTO $t VALUES (1, 'A', 'one', 1.0)")
    val eng = new graft.engine.GraftEngine(spark)
    val e = intercept[Exception](
      eng.sql(s"UPDATE $t SET bal = 0.0 WHERE length(name) > 100"))
    assert(e.getMessage.contains("wire filter surface"), e.getMessage)
    assert(spark.table(t).filter(col("bal") === 0.0).count() == 0)
  }

  test("bare statements shard into per-range statements, exactly-once") {
    val t = fanTable("fanq1", Seq(100L, 200L, 300L))
    val df = spark.table(t).filter(col("seg") === "A" || col("bal") > 500.0)
    assert(df.rdd.getNumPartitions == 4, "3 split points => 4 statements")
    val got = df.select("id").collect().map(_.getLong(0)).sorted
    val want = rows.filter(r => r(1) == "A" || r(3).asInstanceOf[Double] > 500.0)
      .map(_(0).asInstanceOf[Long]).sorted
    assert(got.toSeq == want.toSeq, "the range conjuncts tile the key space")
    // the shards run in parallel, so any of them may reach the server
    // last: assert on the planned statements, not on the last request
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val sqls = plan.collectLeaves().collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.collect { case p: BqPartition => p.sql }
    }.flatten
    assert(sqls.size == 4, sqls.mkString("\n"))
    assert(sqls.count(_.contains("id >=")) == 3,
      "the shipped SQL carries the injected range")
    assert(sqls.head.contains("IS NULL") && !sqls.head.contains("id >="),
      "null keys ride shard 0")
  }

  test("a pushed predicate pinning the split key stays ONE statement") {
    val t = fanTable("fanq3", Seq(100L, 200L, 300L))
    val pin = spark.table(t).filter(col("id") === 150L)
    assert(pin.rdd.getNumPartitions == 1,
      "a point lookup must not shard into provably-empty statements")
    assert(pin.count() == rows.count(_(0) == 150L).toLong)
  }

  test("consumed agg/sort/limit/offset statements stay ONE exact request") {
    val t = fanTable("fanq2", Seq(100L, 200L, 300L))
    // aggregate: re-running per shard would double-count
    val agg = spark.table(t).groupBy("seg").agg(count(lit(1)).as("n"))
    assert(agg.rdd.getNumPartitions == 1, "COMPLETE agg pushdown: one statement")
    assert(agg.collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap ==
      rows.groupBy(r => Option(r(1).asInstanceOf[String]))
        .map { case (k, g) => k -> g.size.toLong })
    // offset: only a single statement can consume it exactly
    val off = spark.table(t).orderBy(col("id")).offset(5).limit(3)
    assert(off.rdd.getNumPartitions == 1)
    assert(off.collect().map(_.getLong(0)).toSeq == Seq(5L, 6L, 7L))
  }

  // ---- same-warehouse join pushdown (full-statement render) ---------------

  private val dimSchema = StructType(Seq(
    StructField("dim_id", LongType), StructField("label", StringType)))
  private val dimRows: Seq[Array[Any]] = Seq(
    Array[Any](5L, "five"), Array[Any](10L, "ten"), Array[Any](10L, "ten2"),
    Array[Any](900L, "nohit"),
    Array[Any](null, "nullkey")) // must match NOTHING under SQL equality

  private def dimTable(name: String): String = {
    LoopbackRestServer.register(name, dimSchema, dimRows)
    val baseUrl = LoopbackRestServer.ensureStarted()
    WireEndpoints.register(BqEndpoint("bqtest", name, dimSchema,
      BqEndpointSpec(baseUrl, name, WireClientConfig(pageSize = 64, retryBackoffMs = 5))))
    SourceRegistry.ensureCatalog(spark)
    s"${SourceRegistry.CatalogName}.bqtest.$name"
  }

  private def withJoinPushdown[A](body: => A): A = {
    val key = "spark.sql.optimizer.datasourceV2JoinPushdown"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("a same-warehouse inner equi-join renders as ONE JOIN statement") {
    val t = table("bqj1")
    val d = dimTable("bqj1_dim")
    withJoinPushdown {
      val served0 = LoopbackRestServer.served.get()
      val df = spark.table(t)
        .filter(col("bal") < 100.0)
        .join(spark.table(d), col("id") === col("dim_id"))
        .select("id", "name", "label")
      val got = df.collect().map(r => (r.getLong(0), r.getString(2))).toSet
      // oracle: ids with bal<100 are 0..66; dim hits are 5, 10 (twice)
      assert(got == Set((5L, "five"), (10L, "ten"), (10L, "ten2")), s"$got")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Join"), s"the join must leave the engine:\n$plan")
      assert(LoopbackRestServer.served.get() - served0 == 1,
        "a pushed join must be one statement")
      val sql = LoopbackRestServer.lastBqSql.get()
      assert(sql.contains("JOIN bqj1_dim t1 ON t0.id = t1.dim_id"), sql)
      assert(sql.contains("t0.bal < 100.0"), s"the left filter must render: $sql")
    }
  }

  test("LEFT OUTER renders with the right side's filter in the ON clause") {
    val t = table("bqj2")
    val d = dimTable("bqj2_dim")
    withJoinPushdown {
      val df = spark.table(t)
        .filter(col("id") < 12 && col("id") >= 4)
        .join(spark.table(d).filter(col("label").startsWith("t")),
          col("id") === col("dim_id"), "left")
        .select("id", "label")
      val got = df.collect().map(r =>
        (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1))).toSet
      // ids 4..11; only 10 matches a 't'-labelled dim row (ten, ten2);
      // 5 matches dim_id=5 but label 'five' fails the right filter →
      // the row must SURVIVE null-extended, not disappear
      assert(got == Set((4L, null), (5L, null), (6L, null), (7L, null),
        (8L, null), (9L, null), (10L, "ten"), (10L, "ten2"), (11L, null)), s"$got")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Join"), s"the join must leave the engine:\n$plan")
      val sql = LoopbackRestServer.lastBqSql.get()
      assert(sql.contains("LEFT JOIN"), sql)
      assert(sql.matches("(?s).*ON t0\\.id = t1\\.dim_id AND .*t1\\.label LIKE.*"),
        s"the null-extended side's filter must ride ON, not WHERE: $sql")
    }
  }

  test("RIGHT OUTER renders; a multi-key condition declines to the engine") {
    val t = table("bqj3")
    val d = dimTable("bqj3_dim")
    withJoinPushdown {
      val df = spark.table(t)
        .filter(col("id") < 8)
        .join(spark.table(d), col("id") === col("dim_id"), "right")
        .select("label", "id")
      val got = df.collect().map(r =>
        (r.getString(0), if (r.isNullAt(1)) null else r.getLong(1))).toSet
      assert(got == Set(("five", 5L), ("ten", null), ("ten2", null),
        ("nohit", null), ("nullkey", null)), s"$got")
      assert(!df.queryExecution.executedPlan.toString.contains("Join"))
      assert(LoopbackRestServer.lastBqSql.get().contains("RIGHT JOIN"),
        LoopbackRestServer.lastBqSql.get())

      // decline: two-column condition → the engine keeps the join, each
      // side still a filtered scan
      val dfx = spark.table(t)
        .join(spark.table(d),
          col("id") === col("dim_id") && col("name") === col("label"))
      assert(dfx.queryExecution.executedPlan.toString.contains("Join"),
        "a multi-key condition must decline the push")
      assert(dfx.collect().isEmpty) // no name ever equals a label
    }
  }

  private def noEngineOps(df: org.apache.spark.sql.DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan
    val leftovers = plan.collect {
      case h: HashAggregateExec => h: Any
      case o: ObjectHashAggregateExec => o: Any
      case s: SortAggregateExec => s: Any
      case s: SortExec => s: Any
      case t: TakeOrderedAndProjectExec => t: Any
    }
    assert(leftovers.isEmpty && !plan.toString.contains("Join"),
      s"expected a bare passthrough scan:\n$plan")
  }

  test("an aggregate over a pushed join renders GROUP BY into the ONE statement") {
    val t = table("bqj5")
    val d = dimTable("bqj5_dim")
    withJoinPushdown {
      val served0 = LoopbackRestServer.served.get()
      val df = spark.table(t)
        .join(spark.table(d), col("id") === col("dim_id"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"), sum("bal").as("s"))
      val got = df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      // joined rows: id5⨝five (bal 7.5), id10⨝ten and ⨝ten2 (bal 15.0)
      assert(got == Set(("five", 1L, 7.5), ("ten", 1L, 15.0), ("ten2", 1L, 15.0)), s"$got")
      noEngineOps(df)
      assert(LoopbackRestServer.served.get() - served0 == 1,
        "fact⨝dim→aggregate must be ONE warehouse statement")
      val sql = LoopbackRestServer.lastBqSql.get()
      assert(sql.contains("GROUP BY t1.label") && sql.contains("JOIN") &&
        sql.contains("sum(t0.bal) AS agg_"), sql)
    }
  }

  test("TopN over a pushed join appends ORDER BY/LIMIT to the statement") {
    val t = table("bqj6")
    val d = dimTable("bqj6_dim")
    withJoinPushdown {
      val df = spark.table(t)
        .join(spark.table(d), col("id") === col("dim_id"))
        .select("id", "label", "bal")
        .orderBy(col("bal").desc, col("label"))
        .limit(2)
      val got = df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      // bal: id10 → 15.0 (ten, ten2), id5 → 7.5; top-2 by bal desc,
      // label asc tiebreak
      assert(got == Seq((10L, "ten"), (10L, "ten2")), s"$got")
      noEngineOps(df)
      val sql = LoopbackRestServer.lastBqSql.get()
      assert(sql.contains("ORDER BY t0.bal DESC") && sql.contains("LIMIT 2"), sql)
      assert(!sql.contains(" IN ("),
        s"a delegated ordered window must refuse runtime filters: $sql")
    }
  }

  test("TopN over an aggregate over a pushed join: the triple composition") {
    val t = table("bqj7")
    val d = dimTable("bqj7_dim")
    withJoinPushdown {
      val served0 = LoopbackRestServer.served.get()
      val df = spark.table(t)
        .join(spark.table(d), col("id") === col("dim_id"))
        .groupBy("label")
        .agg(sum("bal").as("s"))
        .orderBy(col("label").desc)
        .limit(2)
      val got = df.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      assert(got == Seq(("ten2", 15.0), ("ten", 15.0)), s"$got")
      noEngineOps(df)
      assert(LoopbackRestServer.served.get() - served0 == 1)
      val sql = LoopbackRestServer.lastBqSql.get()
      assert(sql.contains("GROUP BY t1.label") &&
        sql.contains("ORDER BY t1.label DESC") && sql.contains("LIMIT 2"), sql)
    }
  }

  // ---- runtime semi-join reduction (dynamic filtering) ---------------------

  test("a broadcast dim join ships the build-side keys as a SQL IN conjunct") {
    val t = fanTable("bqdyn1", Seq(100L, 200L, 300L))
    // the build filter is a MODULO — a shape Catalyst cannot propagate
    // statically across the equality, so the key set only exists at
    // runtime (an isin build filter would static-push its own IN and pin
    // the key before dynamic filtering ever ran)
    val dim = spark.range(0, 400)
      .filter(col("id") % 97 === 5)
      .select(col("id").as("dim_id"))
    val df = spark.table(t)
      .join(broadcast(dim), col("id") === col("dim_id"))
      .select("id", "seg")
    val got = df.collect().map(_.getLong(0)).toSet
    assert(got == Set(5L, 102L, 199L, 296L, 393L), s"$got")
    val sql = LoopbackRestServer.lastBqSql.get()
    assert(sql.contains("id IN (") && sql.contains("199"),
      s"the build-side keys must re-render as IN: $sql")
    assert(sql.contains(">=") || sql.contains("<"),
      s"runtime keys must AND into the SHARDED statements too: $sql")
  }

  test("group-key pruning rides IN under a COMPLETE pushed aggregate") {
    val t = table("bqdyn2")
    val dim = spark.range(0, 3)
      .filter(col("id") === 0L)
      .select(when(col("id") === 0L, "A").otherwise("Z").as("dseg"))
    val agg = spark.table(t).groupBy("seg").agg(count(lit(1)).as("n"))
    val df = agg.join(broadcast(dim), col("seg") === col("dseg"))
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("A" -> rows.count(_(1) == "A").toLong), s"$got")
    val sql = LoopbackRestServer.lastBqSql.get()
    assert(sql.contains("GROUP BY") && sql.contains("seg IN ('A')"),
      s"group-key pruning must restrict the grouped statement: $sql")
    assert(!df.queryExecution.executedPlan.toString.contains("HashAggregate"),
      "dynamic filtering must compose with COMPLETE agg pushdown")
  }

  test("a delegated ordered window declines runtime filtering (soundness)") {
    // dim holds ONE key (5) outside the true top-10 by id desc: an IN
    // under the delegated ORDER BY + LIMIT would make the warehouse
    // window the filtered subset — returning id=5, a row the true result
    // cannot contain (it would survive the join's key re-check)
    val t = table("bqdyn3")
    val dim = spark.range(0, 400)
      .filter(col("id") === 5L)
      .select(col("id").as("dim_id"))
    val top = spark.table(t).select("id", "name")
      .orderBy(col("id").desc).limit(10)
    val joined = top.join(broadcast(dim), col("id") === col("dim_id"))
    assert(joined.collect().isEmpty,
      "id=5 is outside the true top-10: any output row IS the unsoundness")
    assert(!LoopbackRestServer.lastBqSql.get().contains(" IN ("),
      s"no runtime IN may ride a delegated window: ${LoopbackRestServer.lastBqSql.get()}")
  }

  test("runtime keys AND into a PUSHED join's single statement") {
    val t = table("bqdynj")
    val d = dimTable("bqdynj_dim")
    withJoinPushdown {
      // a second, selective broadcast dim prunes the already-pushed
      // fact⨝dim statement — two pushdown layers composing
      val dim2 = spark.range(0, 400)
        .filter(col("id") === 10L)
        .select(col("id").as("k2"))
      val df = spark.table(t)
        .join(spark.table(d), col("id") === col("dim_id"))
        .join(broadcast(dim2), col("id") === col("k2"))
        .select("id", "label")
      val got = df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == Set((10L, "ten"), (10L, "ten2")), s"$got")
      val sql = LoopbackRestServer.lastBqSql.get()
      assert(sql.contains("JOIN") && sql.contains("t0.id IN (10)"),
        s"runtime keys must AND into the joined statement under the alias: $sql")
    }
  }


}

/** Test-only access to the predicate sub-parser. */
final class BqSqlTestHook(predSql: String) {
  val parsed: Filter =
    BqEval.parse(s"SELECT id FROM t WHERE $predSql").where.get
}
