package graft

import java.io.IOException

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources._

/** Datastore-protocol connector: the single-inequality-property accept
  * rule, server-side 400 enforcement of the same rule, proto-JSON value
  * round-trips, endCursor paging past the service batch cap, and DSv2
  * pushdown (filters/order/limit in one :runQuery) over a live socket. */
class DsSourceSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("seg", StringType),
    StructField("bal", DoubleType), StructField("ts", TimestampType)))
  private val rows: Seq[Array[Any]] = (0L until 400L).map { i =>
    Array[Any](i, if (i % 3 == 0) "A" else if (i % 3 == 1) "B" else null,
      i * 1.5,
      java.sql.Timestamp.valueOf(s"2024-01-${(i % 28 + 1).formatted("%02d")} 00:00:00"))
  }

  private def table(name: String): String = {
    LoopbackRestServer.register(name, schema, rows)
    val baseUrl = LoopbackRestServer.ensureStarted()
    LoopbackRestServer.failNext.set(0)
    WireEndpoints.register(DsEndpoint("dstest", name, schema,
      DsEndpointSpec(baseUrl, name, HttpRestConfig(pageSize = 64, retryBackoffMs = 5))))
    if (SourceRegistry.get("dstest").isEmpty)
      SourceRegistry.register(SourceDef("dstest",
        new java.io.File(sys.props("user.dir"), "target/graft-test/dstest").getPath,
        "json", "ds"))
    SourceRegistry.ensureCatalog(spark)
    s"${SourceRegistry.CatalogName}.dstest.$name"
  }

  // ---- accept rules ------------------------------------------------------

  test("split: one inequality property; second property's ranges decline") {
    val (acc, dec) = DsQuery.split(Seq(
      EqualTo("seg", "A"),
      GreaterThan("bal", 10.0), LessThanOrEqual("bal", 500.0),
      GreaterThan("id", 5L), // second inequality property -> residual
      IsNull("seg")))
    assert(acc.map(_.op) ==
      Seq("EQUAL", "GREATER_THAN", "LESS_THAN_OR_EQUAL", "EQUAL"))
    assert(dec == Seq(GreaterThan("id", 5L)))
    val (acc2, dec2) = DsQuery.split(Seq(
      Or(EqualTo("seg", "A"), EqualTo("seg", "B")), IsNotNull("seg")))
    assert(acc2.isEmpty && dec2.size == 2, "OR and IS NOT NULL have no query form")
  }

  test("the service rejects a second inequality property (enforced decline)") {
    LoopbackRestServer.register("ds0", schema, rows)
    val base = LoopbackRestServer.ensureStarted()
    val client = new HttpRestClient(base, HttpRestConfig(retryBackoffMs = 5))
    val body = DsQuery.queryJson("ds0", Nil,
      Seq(DsQuery.PropFilter("bal", "GREATER_THAN", 1.0: java.lang.Double),
        DsQuery.PropFilter("id", "LESS_THAN", 10L: java.lang.Long)),
      Nil, -1, "")
    val e = intercept[IOException](client.postJson("/ds/ds0:runQuery", body))
    assert(e.getMessage.contains("INVALID_ARGUMENT") &&
      e.getMessage.contains("only one property"), e.getMessage)
    // and a sort whose first key is not the inequality property
    val body2 = DsQuery.queryJson("ds0", Nil,
      Seq(DsQuery.PropFilter("bal", "GREATER_THAN", 1.0: java.lang.Double)),
      Seq(("id", false)), -1, "")
    val e2 = intercept[IOException](client.postJson("/ds/ds0:runQuery", body2))
    assert(e2.getMessage.contains("first sort property"), e2.getMessage)
  }

  test("entityResults page past the service batch cap via endCursor") {
    val t = table("ds1")
    val served0 = LoopbackRestServer.served.get()
    assert(spark.table(t).select("id").collect().length == 400)
    // 400 entities at the 300-entity service cap = 2 runQuery calls
    assert(LoopbackRestServer.served.get() - served0 >= 2)
  }

  test("filters, order and limit ride one structured query; values round-trip") {
    val t = table("ds2")
    val got = spark.table(t)
      .filter(col("seg") === "B" && col("bal") > 100.0 && col("bal") <= 200.0)
      .orderBy(col("bal").desc, col("id").desc)
      .limit(5)
      .select("id", "bal", "ts")
      .collect()
    val want = rows.filter(r => r(1) == "B" && r(2).asInstanceOf[Double] > 100.0
        && r(2).asInstanceOf[Double] <= 200.0)
      .sortBy(r => (-r(2).asInstanceOf[Double], -r(0).asInstanceOf[Long]))
      .take(5)
    assert(got.length == want.size)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getLong(0) == w(0) && g.getDouble(1) == w(2) &&
        g.getTimestamp(2) == w(3))
    }
    val q = LoopbackRestServer.lastDsQuery.get()
    assert(q.contains("GREATER_THAN") && q.contains("LESS_THAN_OR_EQUAL") &&
      q.contains("DESCENDING") && q.contains("\"limit\""), q)
  }

  test("ORDER BY + LIMIT + OFFSET fully delegate: one runQuery, window collapsed") {
    val t = table("dsoff1")
    val df = spark.table(t)
      .filter(col("seg") === "B")
      .orderBy(col("bal").desc, col("id").desc)
      .offset(15)
      .limit(10)
      .select("id", "bal")
    val got = df.collect()
    val want = rows.filter(_(1) == "B")
      .sortBy(r => (-r(2).asInstanceOf[Double], -r(0).asInstanceOf[Long]))
      .slice(15, 25)
    assert(got.length == want.size)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getLong(0) == w(0) && g.getDouble(1) == w(2))
    }
    // the single-stream scan consumed the whole window: Spark planned no
    // Sort/Offset/Limit of its own — the server's answer IS the result
    val opt = df.queryExecution.optimizedPlan
    assert(!opt.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Sort]),
      opt.toString)
    assert(!opt.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Offset]),
      opt.toString)
    assert(!opt.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.GlobalLimit]),
      opt.toString)
    val q = LoopbackRestServer.lastDsQuery.get()
    // Spark pushes limit+offset widened (25) then the offset; the wire
    // limit counts AFTER the skip, so the query carries the true window
    assert(q.contains("\"offset\":15") && q.contains("\"limit\":10"), q)
  }

  test("OFFSET declines on a fanned scan and under a pushed aggregate") {
    val t = fanTable("dsoff2", Seq(100L, 200L, 300L))
    // fan-out: per-slice skipping would drop rows — Spark keeps its node
    val df = spark.table(t).offset(3)
    assert(df.queryExecution.optimizedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Offset]),
      "a fanned scan must not consume OFFSET")
    assert(df.count() == rows.size.toLong - 3)
    assert(!LoopbackRestServer.lastDsQuery.get().contains("\"offset\""))
    // aggregation queries have no offset form: the decline keeps the
    // skip engine-side, which correctly empties the one-row answer
    val ag = spark.table(t).agg(count(lit(1)).as("n")).offset(1)
    assert(ag.collect().isEmpty)
    assert(!LoopbackRestServer.lastDsQuery.get().contains("\"offset\""))
  }

  test("second-property range declines through DSv2 and polyfills exactly") {
    val t = table("ds3")
    val cutoff = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
    val got = spark.table(t)
      .filter(col("seg") === "A" && col("bal") > 300.0 && col("ts") < lit(cutoff))
      .select("id").collect().map(_.getLong(0)).sorted
    val want = rows.filter(r => r(1) == "A" && r(2).asInstanceOf[Double] > 300.0
        && r(3).asInstanceOf[java.sql.Timestamp].before(cutoff))
      .map(_(0).asInstanceOf[Long]).sorted
    assert(got.toSeq == want)
    val q = LoopbackRestServer.lastDsQuery.get()
    // ts legitimately rides the PROJECTION (the residual reads it); the
    // ts FILTER must not reach the service
    assert(!q.contains("timestampValue"), s"the ts range must stay engine-side: $q")
  }

  test("IS NULL pushes as EQUAL NULL_VALUE; IS NOT NULL stays engine-side") {
    val t = table("ds4")
    assert(spark.table(t).filter(col("seg").isNull).count() ==
      rows.count(_(1) == null))
    assert(LoopbackRestServer.lastDsQuery.get().contains("nullValue"))
    assert(spark.table(t).filter(col("seg").isNotNull).count() ==
      rows.count(_(1) != null))
  }

  // ---- wire DML ----------------------------------------------------------

  private def writeTable(name: String): String = {
    LoopbackRestServer.registerDs(name, schema, "id", Seq.empty)
    val baseUrl = LoopbackRestServer.ensureStarted()
    WireEndpoints.register(DsEndpoint("dstest", name, schema,
      DsEndpointSpec(baseUrl, name, HttpRestConfig(pageSize = 64, retryBackoffMs = 5)),
      keyCol = Some("id")))
    SourceRegistry.ensureCatalog(spark)
    s"${SourceRegistry.CatalogName}.dstest.$name"
  }

  test("INSERT upserts by entity key; UPDATE is read-modify-write; DELETE by key") {
    val t = writeTable("wr1")
    spark.sql(s"INSERT INTO $t VALUES " +
      "(1, 'A', 1.0, TIMESTAMP '2024-01-01 00:00:00'), " +
      "(2, 'B', 2.0, TIMESTAMP '2024-01-02 00:00:00')")
    assert(spark.table(t).count() == 2)
    // re-insert key 1: Put semantics replace, not duplicate
    spark.sql(s"INSERT INTO $t VALUES (1, 'A2', 1.5, TIMESTAMP '2024-01-03 00:00:00')")
    assert(spark.table(t).count() == 2)
    assert(spark.table(t).filter(col("id") === 1L).collect()(0).getString(1) == "A2")
    // read-modify-write UPDATE through the engine
    val eng = new graft.engine.GraftEngine(spark)
    val n = eng.sql(s"UPDATE $t SET bal = 9.0 WHERE seg = 'B'").collect()(0).getLong(0)
    assert(n == 1L)
    assert(spark.table(t).filter(col("id") === 2L).collect()(0).getDouble(2) == 9.0)
    // delete is key-addressed
    spark.sql(s"DELETE FROM $t WHERE id IN (1, 2)")
    assert(spark.table(t).count() == 0)
  }

  test("DELETE refuses a non-key WHERE (KeyFromWhere contract)") {
    val t = writeTable("wr2")
    spark.sql(s"INSERT INTO $t VALUES (1, 'A', 1.0, TIMESTAMP '2024-01-01 00:00:00')")
    intercept[Exception](spark.sql(s"DELETE FROM $t WHERE seg = 'A'"))
    assert(spark.table(t).count() == 1, "the refused delete must not mutate")
  }

  test("DELETE intersects ANDed key predicates; a contradiction deletes nothing") {
    val t = writeTable("wr9")
    spark.sql(s"INSERT INTO $t VALUES " +
      "(1, 'A', 1.0, TIMESTAMP '2024-01-01 00:00:00'), " +
      "(2, 'B', 2.0, TIMESTAMP '2024-01-02 00:00:00'), " +
      "(3, 'C', 3.0, TIMESTAMP '2024-01-03 00:00:00')")
    // id = 2 AND id IN (4, 6) matches nothing: no mutations ship
    spark.sql(s"DELETE FROM $t WHERE id = 2 AND id IN (4, 6)")
    assert(spark.table(t).count() == 3, "a contradictory WHERE deletes nothing")
    // id = 2 AND id IN (2, 3): the intersection (2) only
    spark.sql(s"DELETE FROM $t WHERE id = 2 AND id IN (2, 3)")
    assert(spark.table(t).collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L),
      "ANDed key predicates delete their intersection, never their union")
    // a WHERE that pins no keys (bare IS NOT NULL) refuses loudly
    // instead of silently deleting nothing
    intercept[Exception](spark.sql(s"DELETE FROM $t WHERE id IS NOT NULL"))
    assert(spark.table(t).count() == 2, "refused deletes must not mutate")
  }

  test("an UPDATE whose WHERE has no property-filter form ABORTS") {
    val t = writeTable("wr3")
    spark.sql(s"INSERT INTO $t VALUES (1, 'A', 1.0, TIMESTAMP '2024-01-01 00:00:00')")
    val eng = new graft.engine.GraftEngine(spark)
    // OR has no datastore composite form: must abort, never widen
    val e = intercept[Exception](
      eng.sql(s"UPDATE $t SET bal = 0.0 WHERE seg = 'A' OR seg = 'B'"))
    assert(e.getMessage.contains("wire filter surface"), e.getMessage)
    assert(spark.table(t).filter(col("bal") === 0.0).count() == 0)
  }

  // ---- key-range fan-out -------------------------------------------------

  private def fanTable(name: String, points: Seq[Any]): String = {
    LoopbackRestServer.register(name, schema, rows)
    val baseUrl = LoopbackRestServer.ensureStarted()
    WireEndpoints.register(DsEndpoint("dstest", name, schema,
      DsEndpointSpec(baseUrl, name, HttpRestConfig(pageSize = 64, retryBackoffMs = 5)),
      splits = Some(WireSplits("id", points))))
    SourceRegistry.ensureCatalog(spark)
    s"${SourceRegistry.CatalogName}.dstest.$name"
  }

  test("key splits shard the scan; the null arm keeps explicit-null keys") {
    val t = fanTable("fan1", Seq(100L, 200L, 300L))
    val df = spark.table(t)
    assert(df.rdd.getNumPartitions == 5, "4 ranges + the EQUAL-null arm")
    val got = df.select("id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == rows.map(_(0).asInstanceOf[Long]).sorted,
      "range tiling is exactly-once")
    // filters compose: equality on another property is legal in every arm
    val a = df.filter(col("seg") === "A").count()
    assert(a == rows.count(_(1) == "A").toLong)
  }

  test("TIMESTAMP_NTZ columns round-trip the runQuery wire") {
    // Spark 4 collects TIMESTAMP_NTZ as java.time.LocalDateTime; the
    // proto-JSON codec renders it as a timestampValue (UTC wall clock)
    // and parses it back per the declared schema
    val ntzSchema = StructType(Seq(
      StructField("id", LongType), StructField("d", TimestampNTZType)))
    def ldt(day: Int) = java.time.LocalDateTime.of(2024, 3, day, 0, 0, 0)
    val ntzRows: Seq[Array[Any]] = (1 to 28).map(i => Array[Any](i.toLong, ldt(i)))
    LoopbackRestServer.registerDs("ntzds", ntzSchema, "id", ntzRows)
    val baseUrl = LoopbackRestServer.ensureStarted()
    WireEndpoints.register(DsEndpoint("dstest", "ntzds", ntzSchema,
      DsEndpointSpec(baseUrl, "ntzds", HttpRestConfig(pageSize = 64, retryBackoffMs = 5)),
      keyCol = Some("id")))
    SourceRegistry.ensureCatalog(spark)
    val t = s"${SourceRegistry.CatalogName}.dstest.ntzds"
    val all = spark.table(t).collect()
    assert(all.length == 28)
    assert(all.map(_.getAs[java.time.LocalDateTime]("d")).toSet ==
      (1 to 28).map(ldt).toSet)
    // an NTZ inequality pushes as the single-inequality property filter
    val late = spark.table(t).filter(col("d") >= ldt(15))
    assert(late.count() == 14)
  }

  test("null keys ride the EQUAL-null arm and are excluded by key ranges") {
    val rowsN: Seq[Array[Any]] = rows ++ Seq(
      Array[Any](null, "A", -1.0, java.sql.Timestamp.valueOf("2024-02-01 00:00:00")),
      Array[Any](null, "B", -2.0, java.sql.Timestamp.valueOf("2024-02-02 00:00:00")))
    LoopbackRestServer.register("fan3", schema, rowsN)
    val baseUrl = LoopbackRestServer.ensureStarted()
    WireEndpoints.register(DsEndpoint("dstest", "fan3", schema,
      DsEndpointSpec(baseUrl, "fan3", HttpRestConfig(pageSize = 64, retryBackoffMs = 5)),
      splits = Some(WireSplits("id", Seq(100L, 200L, 300L)))))
    SourceRegistry.ensureCatalog(spark)
    val t = s"${SourceRegistry.CatalogName}.dstest.fan3"
    // the unranged scan's EQUAL-null arm returns the explicit-null keys
    val df = spark.table(t)
    assert(df.count() == rowsN.size.toLong, "null-key rows must survive tiling")
    assert(df.filter(col("id").isNull).count() == 2L)
    // a key range excludes null keys (inequality never matches null in
    // the connector's 3VL model), so the null arm is provably empty and
    // dropped: 4 tiles, and the VALUES confirm nothing else was lost
    val k = df.filter(col("id") < 150L)
    assert(k.rdd.getNumPartitions == 4)
    assert(k.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 150L))
  }

  test("an inequality on another property forfeits fan-out (the API's budget)") {
    val t = fanTable("fan2", Seq(100L, 200L, 300L))
    val df = spark.table(t).filter(col("bal") > 300.0)
    assert(df.rdd.getNumPartitions == 1,
      "bal ranges consume the single-inequality slot: no key injection")
    assert(df.count() == rows.count(_(2).asInstanceOf[Double] > 300.0).toLong)
    // but ranges on the SPLIT KEY itself coexist with the injected
    // ranges — and a key-ranged scan provably excludes null keys, so
    // the explicit-null arm is dropped (4 tiles, no wasted request)
    val k = spark.table(t).filter(col("id") < 150L)
    assert(k.rdd.getNumPartitions == 4)
    assert(k.count() == 150L)
    // an EQUAL on the split key pins the scan to ONE targeted request
    val pin = spark.table(t).filter(col("id") === 42L)
    assert(pin.rdd.getNumPartitions == 1,
      "a point lookup must not fan out into provably-empty shards")
    assert(pin.count() == 1L)
  }

  // ---- aggregation-query pushdown (:runAggregationQuery) -------------------

  test("global count/sum/avg push as ONE aggregation query; WHERE rides the nested query") {
    val t = table("dsagg1")
    val served0 = LoopbackRestServer.served.get()
    val df = spark.table(t)
      .filter(col("seg") === "A")
      .agg(count(lit(1)).as("n"), sum("id").as("sum_id"), avg("bal").as("avg_bal"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"complete pushdown must leave NO engine aggregate:\n$plan")
    val r = df.collect().head
    val as = rows.filter(_(1) == "A")
    assert(r.getLong(0) == as.size.toLong)
    assert(r.getLong(1) == as.map(_(0).asInstanceOf[Long]).sum)
    assert(math.abs(r.getDouble(2) -
      as.map(_(2).asInstanceOf[Double]).sum / as.size) < 1e-9)
    assert(LoopbackRestServer.served.get() - served0 == 1,
      "a pushed aggregate must be one :runAggregationQuery round trip")
    val q = LoopbackRestServer.lastDsQuery.get()
    assert(q.contains("aggregationQuery") && q.contains("nestedQuery"), q)
    assert(q.contains("propertyFilter"), s"the WHERE must ride the nested query: $q")
  }

  test("SUM over zero matching entities reads back as SQL NULL via the companion avg") {
    val t = table("dsagg2")
    val df = spark.table(t)
      .filter(col("seg") === "NOPE")
      .agg(count(lit(1)).as("n"), sum("id").as("sum_id"), avg("bal").as("avg_bal"))
    assert(!df.queryExecution.executedPlan.toString.contains("HashAggregate"))
    val r = df.collect().head
    assert(r.getLong(0) == 0L)
    assert(r.isNullAt(1), "Datastore sum-over-empty is 0; SQL SUM must be NULL")
    assert(r.isNullAt(2), "avg over zero valid values is NULL (documented)")
  }

  test("GROUP BY, COUNT(col), MIN/MAX and over-cap requests decline to the engine") {
    val t = table("dsagg3")
    // no GROUP BY in the aggregation API
    val g = spark.table(t).groupBy("seg").agg(count(lit(1)).as("n"))
    assert(g.queryExecution.executedPlan.toString.contains("Aggregate"))
    assert(g.collect().length == 3)
    // COUNT(col) has no per-property form
    val cc = spark.table(t).agg(count(col("seg")).as("n"))
    assert(cc.queryExecution.executedPlan.toString.contains("Aggregate"))
    assert(cc.collect().head.getLong(0) == rows.count(_(1) != null).toLong)
    // MIN/MAX have no aggregation form
    val mm = spark.table(t).agg(min("id").as("mn"), max("id").as("mx"))
    assert(mm.queryExecution.executedPlan.toString.contains("Aggregate"))
    assert(mm.collect().head.getLong(0) == 0L)
    // three sums cost 6 aliases (companion avgs) > the documented cap of 5
    val over = spark.table(t).agg(sum("id").as("a"), sum("bal").as("b"),
      sum(col("id") * 0 + col("id")).as("c"))
    assert(over.queryExecution.executedPlan.toString.contains("Aggregate"))
  }

  test("the server enforces the aggregation cap with the real 400 shape") {
    LoopbackRestServer.register("dsagg4", schema, rows)
    val base = LoopbackRestServer.ensureStarted()
    val c = new HttpRestClient(base, HttpRestConfig(retryBackoffMs = 5))
    val aggs = (0 until 6).map(i => ("count", "")).toSeq
    val body = DsQuery.aggregationJson("dsagg4", Nil, Nil,
      Seq.fill(6)((AggFn.CountStar, "")))
    val e = intercept[java.io.IOException](
      c.postJson("/ds/dsagg4:runAggregationQuery", body))
    assert(e.getMessage.contains("maximum of 5 aggregations"), e.getMessage)
  }
}
