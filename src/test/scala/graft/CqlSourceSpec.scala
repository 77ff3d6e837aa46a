package graft

import java.io.IOException

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.protocol.CqlWire
import graft.protocol.CqlWire.T
import graft.sources._

/** CQL-protocol connector: native-protocol v4 frame/value codecs, the
  * sql_to_cql.go key-rule translation (full partition key by equality,
  * clustering prefix with ranges at the cut, everything else declined),
  * server-side ALLOW-FILTERING refusal of non-key predicates, paging,
  * retry under injected aborts, and DSv2 pushdown over a live socket. */
class CqlSourceSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = TestSpark.session

  // partition key: seg; clustering: id
  private val schema = StructType(Seq(
    StructField("seg", StringType), StructField("id", LongType),
    StructField("name", StringType), StructField("bal", DoubleType),
    StructField("flag", BooleanType), StructField("ts", TimestampType)))
  private val rows: Seq[Array[Any]] = (0L until 400L).map { i =>
    Array[Any](if (i % 3 == 0) "A" else if (i % 3 == 1) "B" else "C",
      i, s"name_$i", i * 1.5, i % 2 == 0,
      java.sql.Timestamp.valueOf(s"2024-01-${(i % 28 + 1).formatted("%02d")} 00:00:00"))
  }

  private def client(cfg: WireClientConfig = WireClientConfig(retryBackoffMs = 5, pageSize = 64)) = {
    val (host, port) = LoopbackCqlServer.ensureStarted()
    new CqlClientLite(host, port, cfg)
  }

  private def table(name: String): String = {
    LoopbackCqlServer.register(name, schema, Seq("seg"), Seq("id"), rows)
    val (host, port) = LoopbackCqlServer.ensureStarted()
    LoopbackCqlServer.failNext.set(0)
    WireEndpoints.register(CqlEndpoint("cqltest", name, schema, Seq("seg"), Seq("id"),
      CqlEndpointSpec(host, port, name, WireClientConfig(pageSize = 64, retryBackoffMs = 5))))
    if (SourceRegistry.get("cqltest").isEmpty)
      SourceRegistry.register(SourceDef("cqltest",
        new java.io.File(sys.props("user.dir"), "target/graft-test/cqltest").getPath,
        "json", "cql"))
    SourceRegistry.ensureCatalog(spark)
    s"${SourceRegistry.CatalogName}.cqltest.$name"
  }

  test("collection codecs: list/set/map payloads round-trip the v4 wire shape") {
    import graft.protocol.CqlWire
    import graft.protocol.CqlWire.T
    val lst = Seq("a", "b", null, "c")
    val decL = CqlWire.decodeValue(
      CqlWire.encodeValue(lst, T.listOf(T.Varchar)), T.listOf(T.Varchar))
    assert(decL == lst)
    val st = Seq(1L, 5L, 9L)
    assert(CqlWire.decodeValue(
      CqlWire.encodeValue(st, T.setOf(T.Bigint)), T.setOf(T.Bigint)) == st)
    val mp = Map("x" -> 7L, "y" -> 9L)
    assert(CqlWire.decodeValue(
      CqlWire.encodeValue(mp, T.mapOf(T.Varchar, T.Bigint)),
      T.mapOf(T.Varchar, T.Bigint)) == mp)
  }

  test("collection columns: discovery types from system_schema, scan round-trips") {
    val cschema = StructType(Seq(
      StructField("seg", StringType), StructField("id", LongType),
      StructField("tags", ArrayType(StringType)),
      StructField("props", MapType(StringType, LongType))))
    val crows: Seq[Array[Any]] = (0L until 90L).map { i =>
      Array[Any](if (i % 2 == 0) "A" else "B", i,
        Seq(s"t${i % 3}", "all"), Map("n" -> i * 10))
    }
    LoopbackCqlServer.register("coll_cql", cschema, Seq("seg"), Seq("id"), crows)
    val (host, port) = LoopbackCqlServer.ensureStarted()
    val spec = CqlEndpointSpec(host, port, "coll_cql",
      WireClientConfig(pageSize = 32, retryBackoffMs = 5))
    // discovery parses "list<text>" / "map<text, bigint>" names
    val meta = CqlDiscovery.tableMeta(spec, "coll_cql")
    assert(meta.schema("tags").dataType ==
      ArrayType(StringType, containsNull = true))
    assert(meta.schema("props").dataType ==
      MapType(StringType, LongType, valueContainsNull = true))
    WireEndpoints.register(CqlEndpoint("cqltest", "coll_cql", meta.schema,
      meta.partitionKeys, meta.clusteringKeys, spec))
    if (SourceRegistry.get("cqltest").isEmpty)
      SourceRegistry.register(SourceDef("cqltest",
        new java.io.File(sys.props("user.dir"), "target/graft-test/cqltest").getPath,
        "json", "cql"))
    SourceRegistry.ensureCatalog(spark)
    val df = spark.table(s"${SourceRegistry.CatalogName}.cqltest.coll_cql")
      .filter(col("seg") === "A" && col("id") < 10)
      .select(col("id"), col("tags"), element_at(col("props"), "n").as("n"))
    val got = df.collect().map(r =>
      (r.getLong(0), r.getSeq[String](1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == (0L until 10L).filter(_ % 2 == 0).map(i =>
      (i, Seq(s"t${i % 3}", "all"), i * 10)))
  }

  // ---- wire codecs ------------------------------------------------------

  test("CQL values round-trip every carried type") {
    val cases: Seq[(Any, Int)] = Seq(
      (123456789012L: java.lang.Long, T.Bigint),
      (42: java.lang.Integer, T.Int),
      (7.toShort: java.lang.Short, T.Smallint),
      (3.25: java.lang.Double, T.Double),
      (1.5f: java.lang.Float, T.Float),
      (true: java.lang.Boolean, T.Boolean),
      (java.sql.Timestamp.valueOf("2024-06-01 12:00:00"), T.Timestamp),
      ("héllo 'quoted'", T.Varchar),
      (null, T.Bigint))
    cases.foreach { case (v, tid) =>
      assert(CqlWire.decodeValue(CqlWire.encodeValue(v, tid), tid) == v, s"type $tid")
    }
  }

  test("frames round-trip through the byte stream") {
    val out = new java.io.ByteArrayOutputStream()
    val body = CqlWire.queryBody("SELECT x FROM t", 64, Array[Byte](1, 2, 3))
    CqlWire.writeFrame(out, CqlWire.Frame(CqlWire.Op.Query, 7, body), response = false)
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(out.toByteArray))
    val f = CqlWire.readFrame(in)
    assert(f.opcode == CqlWire.Op.Query && f.stream == 7)
    val q = CqlWire.parseQueryBody(f.body)
    assert(q.cql == "SELECT x FROM t" && q.pageSize == 64)
    assert(q.pagingState.toSeq == Seq[Byte](1, 2, 3))
  }

  // ---- key-rule translation ---------------------------------------------

  test("key rules: full partition key gates everything; clustering is a prefix") {
    def split(fs: Filter*) = CqlGen.split(fs.toSeq, Seq("seg"), Seq("id"))
    // full pushdown: partition equality + clustering range
    val (a1, r1) = split(EqualTo("seg", "A"), GreaterThan("id", 10L),
      LessThanOrEqual("id", 50L))
    assert(a1.where == Seq("seg = 'A'", "id > 10", "id <= 50") && r1.isEmpty)
    // no partition equality -> NOTHING pushes (illegal CQL otherwise)
    val (a2, r2) = split(GreaterThan("id", 10L))
    assert(a2.where.isEmpty && r2.size == 1)
    // range on the partition key is not equality -> nothing pushes
    val (a3, r3) = split(GreaterThan("seg", "A"), EqualTo("id", 5L))
    assert(a3.where.isEmpty && r3.size == 2)
    // non-key predicate declines but keys still push
    val (a4, r4) = split(EqualTo("seg", "B"), EqualTo("id", 5L),
      GreaterThan("bal", 1.0))
    assert(a4.where == Seq("seg = 'B'", "id = 5") && r4 == Seq(GreaterThan("bal", 1.0)))
    // IN / OR / != / LIKE are outside the CQL surface
    val (a5, r5) = split(EqualTo("seg", "A"), In("id", Array(1L, 2L)))
    assert(a5.where == Seq("seg = 'A'") && r5.size == 1)
    val (a6, r6) = split(Or(EqualTo("seg", "A"), EqualTo("seg", "B")))
    assert(a6.where.isEmpty && r6.size == 1)
  }

  test("string literals escape single quotes") {
    val (a, _) = CqlGen.split(Seq(EqualTo("seg", "O'Brien")), Seq("seg"), Nil)
    assert(a.where == Seq("seg = 'O''Brien'"))
  }

  test("a value containing ' AND ' stays ONE predicate through the server parser") {
    val stmt = CqlEval.parse(
      "SELECT id FROM t WHERE seg = 'FOOD AND DRINK' AND id < 5")
    assert(stmt.where == Seq(("seg", "=", "'FOOD AND DRINK'"), ("id", "<", "5")))
    val stmt2 = CqlEval.parse(
      "SELECT id FROM t WHERE seg = 'it''s AND it''s'")
    assert(stmt2.where == Seq(("seg", "=", "'it''s AND it''s'")))
    assert(CqlEval.literal("'it''s AND it''s'", StringType) == "it's AND it's")
    // AND separated by newlines / multiple spaces still splits
    val stmt3 = CqlEval.parse("SELECT id FROM t WHERE seg = 'a'\nAND  id < 5")
    assert(stmt3.where == Seq(("seg", "=", "'a'"), ("id", "<", "5")))
  }

  // ---- wire round-trips -------------------------------------------------

  test("handshake + query + paging across the socket") {
    LoopbackCqlServer.register("wire1", schema, Seq("seg"), Seq("id"), rows)
    LoopbackCqlServer.failNext.set(0)
    val c = client()
    val served0 = LoopbackCqlServer.served.get()
    val got = c.query("SELECT id, name FROM wire1 WHERE seg = 'A'").toSeq
    assert(got.size == rows.count(_(0) == "A"))
    assert(got.head._1.map(_._1) == Seq("id", "name"))
    // 134 rows at page 64 = 3 QUERY commands (+1 STARTUP)
    assert(LoopbackCqlServer.served.get() - served0 >= 4)
    c.close()
  }

  test("server enforces the key rules (ALLOW FILTERING refusal)") {
    LoopbackCqlServer.register("wire2", schema, Seq("seg"), Seq("id"), rows)
    val c = client()
    val e1 = intercept[IOException](
      c.query("SELECT id FROM wire2 WHERE bal > 10.0").toSeq)
    assert(e1.getMessage.contains("ALLOW FILTERING"))
    val e2 = intercept[IOException](
      c.query("SELECT id FROM wire2 WHERE id > 10").toSeq)
    assert(e2.getMessage.contains("must be restricted"))
    val e3 = intercept[IOException](
      c.query("SELECT id FROM wire2 WHERE seg > 'A'").toSeq)
    assert(e3.getMessage.contains("partition key"))
    c.close()
  }

  test("ORDER BY + LIMIT ride the CQL under the single-partition rule") {
    val t = table("topn1")
    val df = spark.table(t).filter(col("seg") === "B")
      .orderBy(col("id").desc).limit(7).select("id", "name")
    val got = df.collect()
    val want = rows.filter(_(0) == "B")
      .sortBy(r => -r(1).asInstanceOf[Long]).take(7)
    assert(got.map(_.getLong(0)).toSeq == want.map(_(1)))
    val cql = LoopbackCqlServer.lastCql.get()
    assert(cql.contains("ORDER BY id DESC") && cql.contains("LIMIT 7"), cql)
    // forward clustering order too
    val asc = spark.table(t).filter(col("seg") === "B")
      .orderBy(col("id")).limit(4).select("id")
    assert(asc.collect().map(_.getLong(0)).toSeq ==
      rows.filter(_(0) == "B").map(_(1).asInstanceOf[Long]).sorted.take(4))
    assert(LoopbackCqlServer.lastCql.get().contains("ORDER BY id LIMIT 4"))
  }

  test("TopN declines without a fully bound partition key or off a clustering prefix") {
    val t = table("topn2")
    // unbound pk: Cassandra refuses ORDER BY — the sort stays engine-side
    val df = spark.table(t).orderBy(col("id")).limit(5).select("id")
    assert(df.collect().map(_.getLong(0)).toSeq == (0L until 5L))
    assert(!LoopbackCqlServer.lastCql.get().contains("ORDER BY"))
    // non-clustering sort column declines even with the pk bound
    val df2 = spark.table(t).filter(col("seg") === "A")
      .orderBy(col("bal").desc).limit(3).select("id", "bal")
    val want2 = rows.filter(_(0) == "A")
      .sortBy(r => -r(3).asInstanceOf[Double]).take(3)
    assert(df2.collect().map(_.getLong(0)).toSeq == want2.map(_(1)))
    assert(!LoopbackCqlServer.lastCql.get().contains("ORDER BY"))
  }

  test("server enforces ORDER BY's single-partition and declared-order rules") {
    LoopbackCqlServer.register("ord1", schema, Seq("seg"), Seq("id"), rows)
    val c = client()
    val e1 = intercept[IOException](
      c.query("SELECT id FROM ord1 ORDER BY id LIMIT 3").toSeq)
    assert(e1.getMessage.contains("partition key is restricted"), e1.getMessage)
    val e2 = intercept[IOException](
      c.query("SELECT id FROM ord1 WHERE seg = 'A' ORDER BY bal LIMIT 3").toSeq)
    assert(e2.getMessage.contains("declared order"), e2.getMessage)
    // legal reverse-clustering read answers the exact window
    val got = c.query("SELECT id FROM ord1 WHERE seg = 'A' ORDER BY id DESC LIMIT 3")
      .map { case (cols, cells) =>
        graft.protocol.CqlWire.decodeValue(cells(0), cols(0)._2).asInstanceOf[Long]
      }.toSeq
    assert(got == rows.filter(_(0) == "A").map(_(1).asInstanceOf[Long])
      .sorted(Ordering[Long].reverse).take(3))
    c.close()
  }

  test("aborted connections retry the handshake+query; recovery is exact") {
    LoopbackCqlServer.register("wire3", schema, Seq("seg"), Seq("id"), rows)
    val c = client()
    LoopbackCqlServer.failNext.set(2)
    val got = c.query("SELECT id FROM wire3 WHERE seg = 'B'").toSeq
    assert(got.size == rows.count(_(0) == "B"))
    assert(c.retries.get() >= 1)
    c.close()
  }

  // ---- write statements over the wire -----------------------------------

  test("INSERT batches upsert on the primary key; DELETE obeys key rules") {
    val wschema = StructType(Seq(
      StructField("seg", StringType), StructField("id", LongType),
      StructField("name", StringType)))
    LoopbackCqlServer.register("w1", wschema, Seq("seg"), Seq("id"), Seq.empty)
    val c = client()
    c.query("BEGIN UNLOGGED BATCH " +
      "INSERT INTO w1 (seg, id, name) VALUES ('a', 1, 'one'); " +
      "INSERT INTO w1 (seg, id, name) VALUES ('a', 2, 'it''s; fine'); " +
      "INSERT INTO w1 (seg, id, name) VALUES ('b', 3, 'three'); " +
      "APPLY BATCH").size
    // upsert: re-insert key (a,2) with a new payload
    c.query("INSERT INTO w1 (seg, id, name) VALUES ('a', 2, 'two2')").size
    val all = c.query("SELECT seg, id, name FROM w1").toSeq
    assert(all.size == 3)
    // an INSERT missing part of the primary key is refused
    val e1 = intercept[IOException](
      c.query("INSERT INTO w1 (seg, name) VALUES ('a', 'x')").size)
    assert(e1.getMessage.contains("primary key"), e1.getMessage)
    // DELETE without the partition key is refused
    val e2 = intercept[IOException](c.query("DELETE FROM w1 WHERE id = 1").size)
    assert(e2.getMessage.contains("partition key"), e2.getMessage)
    // DELETE on a non-key column is refused
    val e3 = intercept[IOException](
      c.query("DELETE FROM w1 WHERE seg = 'a' AND name = 'one'").size)
    assert(e3.getMessage.contains("Non PRIMARY KEY"), e3.getMessage)
    c.query("DELETE FROM w1 WHERE seg = 'a' AND id = 2").size
    val after = c.query("SELECT id, name FROM w1").toSeq
    assert(after.size == 2)
    c.close()
  }

  test("DSv2 INSERT INTO streams BATCH statements; DELETE FROM refuses non-key") {
    val t = table("w2")
    LoopbackCqlServer.register("w2", schema, Seq("seg"), Seq("id"), Seq.empty)
    spark.range(0, 150)
      .selectExpr("CASE WHEN id % 2 = 0 THEN 'A' ELSE 'B' END AS seg", "id",
        "concat('n_', id) AS name", "id * 1.5 AS bal",
        "id % 2 = 0 AS flag", "CAST(null AS TIMESTAMP) AS ts")
      .writeTo(t).append()
    assert(spark.table(t).count() == 150)
    spark.sql(s"DELETE FROM $t WHERE seg = 'A' AND id < 50")
    assert(spark.table(t).count() == 150 - 25)
    // non-key DELETE refuses loudly, nothing is deleted
    intercept[Exception](spark.sql(s"DELETE FROM $t WHERE bal > 0.0"))
    assert(spark.table(t).count() == 125)
  }

  // ---- DSv2 through the socket ------------------------------------------

  test("key predicates push as CQL text; non-key residual polyfills exactly") {
    val t = table("dsv1")
    val df = spark.table(t)
      .filter(col("seg") === "A" && col("id") < 100L && col("bal") > 50.0)
      .select("id", "bal")
    val got = df.collect().map(_.getLong(0)).sorted
    val want = rows.filter(r => r(0) == "A" && r(1).asInstanceOf[Long] < 100L
      && r(3).asInstanceOf[Double] > 50.0).map(_(1).asInstanceOf[Long]).sorted
    assert(got.toSeq == want)
    val cql = LoopbackCqlServer.lastCql.get()
    assert(cql.contains("seg = 'A'") && cql.contains("id < 100"), cql)
    // the bal COLUMN rides the projection (the residual needs it), but
    // the bal PREDICATE must stay engine-side
    assert(!cql.toLowerCase.contains("bal >"),
      s"non-key residual predicate must not reach the server: $cql")
  }

  test("timestamps and booleans round-trip the native protocol through DSv2") {
    val t = table("dsv2")
    val r = spark.table(t).filter(col("seg") === "C" && col("id") === 2L)
      .select("ts", "flag").collect()
    assert(r.length == 1)
    assert(r(0).getTimestamp(0) == java.sql.Timestamp.valueOf("2024-01-03 00:00:00"))
    assert(r(0).getBoolean(1), "id 2 has flag = (2 % 2 == 0) = true")
  }

  test("LIMIT rides the CQL and caps pages") {
    val t = table("dsv3")
    assert(spark.table(t).filter(col("seg") === "A").limit(5).collect().length == 5)
    assert(LoopbackCqlServer.lastCql.get().contains("LIMIT 5"))
  }

  // ---- token-range fan-out ----------------------------------------------

  private def fanTable(name: String, fanout: Int): String = {
    LoopbackCqlServer.register(name, schema, Seq("seg"), Seq("id"), rows)
    val (host, port) = LoopbackCqlServer.ensureStarted()
    WireEndpoints.register(CqlEndpoint("cqltest", name, schema, Seq("seg"), Seq("id"),
      CqlEndpointSpec(host, port, name, WireClientConfig(pageSize = 64, retryBackoffMs = 5)),
      fanout = fanout))
    SourceRegistry.ensureCatalog(spark)
    s"${SourceRegistry.CatalogName}.cqltest.$name"
  }

  test("unrestricted scans fan out over token ranges, exactly-once") {
    val t = fanTable("tok1", 4)
    val df = spark.table(t)
    assert(df.rdd.getNumPartitions == 4, "4 token ranges => 4 scan tasks")
    val got = df.select("id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == rows.map(_(1).asInstanceOf[Long]).sorted,
      "token ranges tile the ring: every row exactly once")
    assert(LoopbackCqlServer.lastCql.get().contains("token(seg)"),
      "the shipped CQL carries the token-range form")
  }

  test("a key-restricted query stays ONE targeted read (no token mixing)") {
    val t = fanTable("tok2", 4)
    val df = spark.table(t).filter(col("seg") === "A")
    assert(df.rdd.getNumPartitions == 1,
      "CQL forbids mixing token() and pk relations; a bound key is a single-replica read")
    assert(df.count() == rows.count(_(0) == "A").toLong)
  }

  test("the ring bounds tile the Long space evenly") {
    val bs = CqlToken.bounds(4)
    assert(bs.size == 3)
    assert(bs == bs.sorted && bs.distinct == bs)
    // every token falls in exactly one range by construction (contiguous
    // half-open ranges); spot-check the partitioner is deterministic
    assert(CqlToken.of(Seq("A")) == CqlToken.of(Seq("A")))
    assert(CqlToken.of(Seq("A")) != CqlToken.of(Seq("B")))
  }

  test("server: token() must cover the partition key and cannot mix with pk EQ") {
    LoopbackCqlServer.register("tok3", schema, Seq("seg"), Seq("id"), rows)
    val c = client()
    // wrong argument column
    val e1 = intercept[IOException](c.query("SELECT id FROM tok3 WHERE token(id) > 0").size)
    assert(e1.getMessage.contains("partition key order"), e1.getMessage)
    // mixing token range with a pk relation
    val e2 = intercept[IOException](
      c.query("SELECT id FROM tok3 WHERE token(seg) > 0 AND seg = 'A'").size)
    assert(e2.getMessage.contains("token() relations"), e2.getMessage)
    // a legal token range answers a subset, and the three ranges partition
    val bs = CqlToken.bounds(3)
    val counts = Seq(
      c.query(s"SELECT id FROM tok3 WHERE token(seg) <= ${bs(0)}").size,
      c.query(s"SELECT id FROM tok3 WHERE token(seg) > ${bs(0)} AND token(seg) <= ${bs(1)}").size,
      c.query(s"SELECT id FROM tok3 WHERE token(seg) > ${bs(1)}").size)
    assert(counts.sum == rows.size, s"ranges partition the table: $counts")
    c.close()
  }

  test("server enforces the clustering-prefix rule (ranges only at the cut)") {
    // two clustering columns so an out-of-prefix restriction is expressible
    val s2 = StructType(Seq(
      StructField("seg", StringType), StructField("id", LongType),
      StructField("sub", LongType), StructField("bal", DoubleType)))
    val r2: Seq[Array[Any]] = (0L until 60L).map(i =>
      Array[Any]("A", i / 10, i % 10, i * 1.0))
    LoopbackCqlServer.register("pfx1", s2, Seq("seg"), Seq("id", "sub"), r2)
    val c = client()
    // skipping the first clustering column: refused by the SERVER (the
    // client-side split never generates this — direct statement)
    val e1 = intercept[IOException](
      c.query("SELECT sub FROM pfx1 WHERE seg = 'A' AND sub = 3").size)
    assert(e1.getMessage.contains("cannot be restricted"), e1.getMessage)
    // restricting past a range cut: refused
    val e2 = intercept[IOException](
      c.query("SELECT sub FROM pfx1 WHERE seg = 'A' AND id > 1 AND sub = 3").size)
    assert(e2.getMessage.contains("cannot be restricted"), e2.getMessage)
    // the legal shapes still answer
    assert(c.query("SELECT sub FROM pfx1 WHERE seg = 'A' AND id = 2 AND sub > 3").size == 6)
    assert(c.query("SELECT sub FROM pfx1 WHERE seg = 'A' AND id > 2").size == 30)
    c.close()
  }

  test("typeId refuses nested collections instead of emitting corrupt ids") {
    // scalar collections pack fine
    assert(CqlWire.T.listOf(CqlGen.typeId(LongType)) ==
      CqlGen.typeId(ArrayType(LongType)))
    // nested collections would overflow the packed 16-bit/8-bit element
    // fields — they must fail loudly, not silently corrupt wire metadata
    val e1 = intercept[IllegalArgumentException](
      CqlGen.typeId(ArrayType(ArrayType(LongType))))
    assert(e1.getMessage.contains("nested CQL collections unsupported"))
    val e2 = intercept[IllegalArgumentException](
      CqlGen.typeId(MapType(StringType, ArrayType(LongType))))
    assert(e2.getMessage.contains("nested CQL collections unsupported"))
    val e3 = intercept[IllegalArgumentException](
      CqlGen.typeId(ArrayType(MapType(StringType, LongType))))
    assert(e3.getMessage.contains("nested CQL collections unsupported"))
  }

  // ---- aggregation pushdown (GROUP BY under CASSANDRA-10707 rules) --------

  test("grouped aggregates push as CQL GROUP BY with token fan-out: bare plan, exact union") {
    LoopbackCqlServer.register("agg1", schema, Seq("seg"), Seq("id"), rows)
    val (host, port) = LoopbackCqlServer.ensureStarted()
    WireEndpoints.register(CqlEndpoint("cqltest", "agg1", schema, Seq("seg"), Seq("id"),
      CqlEndpointSpec(host, port, "agg1", WireClientConfig(pageSize = 64, retryBackoffMs = 5)),
      fanout = 4))
    SourceRegistry.ensureCatalog(spark)
    val df = spark.table(s"${SourceRegistry.CatalogName}.cqltest.agg1")
      .groupBy("seg")
      .agg(count(lit(1)).as("n"), min("id").as("min_id"), max("bal").as("max_bal"),
        sum("id").as("sum_id"), avg("id").as("avg_id"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"complete pushdown must leave NO engine aggregate:\n$plan")
    assert(df.rdd.getNumPartitions == 4,
      "full-partition-key groups live in ONE token range each — fan-out is sound")
    val got = df.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4), r.getDouble(5)))).toMap
    rows.groupBy(_(0).asInstanceOf[String]).foreach { case (seg, rs) =>
      val ids = rs.map(_(1).asInstanceOf[Long])
      assert(got(seg) == ((rs.size.toLong, ids.min, rs.map(_(3).asInstanceOf[Double]).max,
        ids.sum, ids.sum.toDouble / ids.size)), s"group $seg")
    }
    val cql = LoopbackCqlServer.lastCql.get()
    assert(cql.contains("GROUP BY seg"), cql)
    assert(cql.contains("sum(cast(id as bigint))") &&
      cql.contains("avg(cast(id as double))"),
      s"sums/avgs must cast — CQL's native ones wrap/truncate: $cql")
    assert(cql.contains("count(id)"), s"companion counts must ship: $cql")
    assert(cql.contains("token("), s"grouped aggs keep the token fan-out: $cql")
  }

  test("a GLOBAL aggregate collapses fan-out to one task (per-range rows would be partials)") {
    LoopbackCqlServer.register("agg2", schema, Seq("seg"), Seq("id"), rows)
    val (host, port) = LoopbackCqlServer.ensureStarted()
    WireEndpoints.register(CqlEndpoint("cqltest", "agg2", schema, Seq("seg"), Seq("id"),
      CqlEndpointSpec(host, port, "agg2", WireClientConfig(pageSize = 64, retryBackoffMs = 5)),
      fanout = 4))
    SourceRegistry.ensureCatalog(spark)
    val df = spark.table(s"${SourceRegistry.CatalogName}.cqltest.agg2")
      .agg(count(lit(1)).as("n"), sum("id").as("s"))
    assert(df.rdd.getNumPartitions == 1)
    val r = df.collect().head
    assert(r.getLong(0) == 400L && r.getLong(1) == (0L until 400L).sum)
  }

  test("SUM/AVG over an all-null group is NULL; COUNT(col) counts non-null only") {
    val s2 = StructType(Seq(StructField("seg", StringType),
      StructField("id", LongType), StructField("v", LongType)))
    val rs: Seq[Array[Any]] = Seq(
      Array[Any]("A", 1L, 10L), Array[Any]("A", 2L, null), Array[Any]("A", 3L, 5L),
      Array[Any]("B", 4L, null), Array[Any]("B", 5L, null))
    LoopbackCqlServer.register("agg3", s2, Seq("seg"), Seq("id"), rs)
    val (host, port) = LoopbackCqlServer.ensureStarted()
    WireEndpoints.register(CqlEndpoint("cqltest", "agg3", s2, Seq("seg"), Seq("id"),
      CqlEndpointSpec(host, port, "agg3", WireClientConfig(pageSize = 256, retryBackoffMs = 5))))
    SourceRegistry.ensureCatalog(spark)
    val df = spark.table(s"${SourceRegistry.CatalogName}.cqltest.agg3")
      .groupBy("seg")
      .agg(sum("v").as("sum_v"), count("v").as("n_v"), avg("v").as("avg_v"))
    assert(!df.queryExecution.executedPlan.toString.contains("HashAggregate"))
    val got = df.collect().map(r => r.getString(0) ->
      ((if (r.isNullAt(1)) null else r.getLong(1)): Any, r.getLong(2),
        (if (r.isNullAt(3)) null else r.getDouble(3)): Any)).toMap
    assert(got("A") == ((15L, 2L, 7.5)), s"got ${got("A")}")
    assert(got("B") == ((null, 0L, null)),
      s"CQL's 0-for-empty must read back as SQL NULL — got ${got("B")}")
  }

  test("clustering-prefix groups push; non-key and COUNT(DISTINCT) decline") {
    val t = table("agg4")
    // (seg, id) = full primary key: pushes
    val fine = spark.table(t).groupBy("seg", "id").agg(count(lit(1)).as("n"))
    assert(!fine.queryExecution.executedPlan.toString.contains("HashAggregate"))
    assert(fine.collect().length == 400)
    // name is not a key column: Cassandra refuses, Spark polyfills
    val poly = spark.table(t).groupBy("name").agg(count(lit(1)).as("n"))
    assert(poly.queryExecution.executedPlan.toString.contains("Aggregate"),
      "non-key grouping must polyfill engine-side")
    assert(poly.collect().length == 400)
    // COUNT(DISTINCT) has no CQL spelling
    val cd = spark.table(t).agg(countDistinct("seg").as("n"))
    assert(cd.queryExecution.executedPlan.toString.contains("Aggregate"))
    assert(cd.collect().head.getLong(0) == 3L)
  }

  test("the server enforces the real GROUP BY rules") {
    LoopbackCqlServer.register("agg5", schema, Seq("seg"), Seq("id"), rows)
    val c = client()
    // non-primary-key grouping
    val e1 = intercept[java.io.IOException](
      c.query("SELECT name, count(*) FROM agg5 GROUP BY name").size)
    assert(e1.getMessage.contains("only supported on the columns of the PRIMARY KEY"),
      e1.getMessage)
    // key columns out of order (clustering before partition)
    val e2 = intercept[java.io.IOException](
      c.query("SELECT count(*) FROM agg5 GROUP BY id").size)
    assert(e2.getMessage.contains("PRIMARY KEY") ||
      e2.getMessage.contains("partition key"), e2.getMessage)
    // type-preserving native avg: avg(bigint) TRUNCATES — the sharp edge
    // the connector's cast avoids (ids 0..3 in seg A are 0,3 -> avg 1)
    val rows2 = c.query("SELECT seg, avg(id) FROM agg5 GROUP BY seg").toSeq
    val decoded = rows2.map { case (cols, cells) =>
      (CqlWire.decodeValue(cells(0), cols(0)._2).asInstanceOf[String],
        CqlWire.decodeValue(cells(1), cols(1)._2).asInstanceOf[Long])
    }.toMap
    val want = rows.groupBy(_(0).asInstanceOf[String]).map { case (s, rs) =>
      val ids = rs.map(_(1).asInstanceOf[Long])
      s -> ids.sum / ids.size // integer division: the truncation is real
    }
    assert(decoded == want)
    c.close()
  }

  // ---- runtime semi-join reduction (dynamic filtering) ---------------------

  test("a static partition-key IN pushes as CQL IN: same rows as Spark's own filter") {
    val t = table("staticin")
    val all = spark.createDataFrame(
      java.util.Arrays.asList(spark.table(t).collect(): _*), schema)
    for (cond <- Seq(col("seg").isin("A", "C"),
                     col("seg").isin("B", "Z") && col("id") < 200L,
                     col("seg").isin("C", "A") && col("id") >= 10L && col("bal") > 100.0)) {
      val pushed = spark.table(t).filter(cond).select("seg", "id", "bal")
      val got = pushed.collect().map(_.toString).sorted.toSeq
      val cql = LoopbackCqlServer.lastCql.get()
      val want = all.filter(cond).select("seg", "id", "bal").collect().map(_.toString).sorted.toSeq
      assert(got == want, s"$cond")
      assert(got.nonEmpty, s"$cond")
      assert(cql.contains("seg IN ('"), s"the static IN must reach the wire: $cql")
      assert(!cql.contains("token("), s"an IN-pinned read must not token-fan-out: $cql")
    }
  }

  test("a broadcast dim join ships the build-side keys as partition-key IN") {
    val t = table("dynq1")
    // selective dim built over range() so the Filter survives optimization
    val dim = spark.range(0, 3)
      .filter(col("id") === 0L)
      .select(when(col("id") === 0L, "A").otherwise("Z").as("dseg"))
    val df = spark.table(t)
      .join(broadcast(dim), col("seg") === col("dseg"))
      .select("seg", "id")
    val got = df.collect()
    assert(got.length == rows.count(_(0) == "A"), s"${got.length}")
    assert(got.forall(_.getString(0) == "A"))
    val cql = LoopbackCqlServer.lastCql.get()
    assert(cql.contains("seg IN ('A')"),
      s"the build-side keys must reach the wire as IN: $cql")
    assert(!cql.contains("token("),
      s"an IN-pinned read must not token-fan-out: $cql")
  }

  test("a pushed CQL GROUP BY prunes whole groups via partition-key IN") {
    val t = table("dynq2")
    val dim = spark.range(0, 3)
      .filter(col("id") === 1L)
      .select(when(col("id") === 1L, "B").otherwise("Z").as("dseg"))
    val agg = spark.table(t).groupBy("seg").agg(count(lit(1)).as("n"))
    val df = agg.join(broadcast(dim), col("seg") === col("dseg"))
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("B" -> rows.count(_(0) == "B").toLong), s"$got")
    val cql = LoopbackCqlServer.lastCql.get()
    assert(cql.contains("GROUP BY"), cql)
    assert(cql.contains("seg IN ('B')"),
      s"group-key pruning must restrict the partitions read: $cql")
  }

  test("a static key restriction declines the runtime IN (no double restriction)") {
    val t = table("dynq3")
    val dim = spark.range(0, 2)
      .filter(col("id") === 0L)
      .select(when(col("id") === 0L, "A").otherwise("Z").as("dseg"))
    val df = spark.table(t)
      .filter(col("seg") === "A") // statically pins the partition key
      .join(broadcast(dim), col("seg") === col("dseg"))
      .select("id")
    assert(df.collect().length == rows.count(_(0) == "A"))
    val cql = LoopbackCqlServer.lastCql.get()
    assert(!cql.contains(" IN ("),
      s"CQL refuses a doubly-restricted key; the scan must decline: $cql")
  }
}
