package graft

import java.io.IOException

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.protocol.Bson
import graft.protocol.Bson.{BDoc, BRegex}
import graft.sources._

/** Mongo-protocol connector: BSON/OP_MSG wire round-trips, the
  * sql_to_mgo.go filter-document translation surface (compile → server
  * eval equivalence under SQL 3VL), cursor paging via getMore, client
  * reconnect/retry under injected connection aborts, and DSv2 filter/
  * projection/sort/limit pushdown over a live socket. */
class MongoSourceSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = TestSpark.session

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("seg", StringType),
    StructField("name", StringType), StructField("bal", DoubleType)))
  private val rows: Seq[Array[Any]] = (0L until 400L).map { i =>
    Array[Any](i, if (i % 3 == 0) "A" else if (i % 3 == 1) "B" else null,
      s"name_${i}_x", i * 1.5)
  }

  private def client(cfg: WireClientConfig = WireClientConfig(pageSize = 256, retryBackoffMs = 5)) = {
    val (host, port) = LoopbackMongoServer.ensureStarted()
    new MongoClientLite(host, port, cfg)
  }

  private def table(name: String): String = {
    LoopbackMongoServer.register(name, schema, rows)
    val (host, port) = LoopbackMongoServer.ensureStarted()
    LoopbackMongoServer.failNext.set(0)
    LoopbackMongoServer.delayMs.set(0)
    WireEndpoints.register(MongoEndpoint("mongotest", name, schema,
      MongoEndpointSpec(host, port, LoopbackMongoServer.Db, name,
        WireClientConfig(pageSize = 64, retryBackoffMs = 5))))
    if (SourceRegistry.get("mongotest").isEmpty)
      SourceRegistry.register(SourceDef("mongotest",
        new java.io.File(sys.props("user.dir"), "target/graft-test/mongotest").getPath,
        "json", "mongo"))
    SourceRegistry.ensureCatalog(spark)
    s"${SourceRegistry.CatalogName}.mongotest.$name"
  }

  /** Like [[table]] but with range-partition metadata on `id` and two
    * null-key rows appended — the wire-scan fan-out fixture. */
  private def splitTable(name: String, splitPoints: Seq[Any]): (String, Seq[Array[Any]]) = {
    val withNulls = rows ++ Seq(
      Array[Any](null, "Z", "null_key_1", -1.0),
      Array[Any](null, "Z", "null_key_2", -2.0))
    LoopbackMongoServer.register(name, schema, withNulls)
    val (host, port) = LoopbackMongoServer.ensureStarted()
    WireEndpoints.register(MongoEndpoint("mongotest", name, schema,
      MongoEndpointSpec(host, port, LoopbackMongoServer.Db, name,
        WireClientConfig(pageSize = 64, retryBackoffMs = 5)),
      splits = Some(WireSplits("id", splitPoints))))
    if (SourceRegistry.get("mongotest").isEmpty)
      SourceRegistry.register(SourceDef("mongotest",
        new java.io.File(sys.props("user.dir"), "target/graft-test/mongotest").getPath,
        "json", "mongo"))
    SourceRegistry.ensureCatalog(spark)
    (s"${SourceRegistry.CatalogName}.mongotest.$name", withNulls)
  }

  test("zlib wire compression: negotiated in hello, both directions ride OP_COMPRESSED") {
    val name = "comp1"
    LoopbackMongoServer.register(name, schema, rows)
    val c = client() // compress = true by default
    val comp0 = LoopbackMongoServer.compressedServed.get()
    val got = c.find(LoopbackMongoServer.Db, name, graft.protocol.Bson.BDoc.empty,
      batchSize = 64).toSeq
    assert(got.size == rows.size, "compressed reads must be lossless")
    assert(LoopbackMongoServer.compressedServed.get() > comp0,
      "post-hello commands must actually arrive OP_COMPRESSED")
    c.close()
    // a client that does not offer compression stays plain end-to-end
    val plain = client(WireClientConfig(pageSize = 256, retryBackoffMs = 5, compress = false))
    val comp1 = LoopbackMongoServer.compressedServed.get()
    assert(plain.find(LoopbackMongoServer.Db, name,
      graft.protocol.Bson.BDoc.empty).size == rows.size)
    assert(LoopbackMongoServer.compressedServed.get() == comp1,
      "an un-negotiated connection must never send compressed frames")
    plain.close()
  }

  test("nested sub-documents: struct decode, sampled discovery, nested-ref filters decline") {
    val nested = StructType(Seq(
      StructField("id", LongType),
      StructField("profile", StructType(Seq(
        StructField("name", StringType), StructField("bal", DoubleType)))),
      StructField("tags", ArrayType(StringType))))
    val profileSchema = nested.fields(1).dataType.asInstanceOf[StructType]
    val nrows: Seq[Array[Any]] = (0L until 60L).map { i =>
      Array[Any](i,
        new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
          Array[Any](s"n$i", i * 1.5), profileSchema),
        Seq(s"t${i % 3}", "all"))
    }
    LoopbackMongoServer.register("nested_docs", nested, nrows)
    val (host, port) = LoopbackMongoServer.ensureStarted()
    val spec = MongoEndpointSpec(host, port, LoopbackMongoServer.Db,
      "nested_docs", WireClientConfig(pageSize = 16, retryBackoffMs = 5))
    // discovery recurses BDoc values into struct columns, arrays widen
    val disc = MongoDiscovery.inferSchema(spec)
    assert(disc("profile").dataType.asInstanceOf[StructType]("bal").dataType == DoubleType)
    assert(disc("tags").dataType == ArrayType(StringType, containsNull = true))
    WireEndpoints.register(MongoEndpoint("mongotest", "nested_docs", disc, spec))
    if (SourceRegistry.get("mongotest").isEmpty)
      SourceRegistry.register(SourceDef("mongotest",
        new java.io.File(sys.props("user.dir"), "target/graft-test/mongotest").getPath,
        "json", "mongo"))
    SourceRegistry.ensureCatalog(spark)
    val t = s"${SourceRegistry.CatalogName}.mongotest.nested_docs"
    // a top-level filter pushes; the nested reference declines (the
    // filter document must not mention the dotted path) and polyfills
    val df = spark.table(t)
      .filter(col("id") < 30 && col("profile.name") === "n7")
      .select(col("id"), col("profile.bal").as("bal"), col("tags"))
    val got = df.collect()
    assert(got.length == 1 && got(0).getLong(0) == 7L && got(0).getDouble(1) == 10.5)
    assert(got(0).getSeq[String](2) == Seq("t1", "all"))
    // the projection legitimately names the top-level "profile" field;
    // the dotted path must never appear in the shipped filter document
    assert(!LoopbackMongoServer.lastFind.get().contains("profile.name"),
      "nested reference must not ride the wire filter")
    assert(LoopbackMongoServer.lastFind.get().contains("$lt"),
      "top-level predicate still pushes")
  }

  // ---- BSON codec -------------------------------------------------------

  test("BSON documents round-trip every carried type") {
    val doc = BDoc(Seq(
      "d" -> (3.25: java.lang.Double),
      "s" -> "h\u00e9llo\u0000-free",
      "sub" -> BDoc(Seq("k" -> (7: java.lang.Integer))),
      "arr" -> Seq[Any]("a", 2L: java.lang.Long, null),
      "b" -> (true: java.lang.Boolean),
      "t" -> java.sql.Timestamp.valueOf("1995-03-15 00:00:00"),
      "n" -> null,
      "rx" -> BRegex("^ab.*c$", ""),
      "i32" -> (42: java.lang.Integer),
      "i64" -> (1234567890123L: java.lang.Long)))
    assert(Bson.decode(Bson.encode(doc)) == doc)
  }

  test("sub-millisecond timestamps refuse to encode (no silent truncation)") {
    val t = java.sql.Timestamp.valueOf("1995-03-15 00:00:00")
    t.setNanos(123456)
    intercept[IllegalArgumentException](
      Bson.encode(BDoc(Seq("t" -> t))))
  }

  // ---- filter translation: compile -> server eval == SQL 3VL ------------

  test("every accepted filter matches SQL 3VL semantics on null-bearing rows") {
    val filters: Seq[Filter] = Seq(
      EqualTo("seg", "A"),
      EqualNullSafe("seg", "A"),
      In("id", Array(3L, 5L, 999L)),
      In("seg", Array("A", null)), // null element drops: UNKNOWN collapses
      GreaterThan("bal", 300.0),
      GreaterThanOrEqual("id", 395L),
      LessThan("id", 5L),
      LessThanOrEqual("id", 10L),
      IsNull("seg"),
      IsNotNull("seg"),
      StringStartsWith("name", "name_1"),
      StringEndsWith("name", "0_x"),
      StringContains("name", "_39_"),
      // NOT under 3VL: none of these may match null-seg rows
      Not(EqualTo("seg", "A")),
      Not(GreaterThan("id", 100L)),
      Not(Or(EqualTo("seg", "A"), EqualTo("seg", "B"))),
      And(EqualTo("seg", "B"), GreaterThan("id", 100L)),
      Or(EqualTo("seg", "A"), LessThan("id", 5L)),
      Or(And(EqualTo("seg", "A"), LessThan("id", 50L)),
        And(EqualTo("seg", "B"), GreaterThan("id", 350L))))
    filters.foreach { f =>
      val q = MongoDsl.compile(f).getOrElse(fail(s"$f did not compile"))
      val got = rows.filter(r => MongoDsl.eval(q, r, schema)).map(_(0))
      // oracle: the engine's own SQL 3VL evaluator (WHERE collapse)
      val want = rows.filter(r => FilterEval.eval(f, schema, r)).map(_(0))
      assert(got == want, s"filter $f compiled to ${q.render}")
    }
  }

  test("inexpressible filters decline (they become Spark residuals)") {
    assert(MongoDsl.compile(EqualTo("seg", null)).isEmpty)
    assert(MongoDsl.compile(In("id", Array[Any](null))).isEmpty)
    assert(MongoDsl.compile(EqualTo("bal", new java.math.BigDecimal("1.5"))).isEmpty,
      "decimal is outside the carried BSON subset")
  }

  test("NOT over null-tolerant children declines (the guard scheme would lie)") {
    // NOT(a <=> 5) must match null rows; $nor + $ne-null guards exclude
    // them — so these decline instead of compiling wrong
    assert(MongoDsl.compile(Not(EqualNullSafe("seg", "A"))).isEmpty)
    assert(MongoDsl.compile(Not(IsNull("seg"))).isEmpty)
    assert(MongoDsl.compile(Not(IsNotNull("seg"))).isEmpty)
    assert(MongoDsl.compile(Not(In("seg", Array[Any]("A", null)))).isEmpty,
      "a NULL IN-element's UNKNOWN collapse is only valid in positive polarity")
    assert(MongoDsl.compile(Not(Or(EqualNullSafe("seg", "A"),
      EqualTo("seg", "B")))).isEmpty)
    // plain NOT over 3VL comparisons still compiles
    assert(MongoDsl.compile(Not(In("seg", Array[Any]("A", "B")))).isDefined)
  }

  // ---- wire round-trips -------------------------------------------------

  test("find pages through getMore across the socket") {
    LoopbackMongoServer.register("wire1", schema, rows)
    LoopbackMongoServer.failNext.set(0)
    val c = client()
    val served0 = LoopbackMongoServer.served.get()
    val got = c.find(LoopbackMongoServer.Db, "wire1", BDoc.empty, batchSize = 64).toSeq
    assert(got.size == 400)
    assert(got.head.get("id").contains(0L: java.lang.Long))
    assert(LoopbackMongoServer.served.get() - served0 >= 7,
      "400 docs at batchSize 64 must take one find + several getMore commands")
    c.close()
  }

  test("filter, projection, sort and limit all execute server-side") {
    LoopbackMongoServer.register("wire2", schema, rows)
    val c = client()
    val got = c.find(LoopbackMongoServer.Db, "wire2",
      BDoc(Seq("seg" -> "A")),
      projection = Some(BDoc(Seq("id" -> (1: Any), "bal" -> (1: Any)))),
      sort = Some(BDoc(Seq("id" -> (-1: Any)))),
      limit = 5).toSeq
    assert(got.size == 5)
    assert(got.forall(_.fields.map(_._1) == Seq("id", "bal")), "projection applies")
    val ids = got.map(_.get("id").get.asInstanceOf[java.lang.Long].longValue())
    assert(ids == Seq(399L, 396L, 393L, 390L, 387L), "sort desc + limit")
    c.close()
  }

  test("unknown collections surface the server error") {
    val c = client()
    val e = intercept[IOException](
      c.find(LoopbackMongoServer.Db, "nope", BDoc.empty).toSeq)
    assert(e.getMessage.contains("ns not found"))
    c.close()
  }

  test("aborted connections retry and recover; persistent failure surfaces") {
    LoopbackMongoServer.register("wire3", schema, rows)
    val c = client()
    LoopbackMongoServer.failNext.set(2)
    val got = c.find(LoopbackMongoServer.Db, "wire3", BDoc(Seq("seg" -> "B"))).toSeq
    assert(got.size == rows.count(_(1) == "B"))
    assert(c.retries.get() >= 2, "both aborts must be retried")
    LoopbackMongoServer.failNext.set(50)
    intercept[IOException](
      c.find(LoopbackMongoServer.Db, "wire3", BDoc.empty).toSeq)
    LoopbackMongoServer.failNext.set(0)
    c.close()
  }

  // ---- partitioned scans (distributed fan-out) --------------------------

  test("split metadata fans the scan into one task per key range, exactly-once") {
    val (t, all) = splitTable("fan1", Seq(100L, 200L, 300L))
    val ep = WireEndpoints.get("mongotest", "fan1").collect { case e: MongoEndpoint => e }.get
    val parts = new MongoScanBuilder(ep).build().toBatch.planInputPartitions()
    assert(parts.length == 4, "3 split points => 4 range partitions")
    val df = spark.table(t)
    assert(df.rdd.getNumPartitions == 4)
    // union of partitions == the collection: nothing lost, nothing doubled
    // (the two null-key rows must ride partition 0 via the $or null carry)
    assert(df.count() == all.size.toLong)
    val names = df.select("name").collect().map(_.getString(0)).sorted
    assert(names.toSeq == all.map(_(2).asInstanceOf[String]).sorted)
    // each range really is served separately: per-partition row counts
    val perPart = df.rdd.mapPartitions(it => Iterator.single(it.size)).collect()
    assert(perPart.count(_ > 0) == 4, s"all ranges non-empty: ${perPart.toSeq}")
    assert(perPart.sum == all.size)
  }

  test("splitVector answers key-ordered distinct non-null points sized by chunk") {
    val name = "sv1"
    LoopbackMongoServer.register(name, schema,
      rows ++ Seq(Array[Any](null, "Z", "null_key", -1.0)))
    val c = client()
    val pts = c.splitVector(LoopbackMongoServer.Db, name, "id", 2048)
    assert(pts.nonEmpty, "tiny chunks must yield interior points")
    assert(pts.forall(_ != null), "null keys never become split points")
    val ids = pts.map(_.asInstanceOf[Long])
    assert(ids == ids.sorted && ids.distinct == ids, ids.toString)
    // a chunk size above the whole collection: no interior points
    assert(c.splitVector(LoopbackMongoServer.Db, name, "id", 1L << 30).isEmpty)
    // coarser chunks -> fewer points (size-responsive, not row-count)
    assert(c.splitVector(LoopbackMongoServer.Db, name, "id", 8192).size < pts.size)
    // splitting over an unknown key: the real server's loud refusal
    val e = intercept[java.io.IOException](
      c.splitVector(LoopbackMongoServer.Db, name, "nope", 2048))
    assert(e.getMessage.contains("splitting key"), e.getMessage)
    c.close()
  }

  test("CREATE SOURCE mongo with split_key fans out discovered scans exactly-once") {
    import graft.engine.GraftEngine
    val name = "sv_disc"
    val withNulls = rows ++ Seq(
      Array[Any](null, "Z", "null_key_1", -1.0),
      Array[Any](null, "Z", "null_key_2", -2.0))
    LoopbackMongoServer.register(name, schema, withNulls)
    val (host, port) = LoopbackMongoServer.ensureStarted()
    val eng = new GraftEngine(spark)
    eng.sql(s"""CREATE SOURCE mg_split WITH {"protocol": "mongo",
      "host": "$host", "port": "$port", "tables_to_load": "$name",
      "split_key": "id", "split_chunk_bytes": "4096"}""")
    val ep = WireEndpoints.get("mg_split", name).collect { case e: MongoEndpoint => e }.get
    assert(ep.splits.isDefined && ep.splits.get.points.nonEmpty,
      "discovery populates split metadata off the server")
    assert(ep.splits.get.key == "id")
    val parts = new MongoScanBuilder(ep).build().toBatch.planInputPartitions()
    assert(parts.length >= 2, s"multi-partition plan, got ${parts.length}")
    val t = s"${SourceRegistry.CatalogName}.mg_split.$name"
    val df = spark.table(t)
    assert(df.rdd.getNumPartitions == parts.length)
    // exactly-once tiling incl. the null-key rows riding partition 0
    assert(df.count() == withNulls.size.toLong)
    assert(df.filter(col("id").isNull).count() == 2L)
    val ids = df.filter(col("id").isNotNull)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq ==
      withNulls.filter(_(0) != null).map(_(0).asInstanceOf[Long]).sorted)
    // a declared fanout right-sizes the default partition count
    eng.sql("DROP SOURCE mg_split")
    eng.sql(s"""CREATE SOURCE mg_split WITH {"protocol": "mongo",
      "host": "$host", "port": "$port", "tables_to_load": "$name",
      "split_key": "id", "split_chunk_bytes": "4096", "fanout": "3"}""")
    val ep2 = WireEndpoints.get("mg_split", name).collect { case e: MongoEndpoint => e }.get
    assert(ep2.splits.get.points.size == 2, "fanout=3 -> 2 interior points")
    assert(new MongoScanBuilder(ep2).build().toBatch.planInputPartitions().length == 3)
    eng.sql("DROP SOURCE mg_split")
  }

  test("pushed filters AND into every partition's range filter") {
    val (t, all) = splitTable("fan2", Seq(100L, 200L, 300L))
    val got = spark.table(t).filter(col("seg") === "A" && col("bal") < 300.0)
      .select("id").collect().map(_.getLong(0)).sorted
    val want = all.filter(r => r(1) == "A" &&
        r(3).asInstanceOf[Double] < 300.0 && r(0) != null)
      .map(_(0).asInstanceOf[Long]).sorted
    assert(got.toSeq == want.toSeq)
  }

  test("TIMESTAMP_NTZ columns round-trip the BSON wire (Spark 4 LocalDateTime)") {
    // Spark 4 collects TIMESTAMP_NTZ as java.time.LocalDateTime — the
    // fixture seeds those raw, the server normalizes them to BSON
    // datetimes, and the scan coerces back per the declared schema
    // (this is the exact shape that crashed the bench warmup's
    // SELECT * over orders_mongo before the fix)
    val ntzSchema = StructType(Seq(
      StructField("id", LongType), StructField("d", TimestampNTZType)))
    def ldt(day: Int) = java.time.LocalDateTime.of(2024, 1, day, 0, 0, 0)
    val ntzRows: Seq[Array[Any]] = (1 to 28).map(i => Array[Any](i.toLong, ldt(i)))
    LoopbackMongoServer.register("ntz1", ntzSchema, ntzRows)
    val (host, port) = LoopbackMongoServer.ensureStarted()
    WireEndpoints.register(MongoEndpoint("mongotest", "ntz1", ntzSchema,
      MongoEndpointSpec(host, port, LoopbackMongoServer.Db, "ntz1",
        WireClientConfig(pageSize = 64, retryBackoffMs = 5))))
    SourceRegistry.ensureCatalog(spark)
    val t = s"${SourceRegistry.CatalogName}.mongotest.ntz1"
    // full-row read (the warmup shape): values come back as the same
    // wall-clock LocalDateTime
    val all = spark.table(t).collect()
    assert(all.length == 28)
    assert(all.map(_.getAs[java.time.LocalDateTime]("d")).toSet ==
      (1 to 28).map(ldt).toSet)
    // and an NTZ filter pushes through the BSON encode path: the row
    // read ships it in the find, the count in the pipeline's $match
    // (count() rides the aggregate pushdown)
    val feb = spark.table(t).filter(col("d") >= ldt(15))
    assert(feb.select("id").collect().length == 14)
    assert(LoopbackMongoServer.lastFind.get().contains("$gte"),
      "the NTZ predicate must ride the wire, not polyfill")
    assert(feb.count() == 14)
    assert(LoopbackMongoServer.lastAggregate.get().contains("$gte"),
      "a counted NTZ predicate must ride the pipeline's $match")
  }

  test("a pushed predicate pinning the split key collapses to ONE request") {
    val (t, all) = splitTable("fanpin", Seq(100L, 200L, 300L))
    val pin = spark.table(t).filter(col("id") === 150L)
    assert(pin.rdd.getNumPartitions == 1,
      "a point lookup must not fan out into provably-empty range shards")
    assert(pin.count() == all.count(_(0) == 150L).toLong)
    val inq = spark.table(t).filter(col("id").isin(50L, 250L))
    assert(inq.rdd.getNumPartitions == 1)
    assert(inq.count() == all.count(r => r(0) == 50L || r(0) == 250L).toLong)
  }

  test("the node_ct session conf overrides the metadata partition count") {
    val (_, _) = splitTable("fan3", Seq(100L, 200L, 300L))
    val ep = WireEndpoints.get("mongotest", "fan3").collect { case e: MongoEndpoint => e }.get
    spark.conf.set(WireFanout.ConfKey, "2")
    try {
      val parts = new MongoScanBuilder(ep).build().toBatch.planInputPartitions()
      assert(parts.length == 2, "node_ct=2 coalesces the ranges to 2")
    } finally spark.conf.unset(WireFanout.ConfKey)
    // and 1 collapses to the single-partition plan
    spark.conf.set(WireFanout.ConfKey, "1")
    try assert(new MongoScanBuilder(ep).build().toBatch.planInputPartitions().length == 1)
    finally spark.conf.unset(WireFanout.ConfKey)
  }

  // ---- write commands over the wire -------------------------------------

  test("insert/update/delete commands mutate the collection server-side") {
    LoopbackMongoServer.register("wr1", schema, Seq.empty)
    val c = client()
    assert(c.insert(LoopbackMongoServer.Db, "wr1", Seq(
      BDoc(Seq("id" -> (1L: java.lang.Long), "seg" -> "A",
        "name" -> "one", "bal" -> (1.0: java.lang.Double))),
      BDoc(Seq("id" -> (2L: java.lang.Long), "seg" -> "B",
        "name" -> "two", "bal" -> (2.0: java.lang.Double))))) == 2)
    assert(c.update(LoopbackMongoServer.Db, "wr1",
      BDoc(Seq("seg" -> "A")), BDoc(Seq("bal" -> (9.5: java.lang.Double))),
      multi = true) == 1)
    val after = c.find(LoopbackMongoServer.Db, "wr1", BDoc.empty).toSeq
    assert(after.size == 2)
    assert(after.find(_.get("id").contains(1L: java.lang.Long))
      .get.get("bal").contains(9.5: java.lang.Double))
    assert(c.delete(LoopbackMongoServer.Db, "wr1", BDoc(Seq("seg" -> "B"))) == 1)
    assert(c.find(LoopbackMongoServer.Db, "wr1", BDoc.empty).size == 1)
    c.close()
  }

  test("INSERT INTO through DSv2 streams task batches as insert commands") {
    val t = table("wr2")
    LoopbackMongoServer.register("wr2", schema, Seq.empty)
    spark.range(0, 500)
      .selectExpr("id", "CAST(null AS STRING) AS seg",
        "concat('n_', id) AS name", "id * 2.0 AS bal")
      .writeTo(t).append()
    assert(spark.table(t).count() == 500)
    // int32/int64 interchange: the server coerced wire values by schema
    assert(spark.table(t).filter(col("id") === 499L)
      .collect()(0).getDouble(3) == 998.0)
  }

  test("DELETE refuses predicates outside the wire filter surface") {
    val t = table("wr3")
    LoopbackMongoServer.register("wr3", schema, rows)
    spark.sql(s"DELETE FROM $t WHERE seg = 'A'")
    assert(spark.table(t).filter(col("seg") === "A").count() == 0)
    assert(spark.table(t).count() == rows.count(_(1) != "A"))
    // modulo has no filter-document form: the table REFUSES (no silent
    // wrong-set delete), and Spark surfaces the failure
    intercept[Exception](spark.sql(s"DELETE FROM $t WHERE id % 2 = 0"))
  }

  test("unconditional DELETE FROM compiles (AlwaysTrue => empty filter doc)") {
    // Spark turns the absent WHERE into AlwaysTrue — the DSL must accept
    // it, or a plain `DELETE FROM t` fails analysis instead of clearing
    assert(MongoDsl.compile(org.apache.spark.sql.sources.AlwaysTrue())
      .contains(BDoc.empty))
    val t = table("wr5")
    LoopbackMongoServer.register("wr5", schema, rows)
    assert(spark.table(t).count() == rows.size)
    spark.sql(s"DELETE FROM $t")
    assert(spark.table(t).count() == 0)
    // AlwaysFalse compiles to a match-nothing document, not a full wipe
    val nothing = MongoDsl.compile(org.apache.spark.sql.sources.AlwaysFalse()).get
    LoopbackMongoServer.register("wr5b", schema, rows)
    val c = client()
    assert(c.delete(LoopbackMongoServer.Db, "wr5b", nothing) == 0)
    assert(c.find(LoopbackMongoServer.Db, "wr5b", BDoc.empty).size == rows.size)
    c.close()
  }

  test("engine UPDATE over the wire: exact WHERE or abort; SET casts to column type") {
    val t = table("wr4")
    LoopbackMongoServer.register("wr4", schema, Seq.empty)
    spark.sql(s"INSERT INTO $t VALUES (1, 'A', 'one', 1.0), (2, 'B', 'two', 2.0)")
    val eng = new graft.engine.GraftEngine(spark)
    // decimal literal: must cast to the column's DOUBLE, not ship BigDecimal
    eng.sql(s"UPDATE $t SET bal = 9.5 WHERE seg = 'A'")
    assert(spark.table(t).filter(col("id") === 1L).collect()(0).getDouble(3) == 9.5)
    // a string RHS with \' and a comma must survive the SET splitter
    eng.sql(s"""UPDATE $t SET name = 'it\\'s a, b' WHERE id = 2""")
    assert(spark.table(t).filter(col("id") === 2L).collect()(0).getString(2) == "it's a, b")
    // an OR conjunct has a filter form... but a function does NOT: the
    // statement must ABORT, never ship a widened filter
    val e = intercept[Exception](
      eng.sql(s"UPDATE $t SET bal = 0.0 WHERE length(name) > 100"))
    assert(e.getMessage.contains("wire filter surface"), e.getMessage)
    assert(spark.table(t).filter(col("bal") === 0.0).count() == 0,
      "the aborted UPDATE must not have touched any row")
  }

  // ---- DSv2 through the socket ------------------------------------------

  test("the full WHERE tree pushes as one filter document; residuals stay out") {
    val t = table("dsv1")
    val df = spark.table(t)
      .filter((col("seg") === "A" || col("seg") === "B") && col("bal") > 100.0 &&
        col("name").endsWith("_x") && (col("id") % 2 === 0)) // modulo: residual
      .select("id", "bal")
    val got = df.collect().map(_.getLong(0)).sorted
    val want = rows.filter(r => r(1) != null && r(3).asInstanceOf[Double] > 100.0
      && r(0).asInstanceOf[Long] % 2 == 0).map(_(0).asInstanceOf[Long]).sorted.toArray
    assert(got.toSeq == want.toSeq)
    val cmd = LoopbackMongoServer.lastFind.get()
    assert(cmd.contains("$or") && cmd.contains("$gt"), cmd)
    assert(cmd.contains("$/"), s"LIKE must ride as an end-anchored regex: $cmd")
    assert(!cmd.contains("%"), s"the modulo residual must not reach the server: $cmd")
    assert(cmd.contains("projection"), s"column pruning must ride the find: $cmd")
  }

  test("!= through DSv2 keeps SQL 3VL over the two-valued \\$ne backend") {
    val t = table("dsv2")
    val got = spark.table(t).filter(col("seg") =!= "A").count()
    assert(got == rows.count(r => r(1) != null && r(1) != "A"),
      "null segments must NOT match != (the $ne-null guards)")
  }

  test("ORDER BY + LIMIT pushes as the sort document and limit") {
    val t = table("dsv3")
    val served0 = LoopbackMongoServer.served.get()
    val top = spark.table(t).orderBy(col("bal").desc, col("id").desc).limit(7)
      .select("id").collect().map(_.getLong(0))
    assert(top.toSeq == (393L to 399L).reverse)
    assert(LoopbackMongoServer.served.get() - served0 == 1,
      "a pushed top-7 must be a single find command, not a page walk")
    val cmd = LoopbackMongoServer.lastFind.get()
    assert(cmd.contains("sort: {bal: -1, id: -1}") && cmd.contains("limit: 7"), cmd)
  }

  test("a LIMIT alone caps the cursor server-side") {
    val t = table("dsv4")
    assert(spark.table(t).limit(12).collect().length == 12)
    assert(LoopbackMongoServer.lastFind.get().contains("limit: 12"))
  }

  // ---- aggregation-pipeline pushdown --------------------------------------

  test("grouped aggregates push as ONE aggregate pipeline: bare plan, final buckets") {
    val t = table("agg1")
    val served0 = LoopbackMongoServer.served.get()
    val df = spark.table(t)
      .filter(col("bal") > 30.0)
      .groupBy("seg")
      .agg(count(lit(1)).as("n"), min("id").as("min_id"), max("bal").as("max_bal"),
        sum("id").as("sum_id"), min("name").as("min_name"))
    val got = df.collect().map(r => (r.getAs[String]("seg"),
      (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4), r.getString(5)))).toMap
    val kept = rows.filter(_(3).asInstanceOf[Double] > 30.0)
    kept.groupBy(_(1).asInstanceOf[String]).foreach { case (seg, rs) =>
      val want = (rs.size.toLong, rs.map(_(0).asInstanceOf[Long]).min,
        rs.map(_(3).asInstanceOf[Double]).max, rs.map(_(0).asInstanceOf[Long]).sum,
        rs.map(_(2).asInstanceOf[String]).min)
      assert(got(seg) == want, s"group $seg")
    }
    assert(got.contains(null), "SQL GROUP BY keeps the NULL group")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"complete pushdown must leave NO engine aggregate:\n$plan")
    assert(plan.contains("pipeline="), s"the scan must carry the pipeline:\n$plan")
    assert(LoopbackMongoServer.served.get() - served0 == 1,
      "a pushed aggregate must be one aggregate command")
    val cmd = LoopbackMongoServer.lastAggregate.get()
    assert(cmd.contains("$match") && cmd.contains("$group"), cmd)
    assert(cmd.contains("$min") && cmd.contains("$max"), cmd)
  }

  test("SUM over zero non-null values is NULL; COUNT(col) counts non-null only") {
    val s2 = StructType(Seq(StructField("seg", StringType),
      StructField("v", LongType)))
    val rs: Seq[Array[Any]] = Seq(
      Array[Any]("A", 10L), Array[Any]("A", null), Array[Any]("A", 5L),
      Array[Any]("B", null), Array[Any]("B", null))
    LoopbackMongoServer.register("agg2", s2, rs)
    val (host, port) = LoopbackMongoServer.ensureStarted()
    WireEndpoints.register(MongoEndpoint("mongotest", "agg2", s2,
      MongoEndpointSpec(host, port, LoopbackMongoServer.Db, "agg2",
        WireClientConfig(pageSize = 256, retryBackoffMs = 5))))
    SourceRegistry.ensureCatalog(spark)
    val df = spark.table(s"${SourceRegistry.CatalogName}.mongotest.agg2")
      .groupBy("seg")
      .agg(sum("v").as("sum_v"), count("v").as("n_v"), count(lit(1)).as("n"),
        avg("v").as("avg_v"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate"), s"must push complete:\n$plan")
    val got = df.collect().map(r => r.getString(0) ->
      ((if (r.isNullAt(1)) null else r.getLong(1)): Any, r.getLong(2), r.getLong(3),
        (if (r.isNullAt(4)) null else r.getDouble(4)): Any)).toMap
    assert(got("A") == ((15L, 2L, 3L, 7.5)), s"got ${got("A")}")
    assert(got("B") == ((null, 0L, 2L, null)),
      s"all-null group: SUM/AVG must be NULL, COUNT(v) 0 — got ${got("B")}")
  }

  test("an int64-overflowing pushed SUM refuses loudly instead of truncating") {
    // a real mongod promotes an overflowing integer $sum to double; the
    // loopback emulates that (Math.addExact → double). Decoding that back
    // to long would silently corrupt the answer — the reader must throw.
    val s2 = StructType(Seq(StructField("seg", StringType),
      StructField("v", LongType)))
    val rs: Seq[Array[Any]] = Seq(
      Array[Any]("A", Long.MaxValue), Array[Any]("A", Long.MaxValue),
      Array[Any]("A", 7L))
    LoopbackMongoServer.register("aggovf", s2, rs)
    val (host, port) = LoopbackMongoServer.ensureStarted()
    WireEndpoints.register(MongoEndpoint("mongotest", "aggovf", s2,
      MongoEndpointSpec(host, port, LoopbackMongoServer.Db, "aggovf",
        WireClientConfig(pageSize = 256, retryBackoffMs = 5))))
    SourceRegistry.ensureCatalog(spark)
    val df = spark.table(s"${SourceRegistry.CatalogName}.mongotest.aggovf")
      .groupBy("seg").agg(sum("v").as("sum_v"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate"), s"must push complete:\n$plan")
    val e = intercept[org.apache.spark.SparkException](df.collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("overflowed int64")),
      s"the refusal must name the overflow degradation: ${msgs(e)}")
  }

  test("COUNT(DISTINCT) declines: Spark plans the aggregate, values stay exact") {
    val t = table("agg3")
    val df = spark.table(t).agg(countDistinct("seg").as("n_seg"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Aggregate"),
      s"distinct counts must NOT push ($$addToSet is memory-unbounded):\n$plan")
    assert(df.collect().head.getLong(0) == 2L)
  }

  test("TopN/limit above a pushed $group stays exact (no silent window drop)") {
    // groups over rows: A=134, B=133, null=133. The sort keys live in
    // ep.schema, so a naive TopN/limit accept above a consumed $group
    // would set state the agg build path ignores — with
    // isPartiallyPushed=false Spark removes its own operators and the
    // answer silently widens to every group, unsorted. The fix DELEGATES:
    // $sort on `_id.seg` + $limit append to the pipeline.
    val t = table("aggtopn")
    val top = spark.table(t)
      .groupBy("seg").agg(count(lit(1)).as("n"))
      .orderBy(col("seg").asc_nulls_first).limit(2)
    val gotTop = top.collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toSeq
    assert(gotTop == Seq(None -> 133L, Some("A") -> 134L), s"$gotTop")
    val cmd = LoopbackMongoServer.lastAggregate.get()
    assert(cmd.contains("_id.seg") && cmd.contains("$sort") && cmd.contains("$limit"),
      s"the window must ride the pipeline: $cmd")
    val lim = spark.table(t)
      .groupBy("seg").agg(count(lit(1)).as("n")).limit(1)
    assert(lim.collect().length == 1, "LIMIT above a pushed $group must hold")
    // sort on an AGGREGATE output (not a group key) must decline the
    // push and stay exact engine-side
    val byAgg = spark.table(t)
      .groupBy("seg").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc).limit(1)
    assert(byAgg.collect().map(_.getLong(1)).toSeq == Seq(134L))
  }

  test("TopN over a pushed $lookup join appends $sort/$limit to the ONE pipeline") {
    val t1 = table("jltopn_left")
    val s2 = StructType(Seq(StructField("dim_id", LongType),
      StructField("label", StringType)))
    val dimRows: Seq[Array[Any]] = Seq(
      Array[Any](5L, "five"), Array[Any](10L, "ten"), Array[Any](11L, "eleven"))
    LoopbackMongoServer.register("jltopn_right", s2, dimRows)
    val (host, port) = LoopbackMongoServer.ensureStarted()
    WireEndpoints.register(MongoEndpoint("mongotest", "jltopn_right", s2,
      MongoEndpointSpec(host, port, LoopbackMongoServer.Db, "jltopn_right",
        WireClientConfig(pageSize = 256, retryBackoffMs = 5))))
    SourceRegistry.ensureCatalog(spark)
    withJoinPushdown {
      val served0 = LoopbackMongoServer.served.get()
      val df = spark.table(t1)
        .join(spark.table(s"${SourceRegistry.CatalogName}.mongotest.jltopn_right"),
          col("id") === col("dim_id"))
        .select("id", "label", "bal")
        .orderBy(col("bal").desc, col("label"))
        .limit(2)
      val got = df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      // joined rows: id5/five bal 7.5, id10/ten 15.0, id11/eleven 16.5
      assert(got == Seq((11L, "eleven"), (10L, "ten")), s"$got")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Join") && !plan.contains("TakeOrdered"),
        s"join AND window must both leave the engine:\n$plan")
      assert(LoopbackMongoServer.served.get() - served0 == 1,
        "fact⨝dim→top-n must be one aggregate command")
      val cmd = LoopbackMongoServer.lastAggregate.get()
      assert(cmd.indexOf("$lookup") >= 0 && cmd.indexOf("$sort") > cmd.indexOf("$lookup") &&
        cmd.indexOf("$limit") > cmd.indexOf("$sort"),
        s"$$sort/$$limit must trail the join pipeline: $cmd")
    }
  }

  test("aggregate pushdown collapses split fan-out to one metadata-sized task") {
    val (t, withNulls) = splitTable("agg4", Seq(100L, 200L, 300L))
    val df = spark.table(t).groupBy("seg").agg(count(lit(1)).as("n"))
    assert(df.queryExecution.executedPlan.toString.contains("pipeline="))
    assert(df.rdd.getNumPartitions == 1,
      "a COMPLETE agg result is metadata-sized — fan-out must collapse")
    val got = df.collect().map(r => r.getAs[String]("seg") -> r.getLong(1)).toMap
    val want = withNulls.groupBy(_(1).asInstanceOf[String]).view.mapValues(_.size.toLong)
    want.foreach { case (k, v) => assert(got(k) == v, s"group $k") }
  }

  // ---- OFFSET pushdown ($skip) ---------------------------------------------

  test("ORDER BY + LIMIT + OFFSET ship as sort+skip+limit in ONE find") {
    val t = table("skip1")
    val df = spark.table(t).select("id", "name")
      .orderBy(col("id").desc).offset(7).limit(5)
    val got = df.collect().map(_.getLong(0)).toSeq
    assert(got == (392L to 388L by -1L).toSeq, s"rows 7..12 of the desc order: $got")
    val find = LoopbackMongoServer.lastFind.get()
    assert(find.contains("skip: 7"), s"the offset must ride the wire: $find")
    assert(find.contains("sort:"), s"the ordering must ride the same find: $find")
  }

  test("a fanned-out scan declines the offset (skipping per slice would drop rows)") {
    val (t, withNulls) = splitTable("skip2", Seq(100L, 200L, 300L))
    val df = spark.table(t).select("id").orderBy("id").offset(3).limit(4)
    // nulls sort FIRST in Spark asc: offset 3 skips 2 nulls + id 0
    val got = df.collect().map(r => if (r.isNullAt(0)) null else r.getLong(0)).toSeq
    assert(got == Seq(1L, 2L, 3L, 4L), s"$got")
    assert(!LoopbackMongoServer.lastFind.get().contains("skip:"),
      s"per-slice skip would be wrong: ${LoopbackMongoServer.lastFind.get()}")
    assert(withNulls.size == 402)
  }

  test("a pipeline or a one-range fan-out is one request: its window is exact") {
    val ep = MongoEndpoint("m", "t", schema,
      MongoEndpointSpec("127.0.0.1", 1, "db", "t", WireClientConfig(pageSize = 256)),
      Some(WireSplits("id", Seq(100L, 200L, 300L))))
    val fanned = new MongoScanBuilder(ep)
    assert(fanned.pushLimit(5) && fanned.isPartiallyPushed() && !fanned.pushOffset(2))
    val oneRange = new MongoScanBuilder(ep, hint = Some(1))
    assert(oneRange.pushLimit(5) && !oneRange.isPartiallyPushed() && oneRange.pushOffset(2))
    val grouped = new MongoScanBuilder(ep)
    assert(grouped.pushAggregation(
      new org.apache.spark.sql.connector.expressions.aggregate.Aggregation(
        Array(new org.apache.spark.sql.connector.expressions.aggregate.CountStar()),
        Array(org.apache.spark.sql.connector.expressions.Expressions.column("seg")))))
    assert(grouped.pushLimit(5) && !grouped.isPartiallyPushed())
  }

  // ---- runtime semi-join reduction (dynamic filtering) ---------------------

  test("a broadcast dim join ships the build-side keys as a runtime $in") {
    val t = table("dyn1")
    // selective dim: 3 ids out of 400 — the classic fact⋈dim reduction.
    // Built over range() so the selective Filter SURVIVES optimization
    // (Filter-over-LocalRelation constant-folds away, and DPP requires a
    // live selective predicate on the build side).
    val dim = spark.range(0, 31)
      .filter(col("id").isin(5L, 10L, 20L))
      .select(col("id").as("dim_id"),
        when(col("id") === 20L, "y").otherwise("x").as("cat"))
    val df = spark.table(t)
      .join(broadcast(dim), col("id") === col("dim_id"))
      .select("id", "seg", "cat")
    val got = df.collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(got == Set((5L, "x"), (10L, "x"), (20L, "y")))
    val find = LoopbackMongoServer.lastFind.get()
    assert(find.contains("$in"),
      s"the build-side keys must reach the wire as \\$$in: $find")
    assert(find.contains("5") && find.contains("10") && find.contains("20"), find)
    assert(!find.contains("30"),
      s"a dim row the build filter dropped must not ship: $find")
  }

  test("runtime keys AND with the static pushed filter and the split ranges") {
    val (t, _) = splitTable("dyn2", Seq(100L, 200L, 300L))
    val dim = spark.range(0, 400)
      .filter(col("id").isin(9L, 15L, 150L, 333L))
      .select(col("id").as("dim_id"))
    val df = spark.table(t)
      .filter(col("bal") >= 0.0)
      .join(broadcast(dim), col("id") === col("dim_id"))
      .select("id", "bal")
    val got = df.collect().map(_.getLong(0)).toSet
    assert(got == Set(9L, 15L, 150L, 333L))
    val find = LoopbackMongoServer.lastFind.get()
    assert(find.contains("$in") && find.contains("$gte"),
      s"runtime \\$$in must AND with the static filter and range slice: $find")
  }

  test("a pushed aggregate prunes whole groups via a leading runtime $match") {
    val t = table("dyn3")
    val dim = spark.range(0, 3)
      .filter(col("id") === 0L)
      .select(when(col("id") === 0L, "A").otherwise("B").as("dseg"))
    val agg = spark.table(t).groupBy("seg").agg(count(lit(1)).as("n"))
    val df = agg.join(broadcast(dim), col("seg") === col("dseg"))
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("A" -> rows.count(_(1) == "A").toLong))
    val cmd = LoopbackMongoServer.lastAggregate.get()
    assert(!cmd.contains("$in") ||
      (cmd.indexOf("$match") >= 0 && cmd.indexOf("$match") < cmd.indexOf("$group")),
      s"group-key pruning must ride a \\$$match BEFORE the \\$$group: $cmd")
  }

  test("beyond the key cap or a non-wire-exact type the runtime filter declines") {
    val t = table("dyn4")
    // decimal literals aren't wire-exact: filter() must decline, join stays correct
    val scan = new MongoScan(
      WireEndpoints.get("mongotest", "dyn4").collect { case e: MongoEndpoint => e }.get,
      schema, BDoc.empty,
      None, None, -1, Array.empty)
    val dec = org.apache.spark.sql.connector.expressions.Expressions.literal(
      new java.math.BigDecimal("1.5"))
    val ref = org.apache.spark.sql.connector.expressions.Expressions.column("bal")
    scan.filter(Array(new org.apache.spark.sql.connector.expressions.filter.Predicate(
      "IN", Array(ref, dec))))
    assert(scan.runtimeFilterDesc.isEmpty,
      "a non-wire-exact literal must decline the whole predicate")
    assert(spark.table(t).count() == 400L)
  }

  test("a delegated TopN or OFFSET window declines runtime filtering (soundness)") {
    // dim holds ONE key (5) that is NOT in the true top-10 by id desc. A
    // runtime $in ANDed under the delegated sort+limit would make the
    // server window the FILTERED subset — returning id=5, which survives
    // the join's key re-check and mints a row the true result cannot
    // contain. The scan must decline runtime filtering whenever the
    // ordered window is delegated (sort pushed, or skip consumed).
    val t = table("dyn5")
    val dim = spark.range(0, 400)
      .filter(col("id") === 5L)
      .select(col("id").as("dim_id"))
    val top = spark.table(t).select("id", "name")
      .orderBy(col("id").desc).limit(10)
    val joined = top.join(broadcast(dim), col("id") === col("dim_id"))
    assert(joined.collect().isEmpty,
      "id=5 is outside the true top-10: any output row IS the unsoundness")
    val find = LoopbackMongoServer.lastFind.get()
    assert(!find.contains("$in"),
      s"no runtime \\$$in may ride a find that carries a delegated window: $find")

    // same rule for a delegated OFFSET: skip 395 + limit 5 → true rows are
    // ids 395..399; pre-filtering to {5} would skip past everything OR
    // (with other caps) emit rows outside the true page
    val paged = spark.table(t).select("id", "name")
      .orderBy("id").offset(395).limit(5)
    val joined2 = paged.join(broadcast(dim), col("id") === col("dim_id"))
    assert(joined2.collect().isEmpty)
    val find2 = LoopbackMongoServer.lastFind.get()
    assert(!find2.contains("$in"),
      s"no runtime \\$$in may ride a find that carries a delegated skip: $find2")
  }

  // ---- same-server join pushdown ($lookup) ---------------------------------

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

  test("a same-server inner equi-join pushes as ONE $lookup pipeline") {
    val t1 = table("jl_left")
    val s2 = StructType(Seq(StructField("dim_id", LongType),
      StructField("label", StringType)))
    val dimRows: Seq[Array[Any]] = Seq(
      Array[Any](5L, "five"), Array[Any](10L, "ten"), Array[Any](400L, "none"),
      Array[Any](null, "nullkey")) // must match NOTHING under SQL equality
    LoopbackMongoServer.register("jl_right", s2, dimRows)
    val (host, port) = LoopbackMongoServer.ensureStarted()
    WireEndpoints.register(MongoEndpoint("mongotest", "jl_right", s2,
      MongoEndpointSpec(host, port, LoopbackMongoServer.Db, "jl_right",
        WireClientConfig(pageSize = 256, retryBackoffMs = 5))))
    SourceRegistry.ensureCatalog(spark)
    withJoinPushdown {
      val served0 = LoopbackMongoServer.served.get()
      val df = spark.table(t1)
        .join(spark.table(s"${SourceRegistry.CatalogName}.mongotest.jl_right"),
          col("id") === col("dim_id"))
        .select("id", "name", "label")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Join"), s"the join must be pushed off the engine:\n$plan")
      val got = df.collect().map(r => (r.getLong(0), r.getString(2))).toSet
      assert(got == Set((5L, "five"), (10L, "ten")),
        s"inner semantics incl. no null==null matches: $got")
      assert(LoopbackMongoServer.served.get() - served0 == 1,
        "a pushed join must be ONE wire request")
      val cmd = LoopbackMongoServer.lastAggregate.get()
      assert(cmd.contains("$lookup") && cmd.contains("$unwind") && cmd.contains("$project"), cmd)
      assert(cmd.contains("$ne"), s"the SQL null guard must precede the lookup: $cmd")
    }
  }

  test("the left side's pushed WHERE survives as a $match before the $lookup") {
    val t1 = table("jl_left2")
    LoopbackMongoServer.register("jl_right2", StructType(Seq(
      StructField("dim_id", LongType), StructField("label", StringType))),
      Seq(Array[Any](3L, "three"), Array[Any](9L, "nine"), Array[Any](300L, "big")))
    val (host, port) = LoopbackMongoServer.ensureStarted()
    WireEndpoints.register(MongoEndpoint("mongotest", "jl_right2",
      StructType(Seq(StructField("dim_id", LongType), StructField("label", StringType))),
      MongoEndpointSpec(host, port, LoopbackMongoServer.Db, "jl_right2",
        WireClientConfig(pageSize = 256, retryBackoffMs = 5))))
    SourceRegistry.ensureCatalog(spark)
    withJoinPushdown {
      val df = spark.table(t1)
        .filter(col("id") < 100L)
        .join(spark.table(s"${SourceRegistry.CatalogName}.mongotest.jl_right2"),
          col("id") === col("dim_id"))
        .select("id", "label")
      val got = df.collect().map(_.getLong(0)).toSet
      assert(got == Set(3L, 9L))
      val cmd = LoopbackMongoServer.lastAggregate.get()
      assert(cmd.contains("$lt") && cmd.indexOf("$lt") < cmd.indexOf("$lookup"),
        s"the left WHERE must ride a $$match BEFORE the lookup: $cmd")
    }
  }

  test("null-extended-side filters decline outer-join pushes; engine stays exact") {
    val t1 = table("jl_left3")
    val t2 = table("jl_right3") // same fixture schema both sides
    withJoinPushdown {
      val left = spark.table(t1).select(col("id"), col("name").as("lname"))
      val right = spark.table(t2).select(col("id").as("rid"), col("seg"))
      // a filtered RIGHT side declines INNER (basic $lookup can't filter
      // the foreign collection) — values stay exact through the engine
      val rf = left.join(right.filter(col("seg") === "A"), col("id") === col("rid"))
      assert(rf.queryExecution.executedPlan.toString.contains("Join"),
        "right-filtered joins must stay engine-side")
      assert(rf.count() == rows.count(_(1) == "A").toLong)
      // a filtered RIGHT side under LEFT OUTER declines too: rewriting
      // its filter anywhere would drop rows the join must null-extend
      val lof = left.join(right.filter(col("seg") === "A"),
        col("id") === col("rid"), "left_outer")
      assert(lof.queryExecution.executedPlan.toString.contains("Join"),
        "left-outer with a filtered right side must stay engine-side")
      assert(lof.count() == 400L)
      // mirror image: a filtered LEFT side under RIGHT OUTER declines
      val rof = left.filter(col("lname").startsWith("name_1"))
        .join(right, col("id") === col("rid"), "right_outer")
      assert(rof.queryExecution.executedPlan.toString.contains("Join"),
        "right-outer with a filtered left side must stay engine-side")
      assert(rof.count() == 400L)
    }
  }

  test("RIGHT OUTER pushes: the right table DRIVES the $lookup") {
    val s1 = StructType(Seq(StructField("k", LongType), StructField("lv", StringType)))
    val lrows: Seq[Array[Any]] = Seq(
      Array[Any](1L, "a"), Array[Any](1L, "a2"),
      Array[Any](null, "NULLMATCH")) // must never join under SQL equality
    val s2 = StructType(Seq(StructField("fk", LongType), StructField("rv", StringType)))
    val rrows: Seq[Array[Any]] = Seq(
      Array[Any](1L, "one"), Array[Any](2L, "two"), Array[Any](null, "nullkey"))
    LoopbackMongoServer.register("jro_left", s1, lrows)
    LoopbackMongoServer.register("jro_right", s2, rrows)
    val (host, port) = LoopbackMongoServer.ensureStarted()
    Seq(("jro_left", s1), ("jro_right", s2)).foreach { case (n, sch) =>
      WireEndpoints.register(MongoEndpoint("mongotest", n, sch,
        MongoEndpointSpec(host, port, LoopbackMongoServer.Db, n,
          WireClientConfig(pageSize = 256, retryBackoffMs = 5))))
    }
    if (SourceRegistry.get("mongotest").isEmpty)
      SourceRegistry.register(SourceDef("mongotest",
        new java.io.File(sys.props("user.dir"), "target/graft-test/mongotest").getPath,
        "json", "mongo"))
    SourceRegistry.ensureCatalog(spark)
    withJoinPushdown {
      val df = spark.table(s"${SourceRegistry.CatalogName}.mongotest.jro_left")
        .join(spark.table(s"${SourceRegistry.CatalogName}.mongotest.jro_right"),
          col("k") === col("fk"), "right")
        .select("lv", "fk", "rv")
      val got = df.collect().map(r => (
        if (r.isNullAt(0)) null else r.getString(0),
        if (r.isNullAt(1)) null else r.getLong(1), r.getString(2))).toSet
      // fk=1 matches both left rows; fk=2 and fk=null null-extend —
      // the null fk must NOT match the null-keyed left row
      assert(got == Set(("a", 1L, "one"), ("a2", 1L, "one"),
        (null, 2L, "two"), (null, null, "nullkey")), s"$got")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Join"), s"the join must leave the engine:\n$plan")
      val cmd = LoopbackMongoServer.lastAggregate.get()
      assert(cmd.contains("\"aggregate\": \"jro_right\"") ||
        cmd.contains("jro_right"),
        s"the RIGHT collection must drive the pipeline: $cmd")
      assert(cmd.contains("\"from\": \"jro_left\"") || cmd.contains("jro_left"),
        s"the left collection must be the lookup target: $cmd")
      assert(cmd.contains("preserveNullAndEmptyArrays"),
        s"RIGHT OUTER must unwind preserving: $cmd")
    }
  }

  test("LEFT OUTER pushes: preserving $unwind, null keys null-extend") {
    val s1 = StructType(Seq(StructField("k", LongType), StructField("lv", StringType)))
    val lrows: Seq[Array[Any]] = Seq(
      Array[Any](1L, "a"), Array[Any](2L, "b"), Array[Any](null, "c"),
      Array[Any](7L, "d"))
    val s2 = StructType(Seq(StructField("fk", LongType), StructField("rv", StringType)))
    val rrows: Seq[Array[Any]] = Seq(
      Array[Any](1L, "one"), Array[Any](1L, "uno"),
      Array[Any](null, "NULLMATCH")) // must never join under SQL equality
    LoopbackMongoServer.register("jlo_left", s1, lrows)
    LoopbackMongoServer.register("jlo_right", s2, rrows)
    val (host, port) = LoopbackMongoServer.ensureStarted()
    Seq(("jlo_left", s1), ("jlo_right", s2)).foreach { case (n, sch) =>
      WireEndpoints.register(MongoEndpoint("mongotest", n, sch,
        MongoEndpointSpec(host, port, LoopbackMongoServer.Db, n,
          WireClientConfig(pageSize = 256, retryBackoffMs = 5))))
    }
    if (SourceRegistry.get("mongotest").isEmpty)
      SourceRegistry.register(SourceDef("mongotest",
        new java.io.File(sys.props("user.dir"), "target/graft-test/mongotest").getPath,
        "json", "mongo"))
    SourceRegistry.ensureCatalog(spark)
    withJoinPushdown {
      val df = spark.table(s"${SourceRegistry.CatalogName}.mongotest.jlo_left")
        .join(spark.table(s"${SourceRegistry.CatalogName}.mongotest.jlo_right"),
          col("k") === col("fk"), "left")
        .select("k", "lv", "rv")
      val got = df.collect().map(r => (
        if (r.isNullAt(0)) null else r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSet
      assert(got == Set((1L, "a", "one"), (1L, "a", "uno"), (2L, "b", null),
        (null, "c", null), (7L, "d", null)),
        s"null-keyed left rows must null-extend, never match null fks: $got")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Join"), s"the join must leave the engine:\n$plan")
      val cmd = LoopbackMongoServer.lastAggregate.get()
      assert(cmd.contains("preserveNullAndEmptyArrays"),
        s"LEFT OUTER must unwind preserving: $cmd")
      assert(cmd.contains("$addFields") || cmd.contains("$set"),
        s"the null-key guard must reset the match array: $cmd")
    }
  }

  test("an aggregate over a pushed join ships ONE pipeline, $group after $lookup") {
    val t1 = table("jlagg_left")
    val s2 = StructType(Seq(StructField("dim_id", LongType),
      StructField("label", StringType)))
    val dimRows: Seq[Array[Any]] = Seq(
      Array[Any](5L, "five"), Array[Any](10L, "ten"), Array[Any](11L, "ten"),
      Array[Any](null, "nullkey"))
    LoopbackMongoServer.register("jlagg_right", s2, dimRows)
    val (host, port) = LoopbackMongoServer.ensureStarted()
    WireEndpoints.register(MongoEndpoint("mongotest", "jlagg_right", s2,
      MongoEndpointSpec(host, port, LoopbackMongoServer.Db, "jlagg_right",
        WireClientConfig(pageSize = 256, retryBackoffMs = 5))))
    SourceRegistry.ensureCatalog(spark)
    withJoinPushdown {
      val served0 = LoopbackMongoServer.served.get()
      val df = spark.table(t1)
        .join(spark.table(s"${SourceRegistry.CatalogName}.mongotest.jlagg_right"),
          col("id") === col("dim_id"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"), sum("bal").as("s"))
      val got = df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      // five: id 5 (bal 7.5); ten: ids 10, 11 (bal 15.0 + 16.5)
      assert(got == Set(("five", 1L, 7.5), ("ten", 2L, 31.5)), s"$got")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Join") && !plan.contains("HashAggregate") &&
        !plan.contains("SortAggregate"),
        s"join AND aggregate must both leave the engine:\n$plan")
      assert(LoopbackMongoServer.served.get() - served0 == 1,
        "fact⨝dim→aggregate must be one aggregate command")
      val cmd = LoopbackMongoServer.lastAggregate.get()
      assert(cmd.indexOf("$lookup") >= 0 && cmd.indexOf("$group") >= 0 &&
        cmd.indexOf("$lookup") < cmd.indexOf("$group"),
        s"the $$group must follow the $$lookup in one pipeline: $cmd")
    }
  }

  test("unsupported pipeline stages fail loudly server-side") {
    LoopbackMongoServer.register("agg5", schema, rows)
    val c = client()
    val e = intercept[IOException] {
      c.aggregate(LoopbackMongoServer.Db, "agg5",
        Seq(BDoc(Seq("$facet" -> BDoc.empty)))).toSeq
    }
    assert(e.getMessage.contains("unsupported pipeline stage"), e.getMessage)
    // a malformed $lookup is loud too, not a silent None.get
    val e2 = intercept[IOException] {
      c.aggregate(LoopbackMongoServer.Db, "agg5",
        Seq(BDoc(Seq("$lookup" -> BDoc.empty)))).toSeq
    }
    assert(e2.getMessage.contains("$lookup requires"), e2.getMessage)
    c.close()
  }

  test("concurrent DSv2 scans share the listener without cross-talk") {
    val t1 = table("dsv5a")
    val t2 = table("dsv5b")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (0 until 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          override def call(): Long =
            spark.table(if (i % 2 == 0) t1 else t2)
              .filter(col("seg") === (if (i % 4 < 2) "A" else "B")).count()
        })
      }
      val expectA = rows.count(_(1) == "A").toLong
      val expectB = rows.count(_(1) == "B").toLong
      futures.zipWithIndex.foreach { case (f, i) =>
        assert(f.get() == (if (i % 4 < 2) expectA else expectB))
      }
    } finally pool.shutdown()
  }
}
