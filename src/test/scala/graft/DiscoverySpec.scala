package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources._

/** Wire-side schema discovery: the widen lattice's promotion/conflict
  * arms, inference stability across sample sizes, and each protocol's
  * real discovery surface against its loopback server (ES `_aliases` +
  * `_mapping`, Mongo listCollections + doc sampling, CQL system_schema,
  * BT cell guessing, DS entity-value sampling, BQ tables.get). */
class DiscoverySpec extends AnyFunSuite {

  // ---- widen lattice ------------------------------------------------------

  test("widen: numeric types promote; fractional forces double") {
    assert(WireInference.widen(IntegerType, LongType) == LongType)
    assert(WireInference.widen(ShortType, IntegerType) == IntegerType)
    assert(WireInference.widen(LongType, DoubleType) == DoubleType)
    assert(WireInference.widen(IntegerType, FloatType) == DoubleType)
  }

  test("widen: null yields the other side; equal types are stable") {
    assert(WireInference.widen(NullType, LongType) == LongType)
    assert(WireInference.widen(StringType, NullType) == StringType)
    assert(WireInference.widen(BooleanType, BooleanType) == BooleanType)
  }

  test("widen: non-numeric conflict degrades to string") {
    assert(WireInference.widen(BooleanType, LongType) == StringType)
    assert(WireInference.widen(TimestampType, DoubleType) == StringType)
    assert(WireInference.widen(StringType, LongType) == StringType)
  }

  test("widen: arrays widen elementwise, structs merge fieldwise") {
    assert(WireInference.widen(ArrayType(IntegerType), ArrayType(DoubleType))
      == ArrayType(DoubleType, containsNull = true))
    val a = StructType(Seq(StructField("x", IntegerType)))
    val b = StructType(Seq(StructField("x", LongType), StructField("y", StringType)))
    val m = WireInference.widen(a, b).asInstanceOf[StructType]
    assert(m.fieldNames.toSeq == Seq("x", "y"))
    assert(m("x").dataType == LongType)
  }

  test("inferFields: first-seen order, widened conflicts, all-null -> string") {
    val docs = Seq(
      Seq("id" -> (IntegerType: DataType), "score" -> (IntegerType: DataType),
        "ghost" -> (NullType: DataType)),
      Seq("id" -> (LongType: DataType), "score" -> (DoubleType: DataType),
        "tag" -> (StringType: DataType)))
    val s = WireInference.inferFields(docs)
    assert(s.fieldNames.toSeq == Seq("id", "score", "ghost", "tag"))
    assert(s("id").dataType == LongType)      // int + long -> long
    assert(s("score").dataType == DoubleType) // int + double -> double
    assert(s("ghost").dataType == StringType) // never seen non-null -> string
    assert(s.fields.forall(_.nullable))
  }

  // ---- ES: _aliases + _mapping -------------------------------------------

  test("ES: _aliases lists only ES indices; _mapping walks nested structs") {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("profile", StructType(Seq(
        StructField("name", StringType), StructField("bal", DoubleType)))),
      StructField("flag", BooleanType)))
    LoopbackRestServer.registerEs("disc_idx", schema, Seq(
      Array[Any](1L, org.apache.spark.sql.Row("a", 1.5), true)))
    // a plain (non-ES) table must NOT appear in the aliases listing
    LoopbackRestServer.register("disc_plain", schema, Seq.empty)
    val client = new HttpRestClient(LoopbackRestServer.ensureStarted())
    val indices = EsDiscovery.listIndices(client)
    assert(indices.contains("disc_idx"))
    assert(!indices.contains("disc_plain"))
    val discovered = EsDiscovery.mappingSchema(client, "disc_idx")
    assert(discovered("id").dataType == LongType)
    assert(discovered("flag").dataType == BooleanType)
    val prof = discovered("profile").dataType.asInstanceOf[StructType]
    assert(prof("name").dataType == StringType)
    assert(prof("bal").dataType == DoubleType)
  }

  test("ES: mapping for an unknown index fails loudly") {
    val client = new HttpRestClient(LoopbackRestServer.ensureStarted())
    intercept[Exception] { EsDiscovery.mappingSchema(client, "no_such_index") }
  }

  test("ES: an aliased index lists under its ALIAS; queries resolve through it") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType)))
    LoopbackRestServer.registerEs("disc_idx_v2", schema,
      (0L until 30L).map(i => Array[Any](i, i * 0.5)))
    LoopbackRestServer.registerEsAlias("disc_live", "disc_idx_v2")
    val client = new HttpRestClient(LoopbackRestServer.ensureStarted())
    val listed = EsDiscovery.listIndices(client)
    // the reference's rule (source.go:121-132): the alias REPLACES the
    // index in the listing — a versioned-index deployment addresses the
    // alias, never the concrete index
    assert(listed.contains("disc_live"))
    assert(!listed.contains("disc_idx_v2"))
    // the mapping resolves through the alias (response keys by index)
    val s = EsDiscovery.mappingSchema(client, "disc_live")
    assert(s("id").dataType == LongType && s("v").dataType == DoubleType)
  }

  test("ES: a freshly-created empty index is skippable (not fatal) at eager discovery") {
    LoopbackRestServer.registerEs("disc_es_empty", StructType(Seq.empty), Seq.empty)
    val client = new HttpRestClient(LoopbackRestServer.ensureStarted())
    // the typed exception discoverAll skips — an empty mapping is the ES
    // twin of the empty-collection case
    intercept[UndiscoverableTableException] {
      EsDiscovery.mappingSchema(client, "disc_es_empty")
    }
  }

  // ---- Mongo: listCollections + sampling ----------------------------------

  test("Mongo: listCollections surfaces registered collections") {
    val schema = StructType(Seq(StructField("id", LongType)))
    LoopbackMongoServer.register("disc_coll", schema, Seq(Array[Any](1L)))
    val (host, port) = LoopbackMongoServer.ensureStarted()
    val names = MongoDiscovery.listCollections(
      MongoEndpointSpec(host, port, LoopbackMongoServer.Db, "disc_coll",
        WireClientConfig(pageSize = 256, retryBackoffMs = 5)))
    assert(names.contains("disc_coll"))
  }

  test("Mongo: sampled inference is stable across sample sizes and refuses empty") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("seg", StringType),
      StructField("bal", DoubleType), StructField("ok", BooleanType)))
    val rows = (0L until 200L).map(i =>
      Array[Any](i, if (i % 5 == 0) null else s"s$i", i * 0.5, i % 2 == 0))
    LoopbackMongoServer.register("disc_samp", schema, rows)
    val (host, port) = LoopbackMongoServer.ensureStarted()
    val spec = MongoEndpointSpec(host, port, LoopbackMongoServer.Db, "disc_samp",
      WireClientConfig(pageSize = 16, retryBackoffMs = 5))
    val s8 = MongoDiscovery.inferSchema(spec, sampleN = 8)
    val s64 = MongoDiscovery.inferSchema(spec, sampleN = 64)
    assert(s8 == s64) // stability: more documents must not flip types
    assert(s64("id").dataType == LongType)
    assert(s64("seg").dataType == StringType)
    assert(s64("bal").dataType == DoubleType)
    assert(s64("ok").dataType == BooleanType)
    LoopbackMongoServer.register("disc_empty", schema, Seq.empty)
    intercept[IllegalArgumentException] {
      MongoDiscovery.inferSchema(spec.copy(collection = "disc_empty"))
    }
  }

  // ---- CQL: system_schema --------------------------------------------------

  test("CQL: system_schema rebuilds schema and key structure") {
    val schema = StructType(Seq(
      StructField("seg", StringType), StructField("id", LongType),
      StructField("sub", IntegerType), StructField("bal", DoubleType)))
    LoopbackCqlServer.register("disc_cql", schema, Seq("seg"), Seq("id", "sub"),
      Seq(Array[Any]("A", 1L, 2, 3.0)))
    val (host, port) = LoopbackCqlServer.ensureStarted()
    val spec = CqlEndpointSpec(host, port, "disc_cql", WireClientConfig(pageSize = 64))
    assert(CqlDiscovery.listTables(spec).contains("disc_cql"))
    val meta = CqlDiscovery.tableMeta(spec, "disc_cql")
    assert(meta.schema("seg").dataType == StringType)
    assert(meta.schema("id").dataType == LongType)
    assert(meta.schema("sub").dataType == IntegerType)
    assert(meta.schema("bal").dataType == DoubleType)
    assert(meta.partitionKeys == Seq("seg"))
    assert(meta.clusteringKeys == Seq("id", "sub")) // position-ordered
    // a foreign keyspace answers empty, never another keyspace's tables
    assert(CqlDiscovery.listTables(spec, keyspace = "other_ks").isEmpty)
  }

  test("CQL: identifiers with quotes survive system_schema interpolation") {
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("v", LongType)))
    // a table name containing a single quote must round-trip through the
    // discovery queries escaped ('' inside the literal), not break them
    LoopbackCqlServer.register("disc'quoted", schema, Seq("k"), Nil,
      Seq(Array[Any]("a", 1L)))
    val (host, port) = LoopbackCqlServer.ensureStarted()
    val spec = CqlEndpointSpec(host, port, "disc'quoted", WireClientConfig(pageSize = 64))
    assert(CqlDiscovery.listTables(spec).contains("disc'quoted"))
    val meta = CqlDiscovery.tableMeta(spec, "disc'quoted")
    assert(meta.schema.fieldNames.toSeq == Seq("k", "v"))
    assert(meta.partitionKeys == Seq("k"))
  }

  // ---- BT: cell guessing ----------------------------------------------------

  test("BT: cell scanning guesses long/double/bool and degrades mixed to string") {
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("n", LongType),
      StructField("d", DoubleType), StructField("b", BooleanType),
      StructField("mixed", StringType)))
    val rows = Seq(
      Array[Any]("a", 1L, 1.5, true, "42"),
      Array[Any]("b", 2L, 2.5, false, "not-a-number"))
    LoopbackRestServer.registerBt("disc_bt", schema, "k", rows)
    val spec = BtEndpointSpec(LoopbackRestServer.ensureStarted(), "disc_bt", "k",
      WireClientConfig(pageSize = 64))
    val s = BtDiscovery.inferSchema(spec)
    assert(s("n").dataType == LongType)
    assert(s("d").dataType == DoubleType)
    assert(s("b").dataType == BooleanType)
    assert(s("mixed").dataType == StringType) // 42 + not-a-number -> string
  }

  test("BT: duplicate row keys are refused at fixture registration") {
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("v", LongType)))
    val e = intercept[IllegalArgumentException] {
      LoopbackRestServer.registerBt("disc_bt_dup", schema, "k",
        Seq(Array[Any]("a", 1L), Array[Any]("a", 2L)))
    }
    assert(e.getMessage.contains("unique"))
  }

  // ---- DS + BQ ---------------------------------------------------------------

  test("DS: typed entity-value sampling maps value kinds to types") {
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("kind", StringType),
      StructField("score", DoubleType), StructField("ok", BooleanType)))
    LoopbackRestServer.registerDs("disc_ds", schema, "event_id",
      (0L until 50L).map(i => Array[Any](i, s"k$i", i * 0.1, i % 2 == 0)))
    val spec = DsEndpointSpec(LoopbackRestServer.ensureStarted(), "disc_ds",
      WireClientConfig(pageSize = 64))
    val s = DsDiscovery.inferSchema(spec, sampleN = 16)
    assert(s("event_id").dataType == LongType) // DS integers are int64
    assert(s("kind").dataType == StringType)
    assert(s("score").dataType == DoubleType)
    assert(s("ok").dataType == BooleanType)
  }

  test("BQ: tables.get discovers INT64-only integer vocabulary") {
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("name", StringType),
      StructField("price", DoubleType)))
    LoopbackRestServer.register("disc_bq", schema, Seq(Array[Any](1, "x", 2.0)))
    val spec = BqEndpointSpec(LoopbackRestServer.ensureStarted(), "disc_bq",
      WireClientConfig(pageSize = 64))
    val s = BqDiscovery.tableSchema(spec)
    assert(s("id").dataType == LongType) // INTEGER -> bigint: the service's truth
    assert(s("name").dataType == StringType)
    assert(s("price").dataType == DoubleType)
  }
}
