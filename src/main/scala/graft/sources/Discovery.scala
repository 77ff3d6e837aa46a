package graft.sources

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode

import org.apache.spark.sql.types._

import graft.protocol.Bson.BDoc
import graft.protocol.CqlWire

/** Wire-side schema DISCOVERY — the reference's §1.1 identity ("schema is
  * discovered, not declared"): every protocol connector can populate a
  * table's StructType from the backend itself, over the same wire its
  * scans use, so an endpoint is registrable WITHOUT a declared schema.
  * Per-protocol mechanisms, each the real service's own discovery
  * surface:
  *
  *   - Elasticsearch: tables from `GET /_aliases`, fields from
  *     `GET /{index}/_mapping` (`elasticsearch/source.go:107-152,
  *     154-255`) — the mapping is self-describing, no sampling needed.
  *     Where the reference flattens nested objects into dotted column
  *     names, nested `properties` walk into REAL StructType columns
  *     (the declared upgrade, SURVEY §1.2).
  *   - MongoDB: collections from `listCollections`, field types inferred
  *     by SAMPLING documents and switching on BSON runtime types
  *     (`mgo_source.go:269-311,335-360`), widened across the sample.
  *   - Cassandra: `system_schema.{tables,columns}` read over the same
  *     native protocol as data queries — column kinds/positions rebuild
  *     the partition/clustering key lists (the reference reads the
  *     equivalent `gocql.TableMetadata`, `cassandra/source.go:185-239`).
  *   - BigTable: cell-value scanning with type detection over a sampled
  *     `:readRows` page (`bigtable/source.go:193-251`) through the same
  *     widen lattice as file inference.
  *   - BigQuery / Datastore: `tables.get` schema resource / typed
  *     entity-value sampling.
  *
  * 100 TB: discovery reads are metadata-sized (one mapping document, one
  * bounded sample page) and run ONCE at registration on the driver —
  * never in the scan path.
  */
/** A table the backend lists but whose schema cannot be discovered YET
  * (an empty collection has no documents to sample). Eager CREATE SOURCE
  * discovery skips exactly this — every other failure (bad config,
  * unreachable backend, protocol error) stays loud. */
final class UndiscoverableTableException(msg: String)
  extends IllegalArgumentException(msg)

object WireInference {

  /** Widen two inferred types: numeric types promote (integer widths
    * merge to the widest; any fractional side forces double — a `42` in
    * one document and a `4.2` in another is one double column); structs
    * merge fieldwise; arrays widen elementwise; any other conflict
    * degrades to string (the reference's stable fallback). */
  def widen(a: DataType, b: DataType): DataType = (a, b) match {
    case (NullType, x) => x
    case (x, NullType) => x
    case (x, y) if x == y => x
    case (x: StructType, y: StructType) =>
      // merge fieldwise through THIS lattice (LineCodec.mergeSchemas
      // uses the narrower file lattice, which has no integer widths)
      val names = x.fieldNames.toBuffer
      y.fieldNames.foreach(n => if (!names.exists(_.equalsIgnoreCase(n))) names += n)
      StructType(names.toSeq.map { n =>
        val fa = x.fields.find(_.name.equalsIgnoreCase(n))
        val fb = y.fields.find(_.name.equalsIgnoreCase(n))
        (fa, fb) match {
          case (Some(f), Some(g)) =>
            StructField(f.name, widen(f.dataType, g.dataType), nullable = true)
          case (some, none) => some.orElse(none).get.copy(nullable = true)
        }
      })
    case (ArrayType(x, _), ArrayType(y, _)) => ArrayType(widen(x, y), containsNull = true)
    case (x: NumericType, y: NumericType) =>
      def frac(t: DataType) = t == DoubleType || t == FloatType
      if (frac(x) || frac(y)) DoubleType
      else if (x == LongType || y == LongType) LongType
      else if (x == IntegerType || y == IntegerType) IntegerType
      else ShortType
    case _ => StringType
  }

  /** Merge per-document (field, type) lists into one schema: union of
    * fields in FIRST-SEEN order (deterministic for a given sample),
    * same-named fields promoted through the widen lattice, everything
    * nullable (a field absent from some documents is null there). A
    * field that was null in every sampled document falls back to
    * string. */
  def inferFields(docs: Seq[Seq[(String, DataType)]]): StructType = {
    val order = mutable.LinkedHashMap.empty[String, DataType]
    docs.foreach(_.foreach { case (name, dt) =>
      val key = order.keys.find(_.equalsIgnoreCase(name)).getOrElse(name)
      order.put(key, widen(order.getOrElse(key, NullType), dt))
    })
    StructType(order.toSeq.map { case (n, dt) =>
      StructField(n, if (dt == NullType) StringType else dt, nullable = true)
    })
  }
}

/** ES discovery: `_aliases` + `_mapping` (self-describing — no sampling). */
object EsDiscovery {

  /** Table names from `GET /_aliases` — the reference's exact listing
    * rule (elasticsearch/source.go:107-152): an index that HAS aliases
    * lists under its alias names (queries address the alias, like a
    * versioned-index deployment); an index without aliases lists under
    * its own name. */
  def listIndices(client: HttpRestClient): Seq[String] =
    EsDsl.M.readTree(client.get("/es/_aliases", Map.empty))
      .properties().asScala.toSeq.flatMap { e =>
        val aliases = e.getValue.path("aliases").properties().asScala.toSeq
        if (aliases.nonEmpty) aliases.map(_.getKey) else Seq(e.getKey)
      }.distinct.sorted

  /** Mapping walk result: the schema PLUS which top-level string columns
    * are ANALYZED (`text`-typed — fielddata disabled, so sorts/aggs on
    * them 400 on a real cluster and term-level queries hit analyzed
    * tokens). `analyzed` maps the column (lowercase) to the `.keyword`
    * multi-field path when the mapping declares one (the retarget every
    * real client uses), or None (such operations must decline and
    * polyfill engine-side). */
  final case class EsMappingMeta(schema: StructType,
      analyzed: Map[String, Option[String]])

  /** StructType from `GET /{index}/_mapping`: the mapping's `properties`
    * walk recursively — nested objects become real struct columns. */
  def mappingSchema(client: HttpRestClient, index: String): StructType =
    mappingMeta(client, index).schema

  /** Schema + analyzed-field metadata from `GET /{index}/_mapping`. */
  def mappingMeta(client: HttpRestClient, index: String): EsMappingMeta = {
    val root = EsDsl.M.readTree(client.get(s"/es/$index/_mapping", Map.empty))
    // the response keys by the (single) index name
    val mappings = root.properties().asScala.headOption
      .map(_.getValue.path("mappings").path("properties"))
      .getOrElse(throw new IllegalArgumentException(s"no mapping for index $index"))
    // a freshly-created index has no field mappings yet — the ES twin of
    // the empty-collection case, skippable at eager CREATE SOURCE time
    if (!mappings.isObject || mappings.properties().asScala.isEmpty)
      throw new UndiscoverableTableException(s"empty mapping for index $index")
    EsMappingMeta(walk(mappings), collectAnalyzed(mappings, ""))
  }

  /** Recursive analyzed-field walk: a `text` mapping at ANY depth records
    * its DOTTED path (the reference's own fixture shape has
    * `repository.name`-style text subfields) — a top-level-only walk
    * would let an exact-value filter on a nested text field push raw
    * and silently match analyzed tokens instead of declining or
    * retargeting to its `.keyword` multi-field. */
  private def collectAnalyzed(props: JsonNode,
      prefix: String): Map[String, Option[String]] =
    props.properties().asScala.toSeq.flatMap { e =>
      val path = if (prefix.isEmpty) e.getKey else s"$prefix.${e.getKey}"
      val t = e.getValue
      if (t.has("properties")) collectAnalyzed(t.path("properties"), path)
      else if (t.path("type").asText("") == "text") {
        val kw = t.path("fields").path("keyword")
        Seq(path.toLowerCase -> (
          if (kw.path("type").asText("") == "keyword")
            Some(s"$path.keyword") else None))
      } else Nil
    }.toMap

  private def walk(props: JsonNode): StructType = StructType(
    props.properties().asScala.toSeq.map { e =>
      val t = e.getValue
      val dt: DataType =
        if (t.has("properties")) walk(t.path("properties")) // object -> struct
        else t.path("type").asText("") match {
          case "long" => LongType
          case "integer" => IntegerType
          case "short" => ShortType
          case "double" => DoubleType
          case "float" => FloatType
          case "boolean" => BooleanType
          case "date" =>
            if (t.path("format").asText("") == "yyyy-MM-dd") DateType
            else TimestampType
          case _ => StringType // keyword / text / anything unmapped
        }
      StructField(e.getKey, dt, nullable = true)
    })

}

/** Mongo discovery: listCollections + document-sampling inference. */
object MongoDiscovery {

  def listCollections(spec: MongoEndpointSpec): Seq[String] = {
    val client = new MongoClientLite(spec.host, spec.port, spec.cfg)
    try client.listCollections(spec.db)
    finally client.close()
  }

  /** BSON runtime value -> inferred Spark type (the reference's sampled
    * type switch, mgo_source.go:335-360). Sub-documents recurse into
    * structs; arrays widen their element types.
    *
    * BSON datetime is epoch millis — an INSTANT; the wire carries no
    * timezone-less variant, so it discovers as TimestampType. A column
    * a writer declared TIMESTAMP_NTZ therefore discovers as TIMESTAMP:
    * same instants, instant semantics — the wire's truth, and exactly
    * what sampling a real deployment would conclude. */
  def bsonType(v: Any): DataType = v match {
    case null => NullType
    case _: java.lang.Integer => IntegerType
    case _: java.lang.Long => LongType
    case _: java.lang.Double => DoubleType
    case _: java.lang.Boolean => BooleanType
    case _: java.sql.Timestamp => TimestampType
    case _: String => StringType
    case d: BDoc => StructType(d.fields.map { case (k, v2) =>
      StructField(k, bsonType(v2) match {
        case NullType => StringType
        case t => t
      }, nullable = true)
    })
    case s: scala.collection.Seq[_] =>
      val el = s.toSeq.map(bsonType).foldLeft(NullType: DataType)(WireInference.widen)
      ArrayType(if (el == NullType) StringType else el, containsNull = true)
    case _ => StringType
  }

  /** Infer a collection's schema by sampling up to `sampleN` documents
    * through a real `find` (limit rides the command, like any scan). */
  def inferSchema(spec: MongoEndpointSpec, sampleN: Int = 64): StructType = {
    val client = new MongoClientLite(spec.host, spec.port, spec.cfg)
    try {
      val docs = client.find(spec.db, spec.collection, BDoc.empty,
        limit = sampleN, batchSize = sampleN).take(sampleN).toSeq
      if (docs.isEmpty) throw new UndiscoverableTableException(
        s"cannot infer schema: collection ${spec.db}.${spec.collection} is empty")
      WireInference.inferFields(docs.map(_.fields.map {
        case (k, v) => (k, bsonType(v))
      }))
    } finally client.close()
  }

  /** Scan fan-out metadata off the server itself: chunk boundaries over
    * `key` from the splitVector command (the reference derives the same
    * per-worker `$gte/$lt` partitions from declared table partition
    * metadata, planner/sql_master.go:75-98 + sql_to_mgo.go:189-210).
    * None when the server yields no interior points — a single-chunk
    * collection scans as one partition, correctly. */
  def splits(spec: MongoEndpointSpec, key: String,
      chunkBytes: Long): Option[WireSplits] = {
    val client = new MongoClientLite(spec.host, spec.port, spec.cfg)
    try {
      val pts = client.splitVector(spec.db, spec.collection, key, chunkBytes)
      if (pts.isEmpty) None else Some(WireSplits(key, pts))
    } finally client.close()
  }
}

/** Cassandra discovery: system_schema read over the native protocol. */
object CqlDiscovery {

  final case class TableMeta(schema: StructType,
      partitionKeys: Seq[String], clusteringKeys: Seq[String])

  /** CQL string-literal escape for identifiers interpolated into
    * system_schema filters: names come from the server's own listing or
    * user DDL, but discovery should be as quote-scrupulous as the scan
    * path's conjunct splitter — double every single quote. */
  private def q(s: String): String = s.replace("'", "''")

  def listTables(spec: CqlEndpointSpec, keyspace: String = "graft"): Seq[String] = {
    val client = new CqlClientLite(spec.host, spec.port, spec.cfg)
    try client.query(
      s"SELECT table_name FROM system_schema.tables WHERE keyspace_name = '${q(keyspace)}'")
      .map { case (cols, row) => CqlWire.decodeValue(row(0), cols(0)._2).toString }
      .toSeq
    finally client.close()
  }

  private val ListRx = """(?i)\s*(?:list|set)\s*<\s*([^>]+)\s*>\s*""".r
  private val MapRx = """(?i)\s*map\s*<\s*([^,>]+)\s*,\s*([^>]+)\s*>\s*""".r

  private def sparkType(cql: String): DataType = cql match {
    case "bigint" => LongType
    case "int" => IntegerType
    case "smallint" => ShortType
    case "double" => DoubleType
    case "float" => FloatType
    case "boolean" => BooleanType
    case "timestamp" => TimestampType
    // collection types rebuild like the reference's TableMetadata arms
    // (cassandra/source.go:202-255): list/set<x> -> array, map -> map
    case ListRx(et) => ArrayType(sparkType(et.trim), containsNull = true)
    case MapRx(kt, vt) =>
      MapType(sparkType(kt.trim), sparkType(vt.trim), valueContainsNull = true)
    case _ => StringType // text / varchar / anything unmapped
  }

  /** Table schema + key structure from system_schema.columns: column
    * order is the server's declared order; partition/clustering key
    * lists rebuild from (kind, position). */
  def tableMeta(spec: CqlEndpointSpec, table: String,
      keyspace: String = "graft"): TableMeta = {
    val client = new CqlClientLite(spec.host, spec.port, spec.cfg)
    try {
      val rows = client.query(
        s"SELECT column_name, kind, position, type FROM system_schema.columns " +
          s"WHERE keyspace_name = '${q(keyspace)}' AND table_name = '${q(table)}'")
        .map { case (cols, row) =>
          (CqlWire.decodeValue(row(0), cols(0)._2).toString,
            CqlWire.decodeValue(row(1), cols(1)._2).toString,
            CqlWire.decodeValue(row(2), cols(2)._2).asInstanceOf[Number].intValue(),
            CqlWire.decodeValue(row(3), cols(3)._2).toString)
        }.toSeq
      require(rows.nonEmpty, s"no columns in system_schema for table $table")
      TableMeta(
        schema = StructType(rows.map { case (n, _, _, t) =>
          StructField(n, sparkType(t), nullable = true)
        }),
        partitionKeys = rows.filter(_._2 == "partition_key").sortBy(_._3).map(_._1),
        clusteringKeys = rows.filter(_._2 == "clustering").sortBy(_._3).map(_._1))
    } finally client.close()
  }
}

/** BigTable discovery: cell-value scanning with type detection. */
object BtDiscovery {

  /** Tables (and each one's row-key qualifier) from the admin-shaped
    * tables.list. Real BigTable row keys are positional; the qualifier
    * mapping is connector metadata the fixture exports in the listing. */
  def listTables(baseUrl: String, cfg: WireClientConfig = WireClientConfig())
      : Seq[(String, String)] = {
    val client = new HttpRestClient(baseUrl, cfg)
    EsDsl.M.readTree(client.get("/bt/", Map.empty))
      .path("tables").elements().asScala.toSeq
      .map(t => (t.path("name").asText(), t.path("rowKey").asText()))
  }

  /** Guess a table's schema from one sampled `:readRows` page: each
    * qualifier's cells run through the same text-cell widen lattice as
    * file inference (long/double/boolean/timestamp/date detection, the
    * reference's cell switch, bigtable/source.go:193-251); conflicts
    * degrade to string. Qualifier order is first-seen. */
  def inferSchema(spec: BtEndpointSpec): StructType = {
    val client = new HttpRestClient(spec.baseUrl, spec.cfg)
    val resp = EsDsl.M.readTree(
      client.postJson(s"/bt/${spec.table}:readRows", "{}"))
    val rows = resp.path("rows").elements().asScala.toSeq
    if (rows.isEmpty) throw new UndiscoverableTableException(
      s"cannot infer schema: table ${spec.table} is empty")
    val cells = mutable.LinkedHashMap.empty[String, mutable.Buffer[String]]
    rows.foreach { r =>
      r.path("cells").properties().asScala.foreach { e =>
        cells.getOrElseUpdate(e.getKey, mutable.Buffer.empty) +=
          BtQuery.unb64(e.getValue.asText())
      }
    }
    StructType(cells.toSeq.map { case (q, vs) =>
      StructField(q, LineCodec.inferColumn(vs.toSeq), nullable = true)
    })
  }
}

/** Datastore discovery: typed entity-value sampling via `:runQuery`. */
object DsDiscovery {

  /** Kinds (and each one's key property) from the `__kind__` pseudo-kind
    * (the real service's metadata query). Real DS keys ride entity.key;
    * which property models the key is connector metadata the fixture
    * exports as `keyProperty`. */
  def listKinds(baseUrl: String, cfg: WireClientConfig = WireClientConfig())
      : Seq[(String, String)] = {
    val client = new HttpRestClient(baseUrl, cfg)
    val resp = EsDsl.M.readTree(
      client.postJson("/ds/__kind__:runQuery", """{"query":{}}"""))
    resp.path("batch").path("entityResults").elements().asScala.toSeq.map { e =>
      val ent = e.path("entity")
      (ent.path("key").path("path").elements().asScala.toSeq.head
        .path("name").asText(),
        ent.path("properties").path("keyProperty").path("stringValue").asText())
    }
  }

  def inferSchema(spec: DsEndpointSpec, sampleN: Int = 64): StructType = {
    val client = new HttpRestClient(spec.baseUrl, spec.cfg)
    val resp = EsDsl.M.readTree(client.postJson(
      s"/ds/${spec.kind}:runQuery", s"""{"query":{"limit":$sampleN}}"""))
    val ents = resp.path("batch").path("entityResults").elements().asScala.toSeq
    if (ents.isEmpty) throw new UndiscoverableTableException(
      s"cannot infer schema: kind ${spec.kind} is empty")
    WireInference.inferFields(ents.map { e =>
      e.path("entity").path("properties").properties().asScala.toSeq.map { p =>
        val v = p.getValue
        val dt: DataType =
          if (v.has("integerValue")) LongType // DS integers are int64
          else if (v.has("doubleValue")) DoubleType
          else if (v.has("booleanValue")) BooleanType
          else if (v.has("timestampValue")) TimestampType
          else if (v.has("stringValue")) StringType
          else NullType
        (p.getKey, dt)
      }
    })
  }
}

/** REST discovery: the catalog route a Lytics-shaped listing API serves
  * (`GET /t/` answers one JSON document per listing with its name and
  * declared filterable params). The reference registers its Lytics
  * backend through the same config/CREATE-source flow as every wire
  * backend (`models/config.go:34-49`), and the filterable surface is the
  * API's declared query params (`lytics/generator.go:96-111`) — so
  * discovery here yields both the table list and each table's pushdown
  * accept-list; schemas live-sample through the same widen lattice as
  * Mongo ([[RestEndpoints.registerSampled]]). */
object RestDiscovery {

  /** (listing name, declared filterable params, accepts filterql) per
    * API — `filterql: true` in a catalog entry advertises the SegmentQL
    * ad-hoc filter-statement capability (the Lytics segment-scan shape),
    * which upgrades pushdown from param equalities to full WHERE-tree
    * compilation. */
  def listApis(client: HttpRestClient): Seq[(String, Set[String], Boolean)] = {
    val body = client.get("/t/", Map.empty)
    body.linesIterator.filter(_.trim.nonEmpty).map { line =>
      val n = EsDsl.M.readTree(line)
      val name = Option(n.get("name")).map(_.asText()).getOrElse(
        throw new IllegalArgumentException(s"REST listing entry without name: $line"))
      val params = Option(n.get("params")).map(
        _.elements().asScala.map(_.asText().toLowerCase).toSet).getOrElse(Set.empty)
      val filterQl = Option(n.get("filterql")).exists(_.asBoolean(false))
      (name, params, filterQl)
    }.toSeq
  }
}

/** A runtime-registered WIRE source: protocol name + connection props
  * (the reference's `CREATE source ... WITH {json}` registration,
  * models/serverctx.go:136-188 — a backend registers and its tables
  * APPEAR, schemas discovered rather than declared). */
final case class WireSourceDef(name: String, protocol: String,
    props: Map[String, String]) {
  def prop(k: String): String = props.getOrElse(k,
    throw new IllegalArgumentException(
      s"CREATE SOURCE $name: protocol '$protocol' requires \"$k\""))
  def intProp(k: String, default: Int): Int =
    props.get(k).map(_.trim.toInt).getOrElse(default)
}

/** Registry + discovery composition for wire sources created at runtime:
  * `SHOW TABLES` lists LIVE off the backend's own discovery surface, and
  * a table resolved for the first time lazily discovers its schema and
  * registers the endpoint — point the engine at an existing cluster and
  * query, no schema ever written (the reference's §1.1 identity).
  *
  * 100 TB: all calls here are driver-side metadata round-trips (one
  * listing document, one mapping/sample per table, once); scans never
  * touch this registry. */
object WireSources {

  /** Protocols with a live discovery surface (listing + schema). */
  val Protocols: Set[String] =
    Set("es", "mongo", "cassandra", "bigquery", "datastore", "bigtable",
      "kube", "rest")

  private val defs = TrieMap.empty[String, WireSourceDef]

  /** Parse EVERY connection prop at registration: a malformed value
    * (fanout "four", missing url) must fail the CREATE SOURCE statement
    * itself, even when the backend currently lists zero tables — never
    * surface later at some table's first resolution. */
  private def validate(d: WireSourceDef): Unit = {
    d.intProp("page_size", 512)
    d.protocol match {
      case "es" =>
        d.prop("url"); d.intProp("fanout", 1)
        // paging: "pit" (default; deep-pagination, retry-safe) or
        // "scroll" (the legacy arm for pre-7.10 clusters, which reject
        // POST /{index}/_pit) — anything else is a config error HERE.
        // One whitelist, shared with EsEndpointSpec's construction check.
        val pg = d.props.getOrElse("paging", EsEndpointSpec.DefaultPaging)
        if (!EsEndpointSpec.PagingModes.contains(pg))
          throw new IllegalArgumentException(
            s"paging must be one of ${EsEndpointSpec.PagingModes.mkString("'", "'/'", "'")}, got '$pg'")
      case "bigtable" | "rest" => d.prop("url"); d.intProp("fanout", 1)
      case "bigquery" | "datastore" | "kube" => d.prop("url")
      case "mongo" =>
        d.prop("host"); d.intProp("port", 27017); d.intProp("fanout", 0)
        // split props parse HERE (a bad chunk size must fail the
        // statement, not some table's first discovery)
        d.props.get("split_chunk_bytes").foreach { v =>
          if (v.trim.toLong <= 0) throw new IllegalArgumentException(
            "split_chunk_bytes must be positive")
        }
      case "cassandra" =>
        d.prop("host"); d.intProp("port", 9042); d.intProp("fanout", 1)
      case other =>
        throw new IllegalArgumentException(s"unknown protocol $other")
    }
  }

  def register(d: WireSourceDef): Unit = {
    validate(d)
    defs.put(d.name, d)
  }
  def get(name: String): Option[WireSourceDef] = defs.get(name)
  def drop(name: String): Unit = {
    defs.remove(name)
    WireEndpoints.dropSource(name)
  }

  /** LIVE table listing over the protocol's discovery surface — a
    * `SHOW TABLES` against the source reflects the backend's current
    * state, not a registration snapshot. An optional `tables_to_load`
    * prop (comma-separated) restricts the namespace to the named
    * tables — the reference's `Conf.TablesToLoad` filter
    * (elasticsearch/source.go:134-146). */
  def listTables(d: WireSourceDef): Seq[String] = {
    val all = listAll(d)
    d.props.get("tables_to_load") match {
      case None => all
      case Some(keep) =>
        val set = keep.split(',').map(_.trim.toLowerCase).filter(_.nonEmpty).toSet
        all.filter(t => set.contains(t.toLowerCase))
    }
  }

  private def listAll(d: WireSourceDef): Seq[String] = d.protocol match {
    case "es" =>
      EsDiscovery.listIndices(new HttpRestClient(d.prop("url"), clientCfg(d)))
    case "mongo" => MongoDiscovery.listCollections(mongoSpec(d, ""))
    case "cassandra" =>
      CqlDiscovery.listTables(cqlSpec(d, ""), d.props.getOrElse("keyspace", "graft"))
    case "bigquery" => BqDiscovery.listTables(d.prop("url"), clientCfg(d))
    case "datastore" => DsDiscovery.listKinds(d.prop("url"), clientCfg(d)).map(_._1)
    case "bigtable" => BtDiscovery.listTables(d.prop("url"), clientCfg(d)).map(_._1)
    case "kube" => KubeTables.All.keys.toSeq.sorted // fixed typed surface
      // (url validated at registration like every connection prop)
    case "rest" =>
      RestDiscovery.listApis(new HttpRestClient(d.prop("url"), clientCfg(d)))
        .map(_._1)
    case other => throw new IllegalArgumentException(s"unknown protocol $other")
  }

  /** Discover `table`'s schema off the wire and register its endpoint.
    * Returns false when the backend doesn't have the table (or
    * `tables_to_load` excludes it — a filtered-out table never lazily
    * registers through resolution either). */
  def discover(d: WireSourceDef, table: String): Boolean = {
    if (!listTables(d).exists(_.equalsIgnoreCase(table))) return false
    d.protocol match {
      case "es" =>
        val client = new HttpRestClient(d.prop("url"), clientCfg(d))
        val meta = EsDiscovery.mappingMeta(client, table)
        WireEndpoints.register(EsEndpoint(d.name, table, meta.schema,
          EsEndpointSpec(d.prop("url"), table, clientCfg(d),
            slices = d.intProp("fanout", 1),
            paging = d.props.getOrElse("paging", EsEndpointSpec.DefaultPaging)),
          analyzed = meta.analyzed))
      case "mongo" =>
        val spec = mongoSpec(d, table)
        val schema = MongoDiscovery.inferSchema(spec)
        // scan fan-out needs split metadata: the split KEY is declared
        // per-source (the reference's config declares partition columns
        // the same way, models/config.go partitionct/partitions), and the
        // chunk BOUNDARIES come off the server's own splitVector command
        val splits = mongoSplitKey(d, table, schema).flatMap(k =>
          MongoDiscovery.splits(spec, k,
            d.props.get("split_chunk_bytes").map(_.trim.toLong)
              .getOrElse(64L * 1024 * 1024)))
          // a declared fanout right-sizes the DEFAULT partition count
          // (one per server chunk otherwise); node_ct still overrides
          .map(ws => d.props.get("fanout").map(_.trim.toInt) match {
            case Some(n) if n > 0 =>
              ws.copy(points = WireFanout.thin(ws.points.toIndexedSeq, n))
            case _ => ws
          })
        WireEndpoints.register(MongoEndpoint(d.name, table, schema, spec,
          splits = splits))
      case "cassandra" =>
        val ks = d.props.getOrElse("keyspace", "graft")
        val spec = cqlSpec(d, table)
        val meta = CqlDiscovery.tableMeta(spec, table, ks)
        WireEndpoints.register(CqlEndpoint(d.name, table, meta.schema,
          meta.partitionKeys, meta.clusteringKeys, spec,
          fanout = d.intProp("fanout", 1)))
      case "bigquery" =>
        val spec = BqEndpointSpec(d.prop("url"), table, clientCfg(d))
        WireEndpoints.register(BqEndpoint(d.name, table,
          BqDiscovery.tableSchema(spec), spec))
      case "datastore" =>
        val keyProp = DsDiscovery.listKinds(d.prop("url"), clientCfg(d))
          .find(_._1.equalsIgnoreCase(table)).map(_._2).getOrElse("")
        val spec = DsEndpointSpec(d.prop("url"), table.toLowerCase, clientCfg(d))
        WireEndpoints.register(DsEndpoint(d.name, table.toLowerCase,
          DsDiscovery.inferSchema(spec), spec,
          keyCol = Some(keyProp).filter(_.nonEmpty)))
      case "bigtable" =>
        val rowKey = BtDiscovery.listTables(d.prop("url"), clientCfg(d))
          .find(_._1.equalsIgnoreCase(table)).map(_._2)
          .getOrElse(throw new IllegalStateException(s"listed BT table $table vanished"))
        val spec = BtEndpointSpec(d.prop("url"), table.toLowerCase, rowKey, clientCfg(d))
        WireEndpoints.register(BtEndpoint(d.name, table.toLowerCase,
          BtDiscovery.inferSchema(spec), rowKey, spec,
          fanout = d.intProp("fanout", 1)))
      case "kube" =>
        WireEndpoints.register(KubeEndpoint(d.name, table.toLowerCase,
          KubeEndpointSpec(d.prop("url"), table.toLowerCase, clientCfg(d))))
      case "rest" =>
        val client = new HttpRestClient(d.prop("url"), clientCfg(d))
        val api = RestDiscovery.listApis(client)
          .find(_._1.equalsIgnoreCase(table))
        val params = api.map(_._2).getOrElse(Set.empty)
        val filterQl = api.exists(_._3)
        val path = s"/t/${table.toLowerCase}"
        // schema live-samples the listing — an empty listing has nothing
        // to sample yet and stays lazily discoverable, like Mongo
        if (!client.pagedLines(path, Map("limit" -> "1")).hasNext)
          throw new UndiscoverableTableException(
            s"empty REST listing $table: no documents to sample")
        RestEndpoints.registerHttp(d.name, table.toLowerCase, params, client,
          path, schema = None, slices = d.intProp("fanout", 1),
          filterQl = filterQl)
      case other => throw new IllegalArgumentException(s"unknown protocol $other")
    }
    true
  }

  /** Eager composition at CREATE SOURCE: list + discover every table.
    * ONLY a not-yet-discoverable table (empty — nothing to sample) is
    * skipped: it still lists live, and its first resolution re-attempts
    * discovery and surfaces the sampling error loudly. Config errors
    * (bad fanout value, missing url) and backend failures propagate —
    * a misconfigured CREATE SOURCE must fail AT the statement, not
    * produce a silently-empty source. */
  def discoverAll(d: WireSourceDef): Seq[String] = {
    val tables = listTables(d)
    tables.filter(t =>
      try discover(d, t)
      catch { case _: UndiscoverableTableException => false })
  }

  /** Resolve the declared split key for a Mongo collection: the
    * `split_key` prop is a comma-separated list of `collection:field`
    * entries; a bare `field` entry applies to every collection carrying
    * that field. A key not present in the discovered schema is ignored
    * (the collection scans single-partition rather than failing). */
  private def mongoSplitKey(d: WireSourceDef, table: String,
      schema: StructType): Option[String] =
    d.props.get("split_key").flatMap { raw =>
      val entries = raw.split(',').map(_.trim).filter(_.nonEmpty)
      val specific = entries.collectFirst {
        case e if e.contains(":") &&
            e.split(":", 2)(0).trim.equalsIgnoreCase(table) =>
          e.split(":", 2)(1).trim
      }
      specific.orElse(entries.find(!_.contains(":")))
        .filter(k => schema.fieldNames.exists(_.equalsIgnoreCase(k)))
    }

  /** The one client config of every protocol: `page_size` rows a page. */
  private def clientCfg(d: WireSourceDef) =
    WireClientConfig(pageSize = d.intProp("page_size", 512))
  private def mongoSpec(d: WireSourceDef, coll: String) =
    MongoEndpointSpec(d.prop("host"), d.intProp("port", 27017),
      d.props.getOrElse("db", "graft"), coll, clientCfg(d))
  private def cqlSpec(d: WireSourceDef, table: String) =
    CqlEndpointSpec(d.prop("host"), d.intProp("port", 9042), table, clientCfg(d))
}

/** BigQuery discovery: the tables.get schema resource. */
object BqDiscovery {

  /** Table ids from the tables.list resource. */
  def listTables(baseUrl: String, cfg: WireClientConfig = WireClientConfig())
      : Seq[String] = {
    val client = new HttpRestClient(baseUrl, cfg)
    EsDsl.M.readTree(client.get("/bq/", Map.empty))
      .path("tables").elements().asScala.toSeq
      .map(_.path("tableReference").path("tableId").asText())
  }

  def tableSchema(spec: BqEndpointSpec): StructType = {
    val client = new HttpRestClient(spec.baseUrl, spec.cfg)
    val resp = EsDsl.M.readTree(client.get(s"/bq/${spec.table}", Map.empty))
    val fields = resp.path("schema").path("fields")
    require(fields.isArray && fields.size() > 0,
      s"no schema fields for table ${spec.table}")
    StructType(fields.elements().asScala.toSeq.map { f =>
      val dt: DataType = f.path("type").asText("") match {
        case "INTEGER" => LongType // BQ has only INT64
        case "FLOAT" => DoubleType // ... and FLOAT64
        case "BOOLEAN" => BooleanType
        case "TIMESTAMP" => TimestampType
        case _ => StringType
      }
      StructField(f.path("name").asText(), dt, nullable = true)
    })
  }
}
