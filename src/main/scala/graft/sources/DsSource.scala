package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{NamedReference, NullOrdering, SortDirection, SortOrder}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Datastore-protocol connector: the v1 `runQuery` REST surface with
  * proto-JSON structured queries — the reference compiles WHERE into
  * `datastore.NewQuery(...).Filter("col op", v)` chains and ORDER BY into
  * `.Order` (`backends/datastore/sql_to_datastore.go:70-150,441-493`).
  * Datastore's query model is narrower than SQL and the accept rules
  * mirror it faithfully:
  *
  *   - conjunctions of property filters only — no OR, NOT, IN, LIKE;
  *   - inequality (range) filters on AT MOST ONE property per query
  *     (the classic Datastore restriction): ranges on a second property
  *     decline and polyfill;
  *   - when an inequality property exists, the FIRST sort order must be
  *     that property — otherwise the sort is declined (kept in Spark);
  *   - equality on any property; `IS NULL` pushes as EQUAL NULL_VALUE
  *     (Datastore stores explicit nulls); `IS NOT NULL` has no query
  *     form and declines.
  *
  * The loopback service REFUSES queries violating these rules with the
  * real API's error shape, so the declines are enforced, not chosen.
  */
object DsQuery {

  private val M = EsDsl.M

  // ---- proto-JSON value codec -------------------------------------------

  def valueNode(v: Any): Option[ObjectNode] = {
    val o = M.createObjectNode()
    v match {
      case null => o.put("nullValue", "NULL_VALUE")
      case i: java.lang.Integer => o.put("integerValue", i.toString)
      case l: java.lang.Long => o.put("integerValue", l.toString)
      case s: java.lang.Short => o.put("integerValue", s.toString)
      case d: java.lang.Double => o.put("doubleValue", d.doubleValue())
      case f: java.lang.Float => o.put("doubleValue", f.doubleValue())
      case b: java.lang.Boolean => o.put("booleanValue", b.booleanValue())
      case s: String => o.put("stringValue", s)
      case t: java.sql.Timestamp =>
        o.put("timestampValue", LineCodec.render(t))
      case i: java.time.Instant =>
        o.put("timestampValue", LineCodec.render(java.sql.Timestamp.from(i)))
      case t: java.time.LocalDateTime => // TIMESTAMP_NTZ: UTC wall clock
        o.put("timestampValue", LineCodec.render(
          java.sql.Timestamp.from(t.toInstant(java.time.ZoneOffset.UTC))))
      case _ => return None
    }
    Some(o)
  }

  def valueOf(node: JsonNode, dt: DataType): Any = {
    if (node == null || node.isMissingNode || node.has("nullValue")) return null
    dt match {
      case LongType => node.path("integerValue").asText().toLong: java.lang.Long
      case IntegerType => node.path("integerValue").asText().toInt: java.lang.Integer
      case ShortType => node.path("integerValue").asText().toShort: java.lang.Short
      case DoubleType => node.path("doubleValue").asDouble(): java.lang.Double
      case FloatType => node.path("doubleValue").asDouble().toFloat: java.lang.Float
      case BooleanType => node.path("booleanValue").asBoolean(): java.lang.Boolean
      case StringType => node.path("stringValue").asText()
      case TimestampType =>
        LineCodec.parse(node.path("timestampValue").asText(), TimestampType)
      case TimestampNTZType =>
        java.time.LocalDateTime.ofInstant(
          LineCodec.parse(node.path("timestampValue").asText(), TimestampType)
            .asInstanceOf[java.sql.Timestamp].toInstant,
          java.time.ZoneOffset.UTC)
      case other => throw new IllegalArgumentException(s"no datastore type for $other")
    }
  }

  /** Raw JSON value → external value, for the server side (schema-typed). */
  def valueOfTyped(node: JsonNode, schema: StructType, col: String): Any = {
    val i = schema.fieldNames.indexWhere(_.equalsIgnoreCase(col))
    require(i >= 0, s"unknown property $col")
    valueOf(node, schema.fields(i).dataType)
  }

  // ---- filter compile ----------------------------------------------------

  final case class PropFilter(prop: String, op: String, value: Any)

  /** One Spark filter → one property filter; None = not expressible. */
  def compileOne(f: Filter): Option[PropFilter] = f match {
    case EqualTo(a, v) if v != null =>
      valueNode(v).map(_ => PropFilter(a, "EQUAL", v))
    case GreaterThan(a, v) if v != null =>
      valueNode(v).map(_ => PropFilter(a, "GREATER_THAN", v))
    case GreaterThanOrEqual(a, v) if v != null =>
      valueNode(v).map(_ => PropFilter(a, "GREATER_THAN_OR_EQUAL", v))
    case LessThan(a, v) if v != null =>
      valueNode(v).map(_ => PropFilter(a, "LESS_THAN", v))
    case LessThanOrEqual(a, v) if v != null =>
      valueNode(v).map(_ => PropFilter(a, "LESS_THAN_OR_EQUAL", v))
    case IsNull(a) => Some(PropFilter(a, "EQUAL", null))
    case _ => None
  }

  private def inequality(op: String): Boolean = op != "EQUAL"

  /** Split filters under Datastore's rules: conjunctive property
    * filters, ranges on at most ONE property. */
  def split(filters: Seq[Filter]): (Seq[PropFilter], Seq[Filter]) = {
    val parsed = filters.map(f => f -> compileOne(f))
    // choose the inequality property: the first seen keeps its ranges,
    // ranges on OTHER properties decline
    val ineqProp = parsed.collectFirst {
      case (_, Some(p)) if inequality(p.op) => p.prop.toLowerCase
    }
    val (acc, dec) = parsed.partition {
      case (_, Some(p)) =>
        !inequality(p.op) || ineqProp.contains(p.prop.toLowerCase)
      case (_, None) => false
    }
    (acc.flatMap(_._2), dec.map(_._1))
  }

  def queryJson(kind: String, props: Seq[String], filters: Seq[PropFilter],
      orders: Seq[(String, Boolean)], limit: Int,
      startCursor: String, offset: Int = -1): String = {
    val root = M.createObjectNode()
    val q = root.putObject("query")
    q.putArray("kind").addObject().put("name", kind)
    if (props.nonEmpty) {
      val proj = q.putArray("projection")
      props.foreach(p => proj.addObject().putObject("property").put("name", p))
    }
    if (filters.nonEmpty) {
      val fl = q.putObject("filter")
      def prop(o: ObjectNode, f: PropFilter): Unit = {
        val pf = o.putObject("propertyFilter")
        pf.putObject("property").put("name", f.prop)
        pf.put("op", f.op)
        pf.set[JsonNode]("value", valueNode(f.value).get)
      }
      if (filters.size == 1) prop(fl, filters.head)
      else {
        val comp = fl.putObject("compositeFilter")
        comp.put("op", "AND")
        val arr = comp.putArray("filters")
        filters.foreach(f => prop(arr.addObject(), f))
      }
    }
    if (orders.nonEmpty) {
      val os = q.putArray("order")
      orders.foreach { case (p, desc) =>
        val o = os.addObject()
        o.putObject("property").put("name", p)
        o.put("direction", if (desc) "DESCENDING" else "ASCENDING")
      }
    }
    if (offset > 0) q.put("offset", offset)
    if (limit > 0) q.put("limit", limit)
    if (startCursor.nonEmpty) q.put("startCursor", startCursor)
    root.toString
  }

  /** Datastore's aggregation-query surface (the public
    * `:runAggregationQuery` API): GLOBAL count/sum/avg only — no GROUP
    * BY, no min/max — over a nested structured query, at most
    * [[MaxAggregations]] aggregations per request (the documented cap).
    * Semantic guards mirror the documented behavior:
    *
    *   - `count` counts ENTITIES (SQL count(*)); per-property non-null
    *     counts have no API form — COUNT(col) declines.
    *   - `sum` skips nulls and returns 0 over zero valid values where
    *     SQL SUM is NULL; every sum ships a companion `avg` of the same
    *     property, which IS documented to return NULL over zero valid
    *     values — the reader nulls a 0-companion sum.
    *   - integer `sum` that overflows int64 is documented to degrade to
    *     a double; the reader REFUSES that silently-lossy answer loudly
    *     instead of mis-reporting a long.
    */
  val MaxAggregations = 5

  /** Compile a pushed global aggregate into the aggregation-query body.
    * `aggs`: each pushed COUNT(*), SUM or AVG with the property it reads. */
  def aggregationJson(kind: String, props: Seq[String],
      filters: Seq[PropFilter], aggs: Seq[(AggFn, String)]): String = {
    val root = M.createObjectNode()
    val aq = root.putObject("aggregationQuery")
    val nested = M.readTree(
      queryJson(kind, Nil, filters, Nil, -1, "")).path("query")
    aq.set[JsonNode]("nestedQuery", nested)
    val arr = aq.putArray("aggregations")
    aggs.zipWithIndex.foreach { case ((k, p), i) =>
      def one(alias: String, fn: String, withProp: Boolean): Unit = {
        val a = arr.addObject()
        a.put("alias", alias)
        val f = a.putObject(fn)
        if (withProp) f.putObject("property").put("name", p)
      }
      k match {
        case AggFn.Sum =>
          one(s"agg_$i", "sum", withProp = true)
          one(s"agg_${i}_n", "avg", withProp = true) // NULL ⇔ no valid values
        case AggFn.Avg => one(s"agg_$i", "avg", withProp = true)
        case _ => one(s"agg_$i", "count", withProp = false) // COUNT(*)
      }
    }
    root.toString
  }

  /** Aggregation aliases the pushed functions cost on the wire (sums
    * ride a companion avg). */
  def aliasCount(aggs: Seq[AggDef]): Int =
    aggs.map(a => if (a.fn == AggFn.Sum) 2 else 1).sum

  // ---- server-side validation + evaluation ------------------------------

  /** Execute a runQuery body over registered rows, enforcing the real
    * API's restrictions (single inequality property; first sort = the
    * inequality property). Returns (matched property-subset rows as
    * (name → value), endCursorOffset). */
  def run(body: JsonNode, schema: StructType, rows: Seq[Array[Any]])
      : (Seq[String], Seq[Array[Any]]) = {
    val q = body.path("query")
    def idx(c: String): Int = {
      val k = schema.fieldNames.indexWhere(_.equalsIgnoreCase(c))
      require(k >= 0, s"no matching index property $c")
      k
    }
    // collect property filters
    val fl = q.path("filter")
    val pfs: Seq[(String, String, JsonNode)] =
      if (fl.isMissingNode) Nil
      else if (fl.has("propertyFilter")) {
        val pf = fl.path("propertyFilter")
        Seq((pf.path("property").path("name").asText(),
          pf.path("op").asText(), pf.path("value")))
      } else {
        require(fl.path("compositeFilter").path("op").asText() == "AND",
          "only AND composite filters are supported")
        fl.path("compositeFilter").path("filters").elements().asScala.map { n =>
          val pf = n.path("propertyFilter")
          (pf.path("property").path("name").asText(),
            pf.path("op").asText(), pf.path("value"))
        }.toSeq
      }
    val ineqProps = pfs.collect {
      case (p, op, _) if op != "EQUAL" => p.toLowerCase
    }.distinct
    require(ineqProps.size <= 1,
      s"inequality filter is allowed on only one property, got: ${ineqProps.mkString(", ")}")
    val orders = q.path("order").elements().asScala.map { o =>
      (o.path("property").path("name").asText(),
        o.path("direction").asText("ASCENDING") == "DESCENDING")
    }.toSeq
    if (ineqProps.nonEmpty && orders.nonEmpty)
      require(orders.head._1.equalsIgnoreCase(ineqProps.head),
        s"the first sort property must be the same as the inequality filter " +
          s"property ${ineqProps.head}")

    var matched = rows.filter { r =>
      pfs.forall { case (p, op, vn) =>
        val i = idx(p)
        val v = valueOf(vn, schema.fields(i).dataType)
        if (v == null) op == "EQUAL" && r(i) == null
        else r(i) != null && FilterEval.cmp(r(i), v).exists { c =>
          op match {
            case "EQUAL" => c == 0
            case "LESS_THAN" => c < 0
            case "LESS_THAN_OR_EQUAL" => c <= 0
            case "GREATER_THAN" => c > 0
            case "GREATER_THAN_OR_EQUAL" => c >= 0
            case other => throw new IllegalArgumentException(s"unsupported op $other")
          }
        }
      }
    }
    if (orders.nonEmpty) {
      val keys = orders.map { case (p, desc) => (idx(p), desc) }
      matched = matched.sortWith { (a, b) =>
        var r = 0
        val it = keys.iterator
        while (r == 0 && it.hasNext) {
          val (i, desc) = it.next()
          val c = (a(i), b(i)) match {
            case (null, null) => 0
            case (null, _) => -1 // Datastore: nulls sort lowest
            case (_, null) => 1
            case (x, y) => FilterEval.cmp(x, y).getOrElse(0)
          }
          r = if (desc) -c else c
        }
        r < 0
      }
    }
    // the documented evaluation order: sort, then skip `offset` results,
    // then cap at `limit` (limit counts results AFTER the offset)
    val offset = q.path("offset").asInt(0)
    val skipped = if (offset > 0) matched.drop(offset) else matched
    val limit = q.path("limit").asInt(-1)
    val capped = if (limit > 0) skipped.take(limit) else skipped
    val props = q.path("projection").elements().asScala
      .map(_.path("property").path("name").asText()).toSeq
    val names = if (props.nonEmpty) props else schema.fieldNames.toSeq
    val keep = names.map(idx)
    (names.map(n => schema.fieldNames(idx(n))),
      capped.map(r => keep.map(r(_)).toArray))
  }
}

/** Serializable Datastore endpoint pointer. */
final case class DsEndpointSpec(baseUrl: String, kind: String, cfg: HttpRestConfig)

final case class DsEndpoint(source: String, table: String, schema: StructType,
    spec: DsEndpointSpec, splits: Option[WireSplits] = None,
    keyCol: Option[String] = None) extends WireEndpoint {
  def newTable(): Table = new DsTable(this)
}

class DsTable(val ep: DsEndpoint) extends Table with SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDelete
  with WireScanTable {
  override def name(): String =
    s"${SourceRegistry.CatalogName}.${ep.source}.${ep.table}"
  override def schema(): StructType = ep.schema
  override def capabilities(): util.Set[TableCapability] =
    util.Set.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new DsScanBuilder(ep, WireFanout.hintFrom(options))

  private def keyOrRefuse: String = ep.keyCol.getOrElse(
    throw new IllegalArgumentException(
      s"${ep.table}: writes need a declared key property"))

  /** INSERT INTO: tasks stream `:commit` batches of upsert mutations
    * keyed by the declared key property — Datastore Put semantics, an
    * upsert on the entity key (`sql_to_datastore.go:218-360`). */
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    keyOrRefuse
    new WireBatchWrite(new DsWriterFactory(ep.spec, ep.schema.json))
  }

  /** DELETE FROM ... WHERE: only key equality / IN has a mutation form
    * (the reference's `KeyFromWhere` contract,
    * `sql_to_datastore.go:376-382` — anything else: "Could not delete
    * with that where expression"). Ships ONE `:commit` of delete
    * mutations. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    ep.keyCol.exists(k => filters.forall {
      case EqualTo(a, v) => a.equalsIgnoreCase(k) && v != null &&
        DsQuery.valueNode(v).isDefined // same renderability bar as In
      case In(a, vs) => a.equalsIgnoreCase(k) && vs != null &&
        vs.forall(v => v != null && DsQuery.valueNode(v).isDefined)
      case IsNotNull(a) => a.equalsIgnoreCase(k)
      case _ => false
    }) && filters.exists { // a bare IsNotNull pins no keys: refuse loudly
      case _: EqualTo | _: In => true
      case _ => false
    }
  override def deleteWhere(filters: Array[Filter]): Unit = {
    val key = keyOrRefuse
    // conjunctive filters: INTERSECT the key sets (k = 2 AND k IN (4)
    // is a contradiction and must delete nothing, never the union)
    val keySets = filters.toSeq.collect {
      case EqualTo(_, v) => Set(v)
      case In(_, vs) => vs.toSet
    }
    val keys: Seq[Any] = keySets.reduceOption(_ intersect _)
      .getOrElse(Set.empty[Any]).toSeq
    if (keys.isEmpty) return // provably-empty conjunction: no request
    val M = EsDsl.M
    val body = M.createObjectNode()
    val muts = body.putArray("mutations")
    keys.foreach { k =>
      val path = muts.addObject().putObject("delete").putArray("path")
      val el = path.addObject()
      el.put("kind", ep.spec.kind)
      el.set[com.fasterxml.jackson.databind.JsonNode]("name", DsQuery.valueNode(k).get)
    }
    val client = new HttpRestClient(ep.spec.baseUrl, ep.spec.cfg)
    client.postJson(s"/ds/${ep.spec.kind}:commit", body.toString)
  }
}

class DsWriterFactory(spec: DsEndpointSpec, schemaJson: String)
  extends HttpBatchWriterFactory(spec.baseUrl, spec.cfg, schemaJson) {
  override protected def send(client: HttpRestClient, schema: StructType,
      rows: Seq[org.apache.spark.sql.Row]): Unit = {
    val M = EsDsl.M
    val body = M.createObjectNode()
    val muts = body.putArray("mutations")
    rows.foreach { row =>
      val props = muts.addObject().putObject("upsert").putObject("properties")
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        val v = if (row.isNullAt(i)) null else row.get(i)
        props.set[com.fasterxml.jackson.databind.JsonNode](f.name,
          DsQuery.valueNode(v).getOrElse(throw new java.io.IOException(
            s"value $v has no datastore form")))
      }
    }
    client.postJson(s"/ds/${spec.kind}:commit", body.toString)
  }
}

class DsScanBuilder(ep: DsEndpoint, hint: Option[Int] = None) extends ScanBuilder
  with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns
  with SupportsPushDownLimit
  with SupportsPushDownTopN
  with SupportsPushDownOffset
  with SupportsPushDownAggregates {

  private var accepted: Seq[DsQuery.PropFilter] = Nil
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = ep.schema
  private var limit: Int = -1
  private var skipN: Int = -1
  private var orders: Seq[(String, Boolean)] = Nil
  private var agg: Option[Seq[AggDef]] = None

  /** GLOBAL count(*)/sum/avg translate to ONE `:runAggregationQuery`
    * ([[DsQuery.aggregationJson]] for the semantic guards); Datastore
    * has no GROUP BY, per-property counts, or min/max — those decline
    * and Spark polyfills over the entity scan. */
  private def pushedAgg(
      a: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[Seq[AggDef]] =
    PushedAgg.translate(a, ep.schema, _ => false, {
      case (AggFn.Sum | AggFn.Avg, _) => true
      case _ => false // COUNT(col), COUNT(DISTINCT), MIN/MAX: no API form
    }).map(_._2)
      // the documented per-request aggregation cap (companions included)
      .filter(DsQuery.aliasCount(_) <= DsQuery.MaxAggregations)

  override def supportCompletePushDown(
      a: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    pushedAgg(a).isDefined
  override def pushAggregation(
      a: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    pushedAgg(a) match {
      case Some(s) => agg = Some(s); true
      case None => false
    }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (acc, residual0) = DsQuery.split(filters.toSeq)
    accepted = acc
    // implied IS NOT NULLs on pushed-compared properties are absorbed
    // (Datastore comparisons never match missing/null)
    val compared = acc.filter(_.value != null).map(_.prop.toLowerCase).toSet
    val (implied, residual) = residual0.partition {
      case IsNotNull(a) => compared(a.toLowerCase)
      case _ => false
    }
    pushed = (filters.toSeq.filterNot(residual0.contains) ++ implied).toArray
    residual.toArray
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Will this scan fan out into key-range slices? Must agree EXACTLY
    * with [[DsScan.planInputPartitions]]: when false the scan is one
    * cursor stream and a pushed window (sort+limit+offset in the one
    * runQuery) is exact — FULLY delegated, Spark removes its own
    * Sort/Limit/Offset; when true every slice serves limit per range
    * and the push is partial (Spark re-applies). */
  private def fansOut: Boolean = ep.splits.exists { ws =>
    orders.isEmpty &&
      !accepted.exists(p => p.op != "EQUAL" && !p.prop.equalsIgnoreCase(ws.key)) &&
      !accepted.exists(p => p.prop.equalsIgnoreCase(ws.key) && p.op == "EQUAL") &&
      WireFanout.thin(ws.points.toIndexedSeq,
        WireFanout.effective(ws.points.size + 1, hint)).nonEmpty
  }

  /** The aggregation query has no limit form — an aggregate's one-row
    * (global-only) answer makes LIMIT n≥1 the identity anyway, but the
    * clean contract is to decline and let Spark keep its node. */
  override def pushLimit(n: Int): Boolean =
    if (agg.isDefined) false else { limit = n; true }
  override def isPartiallyPushed(): Boolean = fansOut

  /** OFFSET rides the structured query's `offset` field (documented:
    * results to skip, applied after sort and before `limit` — `limit`
    * counts results AFTER the skip). A pushed offset is FULLY delegated
    * — Spark removes its Offset node — so it is only sound on a
    * single-stream scan: a fanned scan skipping n per range would drop
    * n×slices rows. Spark only pushes offset below a fully-consumed
    * limit, so `limit` already includes the offset here and the wire
    * limit comes back off it in build(). */
  override def pushOffset(n: Int): Boolean =
    if (agg.isDefined || fansOut) false else { skipN = n; true }

  /** First sort key must be the inequality property (Datastore rule). */
  override def pushTopN(so: Array[SortOrder], n: Int): Boolean = {
    if (agg.isDefined) return false // bucket-less one-row answer: no window
    val ks = so.map { o =>
      o.expression() match {
        case nr: NamedReference if nr.fieldNames().length == 1 &&
            ep.schema.fieldNames.exists(_.equalsIgnoreCase(nr.fieldNames()(0))) =>
          val desc = o.direction() == SortDirection.DESCENDING
          val nullsFirst = o.nullOrdering() == NullOrdering.NULLS_FIRST
          // Datastore orders nulls lowest: ASC+NULLS_FIRST / DESC+NULLS_LAST
          if (desc != nullsFirst) Some((nr.fieldNames()(0), desc)) else None
        case _ => None
      }
    }
    if (ks.exists(_.isEmpty)) return false
    val ineq = accepted.collectFirst {
      case p if p.op != "EQUAL" => p.prop.toLowerCase
    }
    val keys = ks.map(_.get).toSeq
    if (ineq.exists(p => !keys.headOption.exists(_._1.equalsIgnoreCase(p))))
      return false // first sort must be the inequality property
    orders = keys
    limit = n
    true
  }

  override def build(): Scan = agg match {
    case Some(aggs) =>
      new DsScan(ep, PushedAgg.outSchema(ep.schema, Nil, aggs),
        DsQuery.aggregationJson(ep.spec.kind, Nil, accepted,
          aggs.map(d => d.fn -> (if (d.col < 0) "" else ep.schema.fields(d.col).name))),
        accepted, Nil, -1, pushed, hint, aggs = aggs)
    case None =>
      val props =
        if (required.fieldNames.sameElements(ep.schema.fieldNames)) Nil
        else required.fieldNames.toSeq
      // Spark pushes limit+offset as one widened limit then the offset;
      // the API's limit counts results AFTER the skip, so it comes off
      val wireLimit = if (skipN > 0 && limit > 0) limit - skipN else limit
      new DsScan(ep, required,
        DsQuery.queryJson(ep.spec.kind, props, accepted, orders, wireLimit,
          "", skipN),
        accepted, orders, wireLimit, pushed, hint)
  }
}

class DsScan(ep: DsEndpoint, required: StructType, queryBody: String,
    accepted: Seq[DsQuery.PropFilter], orders: Seq[(String, Boolean)],
    limit: Int, pushed: Array[Filter], hint: Option[Int] = None,
    aggs: Seq[AggDef] = Nil) extends Scan with Batch {

  override def readSchema(): StructType = required

  override def description(): String =
    s"GraftDsScan endpoint=${ep.source}/${ep.table} query=$queryBody " +
      s"PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${required.catalogString}"

  override def toBatch: Batch = this

  /** Key-range fan-out under Datastore's own constraints: each partition
    * ANDs `key >= lo AND key < hi` property filters into its query (the
    * classic scatter-key sharding recipe every parallel Datastore reader
    * uses). Because the API allows inequality filters on only ONE
    * property, a scan whose pushed filters already range over a
    * different property — or that carries a pushed sort — cannot take
    * range injection and stays a single cursor stream; the loopback
    * service enforces that rule with a 400, so a violation here would
    * fail loudly, not mis-answer. A final partition carries
    * `key EQUAL null` so explicit-null keys survive the range tiling. */
  override def planInputPartitions(): Array[InputPartition] = {
    def single = Array[InputPartition](
      DsPartition(ep.spec, queryBody, required.json, aggs))
    // a global aggregation result is ONE row — never range-tiled
    if (aggs.nonEmpty) return single
    val ws = ep.splits.getOrElse(return single)
    if (orders.nonEmpty) return single
    val foreignIneq = accepted.exists(p =>
      p.op != "EQUAL" && !p.prop.equalsIgnoreCase(ws.key))
    if (foreignIneq) return single
    // an EQUAL on the split key pins the scan: one targeted request
    // (range shards would all be provably empty but one)
    if (accepted.exists(p => p.prop.equalsIgnoreCase(ws.key) && p.op == "EQUAL"))
      return single
    val n = WireFanout.effective(ws.points.size + 1, hint)
    val pts = WireFanout.thin(ws.points.toIndexedSeq, n)
    if (pts.isEmpty) return single
    val props =
      if (required.fieldNames.sameElements(ep.schema.fieldNames)) Nil
      else required.fieldNames.toSeq
    def bodyFor(extra: Seq[DsQuery.PropFilter]) = DsQuery.queryJson(
      ep.spec.kind, props, accepted ++ extra, orders, limit, "")
    val ranges = WireFanout.ranges(pts).map { case (lo, hi) =>
      bodyFor(lo.map(l => DsQuery.PropFilter(ws.key, "GREATER_THAN_OR_EQUAL", l)).toSeq ++
        hi.map(h => DsQuery.PropFilter(ws.key, "LESS_THAN", h)).toSeq)
    }
    // the explicit-null arm is provably empty when an accepted filter
    // already range-restricts the key (3VL: `key < v` never matches
    // null), so skip the wasted request in that case
    val keyRanged = accepted.exists(p =>
      p.prop.equalsIgnoreCase(ws.key) && p.op != "EQUAL")
    val arms =
      if (keyRanged) ranges
      else ranges :+ bodyFor(Seq(DsQuery.PropFilter(ws.key, "EQUAL", null)))
    arms.map(b => DsPartition(ep.spec, b, required.json): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new DsReaderFactory
}

final case class DsPartition(spec: DsEndpointSpec, queryBody: String,
    requiredSchemaJson: String, aggs: Seq[AggDef] = Nil) extends InputPartition

class DsReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[DsPartition]
    val required = DataType.fromJson(p.requiredSchemaJson).asInstanceOf[StructType]
    val client = new HttpRestClient(p.spec.baseUrl, p.spec.cfg)
    if (p.aggs.nonEmpty) return aggReader(p, required, client)
    val conv = CatalystTypeConverters.createToCatalystConverter(required)
    val M = EsDsl.M
    // LOOPBACK CURSOR CONTRACT (ADVICE r15): each continuation re-sends
    // the ORIGINAL query body — including any pushed offset/limit — with
    // only startCursor added, and the loopback interprets the cursor as an
    // index into the post-offset/post-limit result, so the window is never
    // double-applied. Real Datastore applies offset AFTER the cursor; a
    // deployment against the live API must zero the offset and decrement
    // the limit by rows already received on each continuation. Currently
    // latent by construction: the wire limit of every pushed window here
    // is far below the loopback's 300-row batch cap, so a fully-delegated
    // window never spans a continuation.
    val pages: Iterator[Iterator[JsonNode]] = new Iterator[Iterator[JsonNode]] {
      private var cursor = ""
      private var done = false
      override def hasNext: Boolean = !done
      override def next(): Iterator[JsonNode] = {
        val body = M.readTree(p.queryBody).asInstanceOf[ObjectNode]
        val q = body.path("query").asInstanceOf[ObjectNode]
        if (cursor.nonEmpty) q.put("startCursor", cursor)
        val resp = M.readTree(client.postJson(s"/ds/${p.spec.kind}:runQuery", body.toString))
        val batch = resp.path("batch")
        if (batch.path("moreResults").asText() != "NOT_FINISHED") done = true
        else cursor = batch.path("endCursor").asText()
        batch.path("entityResults").elements().asScala
      }
    }
    val it = pages.flatten.map { er =>
      val props = er.path("entity").path("properties")
      conv(Row.fromSeq(required.fields.toSeq.map { f =>
        DsQuery.valueOf(props.path(f.name), f.dataType)
      })).asInstanceOf[InternalRow]
    }
    IteratorReader(it)
  }

  /** One `:runAggregationQuery` round trip → one final row.
    * Documented-semantics decode: a sum's companion avg is NULL exactly
    * when zero valid values contributed (SQL SUM → NULL, not 0); an
    * integer sum answered as a double is the API's documented int64
    * overflow degradation — REFUSED loudly rather than silently lossy. */
  private def aggReader(p: DsPartition, required: StructType,
      client: HttpRestClient): PartitionReader[InternalRow] = {
    val M = EsDsl.M
    val conv = CatalystTypeConverters.createToCatalystConverter(required)
    val resp = M.readTree(client.postJson(
      s"/ds/${p.spec.kind}:runAggregationQuery", p.queryBody))
    val props = resp.path("batch").path("aggregationResults")
      .path(0).path("aggregateProperties")
    val vals: Seq[Any] = p.aggs.zipWithIndex.map { case (d, i) =>
      val v = props.path(s"agg_$i")
      d.fn match {
        case AggFn.Sum =>
          val companionNull = props.path(s"agg_${i}_n").has("nullValue")
          if (companionNull) null
          else if (d.out == LongType) {
            if (v.has("doubleValue"))
              throw new ArithmeticException(
                "Datastore sum overflowed int64 and degraded to a double; " +
                  "refusing the lossy answer")
            v.path("integerValue").asLong(): java.lang.Long
          } else if (v.has("integerValue"))
            v.path("integerValue").asDouble(): java.lang.Double
          else v.path("doubleValue").asDouble(): java.lang.Double
        case AggFn.Avg =>
          if (v.has("nullValue")) null
          else v.path("doubleValue").asDouble(): java.lang.Double
        case _ => v.path("integerValue").asLong(): java.lang.Long // COUNT(*)
      }
    }
    IteratorReader(Iterator.single(conv(Row.fromSeq(vals)).asInstanceOf[InternalRow]))
  }
}
