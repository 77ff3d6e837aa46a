package graft.sources

import java.util

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** REST-shaped source behind the same DSv2 Table/ScanBuilder contract as
  * the file connector — the connector framework is not file-bound.
  *
  * Reference: the Lytics backend compiles the WHERE expression tree into
  * a FilterStatement and ships its rendered text to the ad-hoc
  * segment-scan API (dataux backends/lytics/generator.go:96-111 +
  * resultreader.go PageAdHocSegment); the Kubernetes backend is the
  * param-selector shape over the K8s REST API
  * (backends/_kube/sql_to_kube.go). Both API shapes live here:
  *   - `filterQl` endpoints compile accepted conjuncts into ONE SegmentQL
  *     statement ([[SegmentQl]]) — ranges, IN lists, LIKE, OR/NOT trees —
  *     carried as the `filterql` query param;
  *   - plain endpoints push `param = literal` equalities from the
  *     declared accept-list, because a bare URL query string cannot
  *     express more.
  * Whatever can't ship is declined and polyfilled by Spark — the
  * residual contract either way; an integer `limit` rides as a param.
  *
  * THE NETWORK SEAM: `RestEndpoint.handler` (params ⇒ line iterator) is
  * the exact surface a real client implements — an HTTP GET with the
  * params as the query string, plus pagination/scroll (yield across
  * pages) and retry inside the iterator. Nothing above the handler
  * changes: the accept-list, pushdown-to-params compilation, schema
  * sampling, projection and residual polyfill are client-agnostic. The
  * same seam pattern applies to the file connector's accept profiles
  * (`FileScan`): a real ES/Mongo/Cassandra deployment compiles the
  * accepted `Filter[]` to the native query instead of evaluating it
  * against local files — the pushdown DECISION logic, which is what the
  * reference's per-backend translators encode, is already here.
  * Responses are JSON lines decoded by the same [[JsonCodec]] as the file
  * source.
  */
/** Serializable pointer to an HTTP-backed endpoint: enough for an
  * EXECUTOR in its own JVM to construct a client and fetch pages without
  * the driver's in-memory registry (the registry lookup only works when
  * executors share the driver JVM — local mode). */
final case class HttpEndpointSpec(baseUrl: String, path: String, cfg: WireClientConfig)

final case class RestEndpoint(
    source: String,
    table: String,
    schema: StructType,
    params: Set[String],
    handler: Map[String, String] => Iterator[String],
    httpSpec: Option[HttpEndpointSpec] = None,
    // default scan fan-out: N partitions read the listing in parallel
    // via strided from/size paging (HTTP-backed endpoints only — an
    // in-memory handler has no offset vocabulary to shard on)
    slices: Int = 1,
    // the API accepts a SegmentQL filter statement (the reference's
    // Lytics ad-hoc segment scan): WHERE trees compile to a `filterql`
    // query param instead of the param-equality accept-list
    filterQl: Boolean = false) extends WireEndpoint {
  def newTable(): Table = new RestTable(this)
}

/** REST endpoint constructors; each registers into [[WireEndpoints]]. */
object RestEndpoints {

  /** Runtime schema inference by sampling the live endpoint (reference:
    * the Mongo backend guesses a table's schema from N sampled documents,
    * backends/mongo/mgo_source.go:269-311): pull up to `sampleN` rows
    * through the handler (shipping the limit as an API param, like any
    * scan) and promote the sampled shapes through the same widen lattice
    * as cross-file inference (JsonCodec.inferSchema → LineCodec
    * inferColumn) — a `42` in one document and a `4.2` in another surface
    * as one double column; a field present in only some documents is
    * nullable; mixed scalars fall back to string. */
  def registerSampled(
      source: String, table: String, params: Set[String],
      handler: Map[String, String] => Iterator[String],
      sampleN: Int = 64): RestEndpoint = {
    val sample = handler(Map("limit" -> sampleN.toString)).take(sampleN).toSeq
    require(sample.nonEmpty,
      s"cannot infer schema: endpoint $source/$table returned no documents")
    val schema = JsonCodec.inferSchema(new java.io.BufferedReader(
      new java.io.StringReader(sample.mkString("\n"))))
    val e = RestEndpoint(source, table, schema, params.map(_.toLowerCase), handler)
    WireEndpoints.register(e)
    e
  }

  /** Endpoint backed by a REAL network client: every scan (and the
    * schema sample, via [[registerSampled]]) round-trips HTTP over a
    * socket — compiled params become the query string, pages stream back
    * as JSON lines ([[HttpRestClient.pagedLines]]). With a declared
    * schema the endpoint registers directly (the ES-mappings shape);
    * without one it live-samples the endpoint. */
  def registerHttp(
      source: String, table: String, params: Set[String],
      client: HttpRestClient, path: String,
      schema: Option[StructType] = None, slices: Int = 1,
      filterQl: Boolean = false): RestEndpoint = {
    val handler: Map[String, String] => Iterator[String] =
      q => client.pagedLines(path, q)
    val spec = Some(HttpEndpointSpec(client.baseUrl, path, client.cfg))
    schema match {
      case Some(sch) =>
        val e = RestEndpoint(source, table, sch, params.map(_.toLowerCase), handler,
          spec, slices, filterQl)
        WireEndpoints.register(e); e
      case None =>
        val e = registerSampled(source, table, params, handler)
          .copy(httpSpec = spec, slices = slices, filterQl = filterQl)
        WireEndpoints.register(e); e
    }
  }

  /** Stub endpoint over in-memory documents: applies equality params with
    * the declared column types, honors an integer `limit` param, and
    * renders JSON lines — the behavior of a filtered REST listing API
    * (the reference's Lytics segment scan). `rows` are external-typed and
    * metadata-sized (a dimension/config listing, never a fact table). */
  def registerStatic(
      source: String, table: String, schema: StructType,
      params: Set[String], rows: Seq[Array[Any]]): Unit = {
    val paramsLc = params.map(_.toLowerCase)
    val handler: Map[String, String] => Iterator[String] = { query =>
      val limit = query.get("limit").map(_.toInt)
      var out = rows.iterator.filter { row =>
        query.forall { case (k, v) =>
          k == "limit" || {
            val i = schema.fieldNames.indexWhere(_.equalsIgnoreCase(k))
            i >= 0 && row(i) != null &&
              FilterEval.cmp(row(i), LineCodec.parse(v, schema.fields(i).dataType))
                .contains(0)
          }
        }
      }
      limit.foreach(n => out = out.take(n))
      out.map { row =>
        val w = new java.io.StringWriter()
        JsonCodec.write(w, row, schema)
        w.toString.stripLineEnd
      }
    }
    WireEndpoints.register(RestEndpoint(source, table, schema, paramsLc, handler))
  }
}

class RestTable(val endpoint: RestEndpoint) extends Table with SupportsRead
  with WireScanTable {

  override def name(): String =
    s"${SourceRegistry.CatalogName}.${endpoint.source}.${endpoint.table}"

  override def schema(): StructType = endpoint.schema

  override def capabilities(): util.Set[TableCapability] =
    util.Set.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new RestScanBuilder(endpoint, WireFanout.hintFrom(options))
}

class RestScanBuilder(ep: RestEndpoint, hint: Option[Int] = None) extends ScanBuilder
  with PushedFilter
  with SupportsPushDownRequiredColumns
  with SupportsPushDownLimit {

  private var required: StructType = ep.schema
  private var limit: Int = -1

  /** Accept-list. Two API shapes:
    *   - filterQl endpoints (the reference's Lytics ad-hoc segment scan,
    *     generator.go:96-111 + resultreader.go PageAdHocSegment): every
    *     conjunct the SegmentQL dialect can render ships as ONE
    *     `filterql` statement — ranges, IN, LIKE, OR/NOT trees included;
    *   - plain param endpoints: only `param = literal`, because a URL
    *     query string cannot express more.
    * Either way, what can't ship is declined and Spark polyfills. */
  override protected def acceptFilters(filters: Array[Filter]): collection.Seq[Filter] =
    if (ep.filterQl) filters.filter(f => SegmentQl.compile(f).isDefined)
    else filters.filter {
      case EqualTo(a, v) => v != null && ep.params.contains(a.toLowerCase)
      case _ => false
    }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** `limit` rides as an API param; partial (Spark trims again) — a real
    * API may cap page sizes below the requested limit. */
  override def pushLimit(n: Int): Boolean = { limit = n; true }
  override def isPartiallyPushed(): Boolean = true

  override def build(): Scan = {
    val filterParams =
      if (ep.filterQl)
        if (pushed.isEmpty) Map.empty[String, String]
        else Map("filterql" -> SegmentQl.render(pushed.toSeq.flatMap(SegmentQl.compile)))
      else pushed.collect {
        case EqualTo(a, v) => a.toLowerCase -> LineCodec.render(v)
      }.toMap
    val queryParams = filterParams ++
      (if (limit >= 0) Map("limit" -> limit.toString) else Map.empty)
    new RestScan(ep.source, ep.table, queryParams, ep.schema, required, pushed,
      ep.httpSpec, ep.slices, hint)
  }
}

class RestScan(
    source: String, table: String, params: Map[String, String],
    fullSchema: StructType, required: StructType,
    pushed: Array[Filter], httpSpec: Option[HttpEndpointSpec] = None,
    defaultSlices: Int = 1, hint: Option[Int] = None)
  extends Scan with Batch {

  override def readSchema(): StructType = required

  override def description(): String =
    s"GraftRestScan endpoint=$source/$table " +
      s"params={${params.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(", ")}} " +
      s"PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${required.catalogString}"

  override def toBatch: Batch = this

  /** N partitions via strided from/size paging (the reference treats
    * Lytics as a paged entity scan; slicing shards it the same way ES
    * from/size does) — HTTP-backed endpoints only: an in-memory handler
    * has no offset vocabulary, so it stays one stream. */
  override def planInputPartitions(): Array[InputPartition] = {
    val n = if (httpSpec.isDefined) WireFanout.effective(defaultSlices, hint) else 1
    if (n <= 1)
      Array(RestPartition(source, table, params, fullSchema.json, required.json, httpSpec))
    else (0 until n).toArray.map(i =>
      RestPartition(source, table, params, fullSchema.json, required.json,
        httpSpec, slice = i, slices = n))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new RestReaderFactory
}

final case class RestPartition(
    source: String, table: String, params: Map[String, String],
    fullSchemaJson: String, requiredSchemaJson: String,
    httpSpec: Option[HttpEndpointSpec] = None,
    slice: Int = 0, slices: Int = 1) extends InputPartition

class RestReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[RestPartition]
    val full = DataType.fromJson(p.fullSchemaJson).asInstanceOf[StructType]
    val required = DataType.fromJson(p.requiredSchemaJson).asInstanceOf[StructType]
    // a sliced partition MUST page over the socket (the stride rides in
    // from/size requests); an unsliced one prefers the driver-registry
    // handler (local mode), falling back to rebuilding an HTTP client
    // from the partition's serialized spec in a separate executor JVM
    val handler: Map[String, String] => Iterator[String] =
      if (p.slices > 1) {
        val spec = p.httpSpec.getOrElse(throw new IllegalStateException(
          s"sliced REST partition for ${p.source}/${p.table} without an HTTP spec"))
        val client = new HttpRestClient(spec.baseUrl, spec.cfg)
        (q: Map[String, String]) =>
          client.pagedLinesSliced(spec.path, q, p.slice, p.slices)
      } else WireEndpoints.get(p.source, p.table)
        .collect { case e: RestEndpoint => e.handler }
        .orElse(p.httpSpec.map { spec =>
          val client = new HttpRestClient(spec.baseUrl, spec.cfg)
          (q: Map[String, String]) => client.pagedLines(spec.path, q)
        })
        .getOrElse(throw new IllegalStateException(
          s"no endpoint ${p.source}/${p.table} and no HTTP spec to rebuild one"))
    val outIdx = required.fieldNames.map(n =>
      full.fieldNames.indexWhere(_.equalsIgnoreCase(n)))
    val conv = CatalystTypeConverters.createToCatalystConverter(required)
    // the API returns whole documents; projection happens client-side
    val it = JsonCodec.lineRecords(handler(p.params), full).map { row =>
      conv(Row.fromSeq(outIdx.toSeq.map(i => if (i < 0) null else row(i))))
        .asInstanceOf[InternalRow]
    }
    IteratorReader(it)
  }
}
