package graft.sources

import java.util

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import com.sun.net.httpserver.HttpExchange
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Kubernetes-protocol connector: the reference's kube backend exposes
  * pods/nodes/services as TYPED tables built from the API's resource
  * shapes (`backends/_kube/source.go:180-340` describes each table's
  * columns from the v1 API definitions; `sql_to_kube.go` walks WHERE
  * into pushable/polyfill halves). Here each resource is a DSv2 table
  * whose scan issues the real list-API request shape —
  * `GET /api/v1/<resource>?fieldSelector=...&limit=...` — against the
  * loopback API server; responses come back as the API's nested
  * `{items: [{metadata, spec, status}]}` documents and the reader
  * FLATTENS them into the declared columns (the reference's
  * resultreader does the same walk).
  *
  * Pushdown mirrors what the real API accepts:
  *   - equality on the supported fieldSelector keys only —
  *     `metadata.name`, `metadata.namespace`, and for pods
  *     `status.phase` / `spec.nodeName` (the API REJECTS selectors on
  *     other fields with a 400, and the loopback server enforces that,
  *     so a mistranslated pushdown fails loudly);
  *   - LIMIT as the list API's `limit` parameter (partial: the client
  *     may see a shorter page);
  *   - everything else — ranges, OR trees, label lookups inside the
  *     `labels` JSON column — declines and polyfills engine-side,
  *     exactly the reference's split.
  *
  * Resource listings are control-plane metadata (bounded by cluster
  * object count, not data size), so a single-partition scan is the
  * honest shape — there is no key space to shard a list request over.
  */
object KubeTables {

  /** One resource table: its schema plus the section each column lives
    * in on the wire and the fieldSelector surface. */
  final case class KubeResource(resource: String, schema: StructType,
      meta: Seq[String], spec: Seq[String], status: Seq[String],
      fieldSelectors: Map[String, String]) {
    def sectionOf(col: String): String =
      if (meta.exists(_.equalsIgnoreCase(col))) "metadata"
      else if (spec.exists(_.equalsIgnoreCase(col))) "spec"
      else if (status.exists(_.equalsIgnoreCase(col))) "status"
      else "metadata"
  }

  private val metaCols = Seq("name", "namespace", "uid", "labels", "creationtimestamp")

  private def metaFields: Seq[StructField] = Seq(
    StructField("name", StringType), StructField("namespace", StringType),
    StructField("uid", StringType), StructField("labels", StringType),
    StructField("creationtimestamp", TimestampType))

  /** kubernetes.io/docs/api-reference/v1/definitions/#_v1_pod (the
    * reference's describePods column set, trimmed to the scalar core). */
  val Pods: KubeResource = KubeResource("pods",
    StructType(Seq(StructField("kind", StringType)) ++ metaFields ++ Seq(
      StructField("phase", StringType), StructField("hostip", StringType),
      StructField("podip", StringType), StructField("nodename", StringType),
      StructField("restartpolicy", StringType),
      StructField("hostnetwork", BooleanType))),
    meta = metaCols,
    spec = Seq("nodename", "restartpolicy", "hostnetwork"),
    status = Seq("phase", "hostip", "podip"),
    fieldSelectors = Map("metadata.name" -> "name",
      "metadata.namespace" -> "namespace", "status.phase" -> "phase",
      "spec.nodeName" -> "nodename"))

  /** #_v1_node (describeNodes). */
  val Nodes: KubeResource = KubeResource("nodes",
    StructType(Seq(StructField("kind", StringType)) ++ metaFields ++ Seq(
      StructField("unschedulable", BooleanType),
      StructField("podcidr", StringType),
      StructField("architecture", StringType),
      StructField("kubeletversion", StringType))),
    meta = metaCols,
    spec = Seq("unschedulable", "podcidr"),
    status = Seq("architecture", "kubeletversion"),
    fieldSelectors = Map("metadata.name" -> "name"))

  /** #_v1_service (describeServices). */
  val Services: KubeResource = KubeResource("services",
    StructType(Seq(StructField("kind", StringType)) ++ metaFields ++ Seq(
      StructField("clusterip", StringType), StructField("type", StringType),
      StructField("sessionaffinity", StringType),
      StructField("externalname", StringType))),
    meta = metaCols,
    spec = Seq("clusterip", "type", "sessionaffinity", "externalname"),
    status = Nil,
    fieldSelectors = Map("metadata.name" -> "name",
      "metadata.namespace" -> "namespace"))

  val All: Map[String, KubeResource] =
    Seq(Pods, Nodes, Services).map(r => r.resource -> r).toMap
}

/** The loopback API server's resource store + list handler — the
  * stand-in for a real apiserver. Rows are flat (schema-shaped); the
  * handler renders them into the API's nested documents and applies
  * fieldSelector / labelSelector / limit exactly as the service would:
  * unsupported fieldSelector keys answer 400 Bad Request. */
object LoopbackKubeServer {

  private val M = EsDsl.M
  private val store = TrieMap.empty[String, Seq[Array[Any]]]

  /** Seed a resource's objects (fixture-bounded: cluster metadata). */
  def register(resource: String, rows: Seq[Array[Any]]): Unit =
    store.put(resource.toLowerCase, rows)

  def handle(ex: HttpExchange): Unit = try {
    LoopbackRestServer.served.incrementAndGet()
    val path = ex.getRequestURI.getPath.stripPrefix("/k8s/")
    if (!path.startsWith("api/v1/")) { respond(ex, 404, "unknown API group"); return }
    val resource = path.stripPrefix("api/v1/").toLowerCase
    (KubeTables.All.get(resource), store.get(resource)) match {
      case (Some(res), Some(rows)) =>
        val q = parseQuery(ex.getRequestURI.getRawQuery)
        LoopbackRestServer.lastParams.set(q)
        val fieldSel = q.get("fieldSelector").map(parseSelector).getOrElse(Nil)
        val labelSel = q.get("labelSelector").map(parseSelector).getOrElse(Nil)
        // the real API rejects unsupported field selectors outright.
        // (plain if, no return-from-closure: a NonLocalReturnControl
        // would be swallowed by the catch-all below and double-respond)
        val badSel = fieldSel.find(s => !res.fieldSelectors.contains(s._1))
        if (badSel.isDefined) {
          respond(ex, 400,
            s"""{"kind":"Status","code":400,"message":"field label not supported: ${badSel.get._1}"}""")
          return
        }
        val li = res.schema.fieldNames.indexWhere(_.equalsIgnoreCase("labels"))
        val matched = rows.filter { r =>
          fieldSel.forall { case (k, v) =>
            val col = res.fieldSelectors(k)
            val i = res.schema.fieldNames.indexWhere(_.equalsIgnoreCase(col))
            r(i) != null && String.valueOf(r(i)) == v
          } && labelSel.forall { case (k, v) =>
            r(li) != null && {
              val labels = M.readTree(String.valueOf(r(li)))
              labels.path(k).asText("") == v
            }
          }
        }
        // the real API validates query params up front (a malformed
        // `limit` answers 400 with a Status object, never a 500); also
        // note the real list API treats `limit` as a PAGE size paired
        // with a `continue` token — the loopback truncates instead (no
        // continue token), a fixture simplification a future pagination
        // gate must not assume.
        val limitRaw = q.get("limit")
        if (limitRaw.exists(_.toIntOption.isEmpty)) {
          respond(ex, 400,
            s"""{"kind":"Status","code":400,"message":"invalid value for limit: ${limitRaw.get}"}""")
          return
        }
        val limited = limitRaw.flatMap(_.toIntOption) match {
          case Some(n) if n > 0 => matched.take(n)
          case _ => matched
        }
        val resp = M.createObjectNode()
        resp.put("kind", resource.capitalize.stripSuffix("s") + "List")
        resp.put("apiVersion", "v1")
        val items = resp.putArray("items")
        limited.foreach(r => items.add(render(res, r)))
        respond(ex, 200, resp.toString)
      case _ => respond(ex, 404, s"the server could not find the requested resource $resource")
    }
  } catch {
    case e: Throwable => respond(ex, 500, s"server error: $e")
  }

  /** Flat row -> the API's nested {metadata, spec, status} document. */
  private def render(res: KubeTables.KubeResource, r: Array[Any]): ObjectNode = {
    val o = M.createObjectNode()
    res.schema.fields.zipWithIndex.foreach { case (f, i) =>
      if (r(i) != null) {
        val target =
          if (f.name == "kind") o
          else {
            val sec = res.sectionOf(f.name)
            if (o.has(sec)) o.path(sec).asInstanceOf[ObjectNode]
            else o.putObject(sec)
          }
        (f.name, r(i)) match {
          case ("labels", v) => // labels is a JSON object on the wire
            target.set[JsonNode]("labels", M.readTree(String.valueOf(v)))
          case (n, b: java.lang.Boolean) => target.put(n, b.booleanValue())
          case (n, v) => target.put(n, LineCodec.render(v))
        }
      }
    }
    o
  }

  /** Split a selector string on UNESCAPED commas and each term on its
    * first unescaped '=', then unescape — the real API's selector
    * grammar accepts `\,` `\=` `\\` inside values, so an equality on
    * a value containing a comma survives the trip (the client escapes,
    * this is the inverse). */
  private def parseSelector(s: String): Seq[(String, String)] = {
    val terms = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) { cur.append(c).append(s.charAt(i + 1)); i += 2 }
      else if (c == ',') { terms += cur.toString; cur.clear(); i += 1 }
      else { cur.append(c); i += 1 }
    }
    terms += cur.toString
    def unesc(t: String): String = {
      val b = new StringBuilder; var j = 0
      while (j < t.length) {
        if (t.charAt(j) == '\\' && j + 1 < t.length) { b.append(t.charAt(j + 1)); j += 2 }
        else { b.append(t.charAt(j)); j += 1 }
      }
      b.toString
    }
    terms.toSeq.filter(_.nonEmpty).map { term =>
      var j = 0; var cut = -1
      while (j < term.length && cut < 0) {
        if (term.charAt(j) == '\\') j += 2
        else if (term.charAt(j) == '=') cut = j
        else j += 1
      }
      if (cut < 0) (unesc(term).trim, "")
      else (unesc(term.take(cut)).trim, unesc(term.drop(cut + 1)).trim)
    }
  }

  private def parseQuery(raw: String): Map[String, String] =
    LoopbackRestServer.parseQuery(raw)

  private def respond(ex: HttpExchange, code: Int, body: String): Unit =
    LoopbackRestServer.respond(ex, code, body, contentType = "application/json")
}

/** Selector-value escaping shared by the scan description and the
  * reader's request builder. */
private[sources] object KubeSel {
  /** Escape a fieldSelector VALUE the way the real API's selector
    * grammar expects (`\,` `\=` `\\`); keys are plain dotted
    * identifiers and never need escaping. */
  def esc(v: String): String =
    v.replace("\\", "\\\\").replace(",", "\\,").replace("=", "\\=")

  def render(selectors: Seq[(String, String)]): String =
    selectors.map(s => s"${s._1}=${esc(s._2)}").mkString(",")
}

/** Serializable kube endpoint pointer. */
final case class KubeEndpointSpec(baseUrl: String, resource: String,
    cfg: HttpRestConfig)

final case class KubeEndpoint(source: String, table: String,
    spec: KubeEndpointSpec) extends WireEndpoint {
  def resource: KubeTables.KubeResource = KubeTables.All(spec.resource)
  def newTable(): Table = new KubeTable(this)
}

class KubeTable(val ep: KubeEndpoint) extends Table with SupportsRead {
  override def name(): String =
    s"${SourceRegistry.CatalogName}.${ep.source}.${ep.table}"
  override def schema(): StructType = ep.resource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.Set.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new KubeScanBuilder(ep)
}

class KubeScanBuilder(ep: KubeEndpoint) extends ScanBuilder
  with PushedFilter
  with SupportsPushDownRequiredColumns
  with SupportsPushDownLimit {

  private val res = ep.resource
  private var selectors: Seq[(String, String)] = Nil
  private var required: StructType = res.schema
  private var limit: Int = -1

  /** column -> its fieldSelector key, if the API supports one. */
  private def selectorKey(col: String): Option[String] =
    res.fieldSelectors.collectFirst {
      case (k, c) if c.equalsIgnoreCase(col) => k
    }

  override protected def acceptFilters(filters: Array[Filter]): collection.Seq[Filter] = {
    val accepted = filters.flatMap {
      case f @ EqualTo(a, v: String) => selectorKey(a).map(k => (f, a, k -> v))
      case _ => None
    }
    selectors = accepted.map(_._3).toSeq
    // a selector match never matches a missing field
    accepted.map(_._1) ++ PushedFilter.notNulls(filters, accepted.map(_._2))
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushLimit(n: Int): Boolean = { limit = n; true }
  override def isPartiallyPushed(): Boolean = true

  override def build(): Scan =
    new KubeScan(ep, required, selectors, limit, pushed)
}

class KubeScan(ep: KubeEndpoint, required: StructType,
    selectors: Seq[(String, String)], limit: Int,
    pushed: Array[Filter]) extends Scan with Batch {

  override def readSchema(): StructType = required

  override def description(): String =
    s"GraftKubeScan endpoint=${ep.source}/${ep.table} " +
      s"fieldSelector=[${KubeSel.render(selectors)}] " +
      s"limit=$limit PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${required.catalogString}"

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    Array(KubePartition(ep.spec, selectors, limit, required.json))

  override def createReaderFactory(): PartitionReaderFactory = new KubeReaderFactory
}

final case class KubePartition(spec: KubeEndpointSpec,
    selectors: Seq[(String, String)], limit: Int,
    requiredSchemaJson: String) extends InputPartition

class KubeReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[KubePartition]
    val res = KubeTables.All(p.spec.resource)
    val required = DataType.fromJson(p.requiredSchemaJson).asInstanceOf[StructType]
    val client = new HttpRestClient(p.spec.baseUrl, p.spec.cfg)
    val conv = CatalystTypeConverters.createToCatalystConverter(required)
    val params = Seq.newBuilder[(String, String)]
    if (p.selectors.nonEmpty)
      params += "fieldSelector" -> KubeSel.render(p.selectors)
    if (p.limit > 0) params += "limit" -> p.limit.toString
    val resp = EsDsl.M.readTree(
      client.get(s"/k8s/api/v1/${p.spec.resource}", params.result().toMap))
    val it = resp.path("items").elements().asScala.map { item =>
      conv(Row.fromSeq(required.fields.toSeq.map { f =>
        // flatten the nested document back into the declared column
        val node =
          if (f.name == "kind") item.path("kind")
          else item.path(res.sectionOf(f.name)).path(f.name)
        if (node.isMissingNode || node.isNull) null
        else f.dataType match {
          case StringType if f.name == "labels" => node.toString
          case BooleanType => Boolean.box(node.asBoolean())
          case other => LineCodec.parse(node.asText(), other)
        }
      })).asInstanceOf[InternalRow]
    }
    IteratorReader(it)
  }
}
