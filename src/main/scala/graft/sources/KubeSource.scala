package graft.sources

import java.util

import scala.jdk.CollectionConverters._

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
    cfg: WireClientConfig)

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
