package graft.sources

import java.io.File

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.Table

/** A registered source: a named namespace of file-backed tables.
  *
  * The Spark-native analogue of the reference's runtime schema registry
  * (dataux README.md:64-76 `CREATE source ... WITH {json}`;
  * schema/registry.go): each source is a directory whose sub-directories
  * are tables, with a default record format. Sources are created either at
  * session start or at runtime through `GraftEngine.sql("CREATE SOURCE …")`.
  *
  * @param name     namespace under the `graft` catalog (graft.<name>.<table>)
  * @param path     root directory; each table is `<path>/<table>/`
  * @param format   default record format for new tables ("csv" | "json")
  * @param pushdown per-source pushdown profile, the reference's per-backend
  *                 accept lists: "full" = the Mongo-style op set
  *                 (sql_to_mgo.go:441-655); "keys" = Cassandra-style
  *                 key-constrained predicates only (sql_to_cql.go:441-468) —
  *                 equality/IN on a table's declared key columns; everything
  *                 else is declined and polyfilled by Spark
  */
final case class SourceDef(
    name: String, path: String, format: String, pushdown: String = "full") {
  def tableDir(table: String): File = new File(path, table)
}

/** JVM-global registry consulted by every [[GraftCatalog]] instance.
  *
  * Catalog plugins are constructed reflectively by Spark's CatalogManager,
  * so runtime `CREATE SOURCE` mutations live here rather than on a catalog
  * instance. Registry state is driver-side metadata only (as in the
  * reference, where the schema registry lives on the master) — executors
  * never consult it, so this design carries to a real cluster unchanged.
  */
object SourceRegistry {

  private val sources = TrieMap.empty[String, SourceDef]

  def register(d: SourceDef): SourceDef = {
    new File(d.path).mkdirs()
    sources.put(d.name, d)
    d
  }

  def drop(name: String): Boolean = sources.remove(name).isDefined
  def get(name: String): Option[SourceDef] = sources.get(name)
  def all: Seq[SourceDef] = sources.values.toSeq.sortBy(_.name)

  /** Catalog name under which every source namespace is visible. */
  val CatalogName = "graft"

  /** Idempotently bind the `graft` catalog into a session. V2 catalogs
    * resolve lazily from conf on first reference, so a runtime conf set is
    * all a fresh session needs. */
  def ensureCatalog(spark: SparkSession): Unit = {
    val key = s"spark.sql.catalog.$CatalogName"
    if (!spark.conf.getOption(key).contains(classOf[GraftCatalog].getName))
      spark.conf.set(key, classOf[GraftCatalog].getName)
  }
}

/** A wire-backed table's registration: the namespace and name it answers
  * to under `graft.<source>.<table>`, and how to build its DSv2 table. */
trait WireEndpoint {
  def source: String
  def table: String
  def newTable(): Table
}

/** The ONE driver-side registry of wire endpoints, every connector kind
  * together — the reference resolves every backend's tables through one
  * schema registry (models/serverctx.go:136-188). Keys are
  * `(source, table.toLowerCase)`; registering an existing key replaces
  * it. Catalog resolution only: readers carry their own serialized
  * specs, except an unsliced REST scan in local mode, which reuses the
  * registered handler. */
object WireEndpoints {
  private val endpoints = TrieMap.empty[(String, String), WireEndpoint]

  def register(e: WireEndpoint): Unit = endpoints.put((e.source, e.table.toLowerCase), e)
  def get(source: String, table: String): Option[WireEndpoint] =
    endpoints.get((source, table.toLowerCase))
  def list(source: String): Seq[String] =
    endpoints.keys.collect { case (s, t) if s == source => t }.toSeq.sorted
  def drop(source: String, table: String): Boolean =
    endpoints.remove((source, table.toLowerCase)).isDefined
  def dropSource(source: String): Unit =
    endpoints.keys.filter(_._1 == source).foreach(endpoints.remove)
}
