package graft.sources

import java.util

import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DSv2 `TableCatalog` exposing every registered [[SourceDef]] as a
  * namespace: `graft.<source>.<table>`.
  *
  * This is the Spark-native equivalent of the reference's virtual schema of
  * heterogeneous sources (dataux schema registry + per-source schemas,
  * SURVEY.md §2.1): Spark's `CatalogManager` plays the registry, and each
  * namespace delegates to a file-backed source with its own pushdown
  * accept-list. A multi-catalog query (`graft.a.x JOIN graft.b.y JOIN
  * spark_catalog...`) is the heterogeneous-source federation join.
  *
  * Every namespace also exposes a `_files` meta-table listing the source's
  * data files, mirroring the reference's file-source `_files` table
  * (backends/files/filesource_test.go:221-238).
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
  with FunctionCatalog {

  private var catalogName: String = SourceRegistry.CatalogName

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    // conf-declared sources: spark.sql.catalog.graft.source.<name> = <path>[|format]
    options.entrySet().forEach { e =>
      val k = e.getKey
      if (k.startsWith("source.")) {
        val src = k.stripPrefix("source.")
        val (path, fmt) = e.getValue.split('|') match {
          case Array(p, f) => (p, f)
          case Array(p) => (p, "csv")
        }
        if (SourceRegistry.get(src).isEmpty)
          SourceRegistry.register(SourceDef(src, path, fmt))
      }
    }
  }

  override def name(): String = catalogName

  private def source(namespace: Array[String]): SourceDef = {
    if (namespace.length != 1) throw new NoSuchNamespaceException(namespace)
    SourceRegistry.get(namespace(0))
      .getOrElse(throw new NoSuchNamespaceException(namespace))
  }

  // ---- namespaces -------------------------------------------------------

  override def listNamespaces(): Array[Array[String]] =
    SourceRegistry.all.map(s => Array(s.name)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else { source(namespace); Array.empty }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 && SourceRegistry.get(namespace(0)).isDefined

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    val s = source(namespace)
    util.Map.of("location", s.path, "format", s.format)
  }

  override def createNamespace(
      namespace: Array[String], metadata: util.Map[String, String]): Unit = {
    require(namespace.length == 1, "source namespaces are single-level")
    val path = Option(metadata.get("location"))
      .getOrElse(new java.io.File(
        sys.props("user.dir"), s"target/graft-sources/${namespace(0)}").getPath)
    val fmt = Option(metadata.get("format")).getOrElse("csv")
    SourceRegistry.register(SourceDef(namespace(0), path, fmt))
  }

  override def alterNamespace(
      namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    source(namespace) // throws if absent
    SourceRegistry.drop(namespace(0))
  }

  // ---- tables -----------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val s = source(namespace)
    val dirs = Option(new java.io.File(s.path).listFiles())
      .getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getName)
    // a runtime-registered wire source lists LIVE off the backend's own
    // discovery surface (ES GET /_aliases, Mongo listCollections, CQL
    // system_schema.tables) — SHOW TABLES reflects the cluster's current
    // state, not a registration snapshot
    val live = WireSources.get(s.name).map(WireSources.listTables)
      .getOrElse(Seq.empty)
    ((dirs ++ WireEndpoints.list(s.name) ++ live).distinct.sorted
      :+ FilesMetaTable.Name)
      .map(Identifier.of(namespace, _))
  }

  override def loadTable(ident: Identifier): Table = {
    val s = source(ident.namespace())
    def wireTable = WireEndpoints.get(s.name, ident.name()).map(_.newTable())
    // first resolution of a wire-source table discovers its schema off
    // the backend and registers the endpoint lazily — query a table the
    // cluster grew AFTER CREATE SOURCE without re-registering anything.
    // Only on a registry miss, and never for the files meta-table: a
    // resolution that can be answered locally must not cost a backend
    // round-trip
    wireTable.foreach(t => return t)
    if (ident.name() != FilesMetaTable.Name)
      WireSources.get(s.name).foreach(d => WireSources.discover(d, ident.name()))
    wireTable.foreach(t => return t)
    if (ident.name() == FilesMetaTable.Name) new FilesMetaTable(s)
    else {
      val dir = s.tableDir(ident.name())
      if (!dir.isDirectory) throw new NoSuchTableException(ident)
      FileTable.open(s, ident.name())
        .getOrElse(throw new NoSuchTableException(ident))
    }
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val s = source(ident.namespace())
    require(partitions.isEmpty, "partitioned file tables not supported")
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val fmt = Option(properties.get(TableCatalog.PROP_PROVIDER))
      .map(_.toLowerCase).filter(f => f == "csv" || f == "json")
      .getOrElse(s.format)
    // key columns for key-profile sources (Cassandra-style partition keys):
    // CREATE TABLE ... TBLPROPERTIES ('keys' = 'col_a,col_b')
    val keys = Option(properties.get("keys")).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    // bucketed layout: 'buckets' = N hash-routes rows by the first key
    // column at write time and lets co-bucketed tables join shuffle-free
    val buckets = Option(properties.get("buckets")).map(_.trim.toInt).getOrElse(0)
    if (buckets > 0) {
      require(keys.nonEmpty, "TBLPROPERTIES 'buckets' requires 'keys'")
      val kf = schema.fields.find(_.name.equalsIgnoreCase(keys.head))
        .getOrElse(throw new IllegalArgumentException(
          s"bucket key ${keys.head} not in schema"))
      require(GraftBucket.supported(kf.dataType),
        s"bucket key type unsupported: ${kf.dataType}")
    }
    FileTable.create(s, ident.name(), schema, fmt, keys, buckets)
  }

  /** Schema evolution by sidecar rewrite (reference: ALTER jobs,
    * mysql_handler.go:253-260). Both codecs resolve columns by NAME, so
    * no data rewrite is needed: an added column reads null from old
    * files, a dropped column's cells are simply ignored. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val s = source(ident.namespace())
    val table = FileTable.open(s, ident.name())
      .getOrElse(throw new NoSuchTableException(ident))
    var schema = table.schema0
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1,
          "nested columns not supported by the file connector")
        schema = schema.add(add.fieldNames()(0), add.dataType(), add.isNullable())
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames().length == 1,
          "nested columns not supported by the file connector")
        val name = del.fieldNames()(0)
        require(!table.keys.exists(_.equalsIgnoreCase(name)),
          s"cannot drop key column $name")
        require(schema.fieldNames.exists(_.equalsIgnoreCase(name)),
          s"no such column: $name")
        schema = StructType(
          schema.fields.filterNot(_.name.equalsIgnoreCase(name)))
      case other =>
        throw new UnsupportedOperationException(s"ALTER TABLE: $other not supported")
    }
    FileTable.create(s, ident.name(), schema, table.format, table.keys,
      table.buckets)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val s = source(ident.namespace())
    val dir = s.tableDir(ident.name())
    if (!dir.isDirectory) false
    else {
      Option(dir.listFiles()).getOrElse(Array.empty).foreach(_.delete())
      dir.delete()
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val s = source(oldIdent.namespace())
    require(newIdent.namespace().sameElements(oldIdent.namespace()),
      "rename across sources not supported")
    if (!s.tableDir(oldIdent.name()).renameTo(s.tableDir(newIdent.name())))
      throw new NoSuchTableException(oldIdent)
  }

  // ---- functions --------------------------------------------------------
  // The catalog exposes ONE function: the bucket transform scans report in
  // their KeyGroupedPartitioning. Catalyst resolves it here to prove two
  // bucketed scans co-partitioned (storage-partitioned joins).

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, "bucket"))

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name().equalsIgnoreCase("bucket")) new GraftBucketUnbound
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(
      ident)
}
