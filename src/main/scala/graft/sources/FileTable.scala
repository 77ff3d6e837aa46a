package graft.sources

import java.io.{BufferedReader, File, FileReader}
import java.nio.file.{Files, StandardCopyOption}
import java.util

import scala.util.Using

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.{AlwaysFalse, AlwaysTrue, Filter}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A file-backed table: one directory of CSV/JSONL part files plus a
  * `_graft.json` sidecar recording format + schema.
  *
  * Spark-native counterpart of the reference's file-source tables
  * (dataux backends/files/filesource_test.go:258-304). Reads are DSv2 scans
  * with filter/column/limit pushdown ([[FileScanBuilder]]). Every write
  * streams its rows through the one executor-side [[PartFileSink]] into
  * temps and lands in the one driver-side [[PartFileSink.commit]]: INSERT
  * and TRUNCATE through [[FileWriteBuilder]]; `DELETE WHERE`, UPDATE and
  * UPSERT as one [[PartFileRewrite]] pass over the part files their key
  * range can touch (reference: delete-by-where,
  * backends/cassandra/sql_to_cql.go:368-394).
  *
  * Table schema comes from the sidecar when present, otherwise it is
  * inferred by sampling the head of the data files — the reference's
  * sample-based schema discovery (backends/mongo/mgo_source.go:269-311).
  *
  * Scale notes: a table is a *directory of files*; scan parallelism is one
  * partition per file, so large tables need many files (the file-sink
  * writes one file per input partition, preserving upstream parallelism).
  * Paths assume a shared filesystem (local/NFS/object-store mount); a
  * production port swaps java.io for the Hadoop FileSystem API at the
  * clearly-isolated open/list/rename call sites in this package.
  */
class FileTable(
    val source: SourceDef,
    val tableName: String,
    val schema0: StructType,
    val format: String,
    val keys: Seq[String] = Nil,
    val buckets: Int = 0)
  extends Table with SupportsRead with SupportsWrite with SupportsDelete {

  val dir: File = source.tableDir(tableName)
  def codec: FileCodec = FileCodec.forFormat(format)

  /** Per-source accept list (the reference's per-backend pushdown rules):
    * "full" = Mongo-style op set; "keys" = Cassandra-style — equality/IN
    * on declared key columns only, AND-combined; ranges, strings and
    * non-key references are declined and polyfilled by Spark
    * (sql_to_cql.go:441-468, 500-548); "prefix" = BigTable-style — key
    * predicates that translate to row ranges: equality, prefix match and
    * bounded ranges on declared key columns (sql_to_bt.go:150-239,
    * source.go:193-251 `bigtable.PrefixRange`/`RowFilter`); everything
    * else (non-key columns, contains/suffix, OR) is declined. */
  def acceptsFilter(f: Filter): Boolean = {
    import org.apache.spark.sql.sources._
    def key(a: String) = keys.exists(_.equalsIgnoreCase(a))
    source.pushdown match {
      case "keys" =>
        f match {
          case EqualTo(a, _) => key(a)
          case In(a, _) => key(a)
          case And(l, r) => acceptsFilter(l) && acceptsFilter(r)
          case _ => false
        }
      case "prefix" =>
        f match {
          case EqualTo(a, _) => key(a)
          case StringStartsWith(a, _) => key(a)
          case GreaterThan(a, _) => key(a)
          case GreaterThanOrEqual(a, _) => key(a)
          case LessThan(a, _) => key(a)
          case LessThanOrEqual(a, _) => key(a)
          case And(l, r) => acceptsFilter(l) && acceptsFilter(r)
          case _ => false
        }
      // BigQuery-style full-statement passthrough: every boolean shape the
      // 3VL evaluator implements, OR trees and NOT included
      // (sql_to_bq.go:72-104 re-renders the whole WHERE)
      case "passthrough" => FilterEval.acceptsAll(f, schema0)
      case _ => FilterEval.accepts(f, schema0)
    }
  }

  override def name(): String =
    s"${SourceRegistry.CatalogName}.${source.name}.$tableName"

  override def schema(): StructType = schema0

  override def capabilities(): util.Set[TableCapability] =
    util.Set.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ)

  override def properties(): util.Map[String, String] =
    util.Map.of("format", format, "location", dir.getPath)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FileScanBuilder(this,
      Option(options.get("maxFilesPerTrigger")).map(_.toInt))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new FileWriteBuilder(this, info.queryId())

  def dataFiles(): Seq[File] = FileTable.dataFiles(dir, codec.extension)

  /** Schema index of the first declared key column, -1 when keyless: the
    * column of the sidecar's key ranges and of bucket routing. */
  def keyIdx: Int = keys.headOption
    .map(k => schema0.fieldNames.indexWhere(_.equalsIgnoreCase(k))).getOrElse(-1)

  /** Compaction (OPTIMIZE): rewrite the table's accumulated part files as
    * `target` files. Two distributed passes — stage the rows to a temp
    * parquet dir (so the overwrite never reads the files it is deleting),
    * then INSERT OVERWRITE back through the connector's own commit, which
    * renames the new files in and deletes the old ones. Keyed tables
    * compact range-partitioned on the key so the rebuilt sidecar keeps
    * pruning. NOT safe under an active STREAMING reader (rewrites violate
    * the append-only stream contract — the stream detects it and fails
    * loudly rather than replaying duplicates). Returns the post-compaction
    * file count. */
  def compact(spark: SparkSession, target: Int = 1): Int = {
    import org.apache.spark.sql.functions.lit
    val fullName = s"${SourceRegistry.CatalogName}.${source.name}.$tableName"
    val tmp = java.nio.file.Files
      .createTempDirectory(s"graft-compact-$tableName").toFile
    try {
      // concurrent-writer guard: the staging read and the overwrite are
      // two steps; an INSERT committed between them would be silently
      // dropped by the overwrite (lost update). Snapshot the file listing
      // before staging and abort if it changed before the swap — same
      // fail-loud posture as the streaming append-only check.
      val before = dataFiles().map(f => (f.getName, f.length())).toSet
      // keyed tables compact RANGE-partitioned on the key: round-robin
      // would spread every file's [min, max] across the whole key domain
      // and the rebuilt sidecar could never prune a get-by-key again
      val rows = spark.table(fullName)
      val shaped = keys.headOption match {
        case Some(k) => rows.repartitionByRange(math.max(1, target),
          org.apache.spark.sql.functions.col(k))
        case None => rows.repartition(math.max(1, target))
      }
      shaped.write.mode("overwrite").parquet(tmp.getPath)
      val now = dataFiles().map(f => (f.getName, f.length())).toSet
      if (now != before)
        throw new IllegalStateException(
          s"OPTIMIZE $fullName aborted: table changed during compaction " +
            "(concurrent writer); rerun when writes are quiesced")
      spark.read.parquet(tmp.getPath).writeTo(fullName).overwrite(lit(true))
      dataFiles().size
    } finally {
      def rm(f: File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(rm)
        f.delete()
      }
      rm(tmp)
    }
  }

  // ---- DELETE WHERE -----------------------------------------------------

  /** Delete-by-where is accepted only when every predicate is inside the
    * connector's accept-list (the reference refuses non-expressible
    * deletes, sql_to_cql.go:376-394). */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall {
      case _: AlwaysTrue | _: AlwaysFalse => true
      case f => acceptsFilter(f)
    }

  /** Delete-by-where is one [[PartFileRewrite]] pass whose hit rule is
    * the conjunction of `filters`; `AlwaysTrue` alone is TRUNCATE. */
  override def deleteWhere(filters: Array[Filter]): Unit =
    if (!filters.exists(_.isInstanceOf[AlwaysFalse]))
      PartFileRewrite.deleteWhere(this, filters.filterNot(_.isInstanceOf[AlwaysTrue]).toSeq)
}

object FileTable {

  val SidecarName = "_graft.json"
  private val mapper = new ObjectMapper()

  def dataFiles(dir: File, ext: String): Seq[File] =
    Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && f.getName.endsWith("." + ext) &&
        !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .sortBy(_.getName).toSeq

  /** Create: directory + sidecar (format, schema, optional key columns,
    * optional bucket count). */
  def create(s: SourceDef, table: String, schema: StructType, format: String,
      keys: Seq[String] = Nil, buckets: Int = 0): FileTable = {
    val dir = s.tableDir(table)
    dir.mkdirs()
    val obj = mapper.createObjectNode()
    obj.put("format", format)
    obj.set[com.fasterxml.jackson.databind.JsonNode](
      "schema", mapper.readTree(schema.json))
    if (keys.nonEmpty) {
      val arr = obj.putArray("keys")
      keys.foreach(arr.add)
    }
    if (buckets > 0) obj.put("buckets", buckets)
    val sidecar = new File(dir, SidecarName)
    Using.resource(FileCodec.utf8Writer(sidecar))(
      _.write(mapper.writerWithDefaultPrettyPrinter().writeValueAsString(obj)))
    new FileTable(s, table, schema, format, keys, buckets)
  }

  /** Open: sidecar if present, else infer by sampling the first data file. */
  def open(s: SourceDef, table: String): Option[FileTable] = {
    val dir = s.tableDir(table)
    val sidecar = new File(dir, SidecarName)
    if (sidecar.isFile) {
      val obj = mapper.readTree(sidecar)
      val fmt = obj.get("format").asText()
      val schema = DataType.fromJson(obj.get("schema").toString).asInstanceOf[StructType]
      val keys = Option(obj.get("keys")).map { arr =>
        (0 until arr.size()).map(arr.get(_).asText())
      }.getOrElse(Seq.empty)
      val buckets = Option(obj.get("buckets")).map(_.asInt()).getOrElse(0)
      Some(new FileTable(s, table, schema, fmt, keys, buckets))
    } else {
      // no sidecar: discover format from extensions; the schema is inferred
      // per file and merged through the widen lattice (reference:
      // sample-based discovery with stable type promotion,
      // backends/mongo/mgo_source.go:269-311,335-360) — one file's `42`
      // and another's `4.2` surface as a single double column. The sample
      // is capped at MaxInferFiles: beyond it, files read under the merged
      // schema (a production table at scale declares a sidecar instead of
      // re-inferring from a million files).
      Seq("csv", "json").view.flatMap { fmt =>
        val cdc = FileCodec.forFormat(fmt)
        val files = dataFiles(dir, cdc.extension)
        if (files.isEmpty) None
        else {
          val schema = files.take(MaxInferFiles)
            .map(f => Using.resource(FileCodec.utf8Reader(f))(cdc.inferSchema))
            .reduce(LineCodec.mergeSchemas)
          Some(new FileTable(s, table, schema, fmt))
        }
      }.headOption
    }
  }

  /** Bound on driver-side inference IO for sidecar-less tables. */
  val MaxInferFiles = 8
}

/** Per-file metadata entry in the `_keyranges.json` sidecar: rendered
  * [min, max] of the table's first declared key column, the file's row
  * count (drives `estimateStatistics.numRows`), and — for bucketed tables
  * — the file's bucket id (drives storage-partitioned joins). `rows`/
  * `bucket` are -1 when unknown (entries written by older sidecars). */
final case class FileMeta(min: String, max: String, rows: Long = -1L, bucket: Int = -1)

/** Per-file key-range sidecar (`_keyranges.json`): metadata recorded at
  * write commit. Backs the Datastore-style get-by-key short-circuit
  * (reference: key-equality lookups become direct gets,
  * backends/datastore/sql_to_datastore.go:70-150; LIKE 'p%' becomes a key
  * range, :478-489) — the scan prunes files whose range cannot hold any
  * requested key. Metadata is advisory and conservative: files without an
  * entry always scan. The one write commit ([[PartFileSink.commit]], for
  * INSERT, TRUNCATE, DELETE, UPDATE and UPSERT alike) merges once: the
  * fresh range and row count of each file it writes in, minus the entries
  * of the files it deletes. Each merge renames a complete temp over the
  * sidecar, so a concurrent [[load]] sees the old map or the new one.
  */
object KeyRanges {

  val FileName = "_keyranges.json"
  private val mapper = new ObjectMapper()

  def load(dir: File): Map[String, FileMeta] = {
    val f = new File(dir, FileName)
    if (!f.isFile) Map.empty
    else {
      val root = mapper.readTree(f)
      val it = root.fields()
      val b = Map.newBuilder[String, FileMeta]
      while (it.hasNext) {
        val e = it.next()
        val v = e.getValue
        b += e.getKey -> FileMeta(
          Option(v.get("min")).map(_.asText()).orNull,
          Option(v.get("max")).map(_.asText()).orNull,
          Option(v.get("rows")).map(_.asLong()).getOrElse(-1L),
          Option(v.get("bucket")).map(_.asInt()).getOrElse(-1))
      }
      b.result()
    }
  }

  /** Add or replace `entries` and remove the entries named in `drop`. */
  def merge(dir: File, entries: Map[String, FileMeta], drop: Set[String] = Set.empty): Unit = {
    if (entries.isEmpty && drop.isEmpty) return
    val all = load(dir) -- drop ++ entries
    val root = mapper.createObjectNode()
    all.toSeq.sortBy(_._1).foreach { case (name, m) =>
      val o = root.putObject(name)
      if (m.min != null) o.put("min", m.min)
      if (m.max != null) o.put("max", m.max)
      if (m.rows >= 0) o.put("rows", m.rows)
      if (m.bucket >= 0) o.put("bucket", m.bucket)
    }
    val tmp = new File(dir, s"._keyranges-${java.util.UUID.randomUUID()}.tmp")
    try {
      Files.writeString(tmp.toPath, mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root))
      Files.move(tmp.toPath, new File(dir, FileName).toPath, StandardCopyOption.ATOMIC_MOVE)
    } finally tmp.delete()
  }
}

/** File pruning by key-range metadata, shared by build-time pushdown
  * pruning and RUNTIME filtering (Spark hands a broadcast-join dim's key
  * set to the scan mid-query — dynamic file pruning): each filter
  * constrains the key to points or an interval (closed-bound
  * approximations), and a file is kept unless its recorded [min, max]
  * range provably excludes every allowed key. Conservative: files without
  * metadata, incomparable values, and non-key filters always scan. */
object KeyPrune {

  def prune(
      files: Seq[File], key: String,
      keyType: org.apache.spark.sql.types.DataType, dir: File,
      filters: Seq[org.apache.spark.sql.sources.Filter]): Seq[File] = {
    import org.apache.spark.sql.sources._
    val constraints: Seq[Either[Seq[Any], (Any, Any)]] = filters.flatMap {
      case EqualTo(a, v) if a.equalsIgnoreCase(key) && v != null =>
        Some(Left(Seq(v)))
      case In(a, vs) if a.equalsIgnoreCase(key) =>
        Some(Left(vs.toSeq.filter(_ != null)))
      case GreaterThan(a, v) if a.equalsIgnoreCase(key) => Some(Right((v, null)))
      case GreaterThanOrEqual(a, v) if a.equalsIgnoreCase(key) => Some(Right((v, null)))
      case LessThan(a, v) if a.equalsIgnoreCase(key) => Some(Right((null, v)))
      case LessThanOrEqual(a, v) if a.equalsIgnoreCase(key) => Some(Right((null, v)))
      case StringStartsWith(a, p) if a.equalsIgnoreCase(key) =>
        Some(Right((p, p + "￿"))) // prefix ⇒ bounded key range
      case _ => None
    }
    if (constraints.isEmpty) return files
    val ranges = KeyRanges.load(dir)
    if (ranges.isEmpty) return files
    files.filter { f =>
      ranges.get(f.getName) match {
        case None => true // no metadata: always scan
        case Some(m) if m.min == null || m.max == null => true // rows-only entry
        case Some(FileMeta(mnS, mxS, _, _)) =>
          val mn = LineCodec.parse(mnS, keyType)
          val mx = LineCodec.parse(mxS, keyType)
          constraints.forall {
            case Left(points) => points.exists(v =>
              FilterEval.cmp(v, mn).forall(_ >= 0) &&
                FilterEval.cmp(v, mx).forall(_ <= 0))
            case Right((lo, hi)) =>
              (lo == null || FilterEval.cmp(mx, lo).forall(_ >= 0)) &&
                (hi == null || FilterEval.cmp(mn, hi).forall(_ <= 0))
          }
      }
    }
  }

  /** The runtime-filter hook payload: (key column, its type, table dir) —
    * present only for tables with a declared key. */
  def hookFor(table: FileTable): Option[(String, org.apache.spark.sql.types.DataType, String)] =
    table.keys.headOption.flatMap { k =>
      table.schema0.fields.find(_.name.equalsIgnoreCase(k))
        .map(f => (f.name, f.dataType, table.dir.getPath))
    }
}

/** Per-source `_files` meta-table (reference:
  * backends/files/filesource_test.go:221-238): one row per data file of
  * every table in the source. Read-only; no pushdown — every predicate is
  * declined, so Spark polyfills all filtering (the residual path in its
  * purest form). The listing is driver-side metadata, planned into a single
  * input partition; a petabyte-scale source would chunk the listing across
  * partitions, but the listing itself is always metadata-sized.
  */
class FilesMetaTable(source: SourceDef) extends Table with SupportsRead {

  override def name(): String =
    s"${SourceRegistry.CatalogName}.${source.name}.${FilesMetaTable.Name}"

  override def schema(): StructType = FilesMetaTable.Schema

  override def capabilities(): util.Set[TableCapability] =
    util.Set.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FilesMetaScanBuilder(source)
}

object FilesMetaTable {
  val Name = "_files"
  val Schema: StructType = StructType.fromDDL(
    "file STRING, table_name STRING, format STRING, size_bytes BIGINT, updated TIMESTAMP")

  def listRows(source: SourceDef): Array[Array[Any]] = {
    val root = new File(source.path)
    val tables = Option(root.listFiles()).getOrElse(Array.empty[File])
      .filter(_.isDirectory).sortBy(_.getName)
    tables.flatMap { tdir =>
      FileTable.open(source, tdir.getName).toSeq.flatMap { t =>
        t.dataFiles().map { f =>
          Array[Any](f.getName, tdir.getName, t.format, f.length(),
            new java.sql.Timestamp(f.lastModified()))
        }
      }
    }
  }
}
