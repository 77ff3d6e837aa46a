package graft.sources

import java.io.{BufferedReader, File, FileReader}

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{NamedReference, NullOrdering, SortDirection, SortOrder}
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, StructField, StructType}

/** Predicate accept-list + evaluator for the file connector.
  *
  * The op set mirrors what the reference pushes to MongoDB (the fullest
  * backend: =, !=, ranges, IN, exists/missing, LIKE-prefix/suffix/contains,
  * dataux backends/mongo/sql_to_mgo.go:441-655) while the conjunction rule
  * mirrors Cassandra's conservative AND-only acceptance
  * (sql_to_cql.go:441-468): OR trees and anything else are *declined*, and
  * Spark's `V2ScanRelationPushDown` re-applies them post-scan — the
  * residual-polyfill semantics of the reference
  * (sql_to_cql.go:199-204) for free.
  *
  * Evaluation happens source-side on the accepted set: a pushed filter is a
  * contract that the scan output already satisfies it.
  */
object FilterEval {

  /** Resolve a (possibly dotted) attribute path against the schema — the
    * reference's ES backend addresses document sub-objects the same way
    * (dotted paths over nested documents, elasticsearch/source.go:154-255).
    * Struct-typed intermediate steps walk into the struct; anything else
    * fails resolution and the predicate is declined. */
  private[sources] def resolveType(schema: StructType, attr: String): Option[DataType] = {
    var dt: DataType = schema
    attr.split('.').foreach { p =>
      dt match {
        case st: StructType =>
          st.fields.find(_.name.equalsIgnoreCase(p)) match {
            case Some(f) => dt = f.dataType
            case None => return None
          }
        case _ => return None
      }
    }
    Some(dt)
  }

  private def top(schema: StructType, attr: String): Boolean =
    resolveType(schema, attr).isDefined

  private def isString(schema: StructType, attr: String): Boolean =
    resolveType(schema, attr).contains(StringType)

  /** Can this predicate be pushed into (and evaluated by) the source? */
  def accepts(f: Filter, schema: StructType): Boolean = f match {
    case EqualTo(a, _) => top(schema, a)
    case GreaterThan(a, _) => top(schema, a)
    case GreaterThanOrEqual(a, _) => top(schema, a)
    case LessThan(a, _) => top(schema, a)
    case LessThanOrEqual(a, _) => top(schema, a)
    case In(a, _) => top(schema, a)
    case IsNull(a) => top(schema, a)
    case IsNotNull(a) => top(schema, a)
    case StringStartsWith(a, _) => isString(schema, a)
    case StringEndsWith(a, _) => isString(schema, a)
    case StringContains(a, _) => isString(schema, a)
    case Not(EqualTo(a, _)) => top(schema, a)
    case And(l, r) => accepts(l, schema) && accepts(r, schema)
    case _ => false // Or, EqualNullSafe, nested Not, AlwaysTrue/False, ...
  }

  /** Passthrough acceptance (reference: BigQuery full-SQL re-render,
    * backends/bigquery/sql_to_bq.go:72-104 — the whole WHERE ships to the
    * backend): every boolean shape the 3VL evaluator implements, including
    * OR trees, arbitrary NOT and null-safe equality. */
  def acceptsAll(f: Filter, schema: StructType): Boolean = f match {
    case And(l, r) => acceptsAll(l, schema) && acceptsAll(r, schema)
    case Or(l, r) => acceptsAll(l, schema) && acceptsAll(r, schema)
    case Not(c) => acceptsAll(c, schema)
    case EqualNullSafe(a, _) => top(schema, a)
    case _: AlwaysTrue | _: AlwaysFalse => true
    case other => accepts(other, schema)
  }

  // ---- evaluation -------------------------------------------------------

  /** Normalize row/literal values to a comparable domain. */
  private def norm(v: Any): Any = v match {
    case b: java.lang.Byte => java.lang.Long.valueOf(b.longValue())
    case s: java.lang.Short => java.lang.Long.valueOf(s.longValue())
    case i: java.lang.Integer => java.lang.Long.valueOf(i.longValue())
    case l: java.lang.Long => l
    case f: java.lang.Float => java.lang.Double.valueOf(f.doubleValue())
    case d: java.lang.Double => d
    case d: java.math.BigDecimal => java.lang.Double.valueOf(d.doubleValue())
    case d: scala.math.BigDecimal => java.lang.Double.valueOf(d.toDouble)
    case t: java.sql.Timestamp => // floorDiv: pre-epoch values must not truncate toward zero
      java.lang.Long.valueOf(Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case i: java.time.Instant =>
      java.lang.Long.valueOf(i.getEpochSecond * 1000000L + i.getNano / 1000)
    case dt: java.time.LocalDateTime => // NTZ: wall-clock micros
      java.lang.Long.valueOf(
        dt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + dt.getNano / 1000)
    case d: java.sql.Date => java.lang.Long.valueOf(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => java.lang.Long.valueOf(d.toEpochDay)
    case other => other
  }

  /** Three-valued compare collapsed to Option (None = incomparable). */
  private[sources] def cmp(a: Any, b: Any): Option[Int] = (norm(a), norm(b)) match {
    case (x: java.lang.Long, y: java.lang.Long) => Some(x.compareTo(y))
    case (x: java.lang.Long, y: java.lang.Double) =>
      Some(java.lang.Double.compare(x.doubleValue(), y))
    case (x: java.lang.Double, y: java.lang.Long) =>
      Some(java.lang.Double.compare(x, y.doubleValue()))
    case (x: java.lang.Double, y: java.lang.Double) => Some(x.compareTo(y))
    case (x: String, y: String) => Some(x.compareTo(y))
    case (x: java.lang.Boolean, y: java.lang.Boolean) => Some(x.compareTo(y))
    case _ => None
  }

  /** Evaluate one filter on an external-typed row (UNKNOWN ⇒ false, the
    * same collapse SQL applies to WHERE). */
  def eval(f: Filter, schema: StructType, row: Array[Any]): Boolean =
    eval3(f, schema, row).contains(true)

  /** SQL three-valued evaluation: None = UNKNOWN (null operand). Proper
    * 3VL matters for the passthrough profile, which accepts arbitrary
    * OR/NOT nesting: `NOT (null_col = 1)` must stay UNKNOWN (row dropped),
    * not flip to TRUE under two-valued negation. */
  def eval3(f: Filter, schema: StructType, row: Array[Any]): Option[Boolean] = {
    def v(attr: String): Any = {
      // exact full-name match first: joined virtual tables carry alias-
      // qualified TOP-LEVEL columns ("t0.bal") that must not be walked
      // as nested struct paths
      val exact = schema.fieldNames.indexWhere(_.equalsIgnoreCase(attr))
      if (exact >= 0) return row(exact)
      val parts = attr.split('.')
      val i = schema.fieldNames.indexWhere(_.equalsIgnoreCase(parts(0)))
      if (i < 0) return null
      var cur: Any = row(i)
      var dt: DataType = schema.fields(i).dataType
      var k = 1
      while (k < parts.length) {
        (cur, dt) match {
          case (r: Row, st: StructType) =>
            val j = st.fieldNames.indexWhere(_.equalsIgnoreCase(parts(k)))
            if (j < 0) return null
            cur = r.get(j); dt = st.fields(j).dataType
          case _ => return null // null struct or non-struct mid-path
        }
        k += 1
      }
      cur
    }
    // comparison against a literal: null/incomparable operand ⇒ UNKNOWN
    def cmpOp(a: String, b: Any)(p: Int => Boolean): Option[Boolean] = {
      val x = v(a)
      if (x == null || b == null) None else cmp(x, b).map(p)
    }
    def strOp(a: String)(p: String => Boolean): Option[Boolean] =
      Option(v(a)).map(x => p(x.toString))
    f match {
      case EqualTo(a, b) => cmpOp(a, b)(_ == 0)
      case GreaterThan(a, b) => cmpOp(a, b)(_ > 0)
      case GreaterThanOrEqual(a, b) => cmpOp(a, b)(_ >= 0)
      case LessThan(a, b) => cmpOp(a, b)(_ < 0)
      case LessThanOrEqual(a, b) => cmpOp(a, b)(_ <= 0)
      case In(a, vs) =>
        val x = v(a)
        if (x == null) None
        else if (vs.exists(b => b != null && cmp(x, b).contains(0))) Some(true)
        else if (vs.contains(null)) None // x IN (…, NULL) with no match
        else Some(false)
      case IsNull(a) => Some(v(a) == null)
      case IsNotNull(a) => Some(v(a) != null)
      case StringStartsWith(a, p) => strOp(a)(_.startsWith(p))
      case StringEndsWith(a, s) => strOp(a)(_.endsWith(s))
      case StringContains(a, s) => strOp(a)(_.contains(s))
      case EqualNullSafe(a, b) =>
        val x = v(a)
        Some(if (x == null || b == null) x == null && b == null
             else cmp(x, b).contains(0))
      case Not(c) => eval3(c, schema, row).map(!_)
      case And(l, r) =>
        (eval3(l, schema, row), eval3(r, schema, row)) match {
          case (Some(false), _) | (_, Some(false)) => Some(false)
          case (Some(true), Some(true)) => Some(true)
          case _ => None
        }
      case Or(l, r) =>
        (eval3(l, schema, row), eval3(r, schema, row)) match {
          case (Some(true), _) | (_, Some(true)) => Some(true)
          case (Some(false), Some(false)) => Some(false)
          case _ => None
        }
      case _: AlwaysTrue => Some(true)
      case _: AlwaysFalse => Some(false)
      case other => throw new IllegalStateException(s"unpushable filter evaluated: $other")
    }
  }
}

/** One sort key of a pushed top-N, resolved to a row index (parse schema
  * for row scans, output schema for complete-agg scans). */
final case class SortSpec(colIdx: Int, descending: Boolean, nullsFirst: Boolean)

object SortSpec {
  /** Row ordering for a pushed top-N: lexicographic over the sort keys with
    * SQL null ordering; incomparable values tie (cmp = None ⇒ 0). */
  def ordering(specs: Array[SortSpec]): Ordering[Array[Any]] =
    (x: Array[Any], y: Array[Any]) => {
      var i = 0
      var r = 0
      while (r == 0 && i < specs.length) {
        val s = specs(i)
        val (a, b) = (x(s.colIdx), y(s.colIdx))
        r =
          if (a == null && b == null) 0
          else if (a == null) { if (s.nullsFirst) -1 else 1 }
          else if (b == null) { if (s.nullsFirst) 1 else -1 }
          else {
            val c = FilterEval.cmp(a, b).getOrElse(0)
            if (s.descending) -c else c
          }
        i += 1
      }
      r
    }
}

/** One scan partition = a bin-packed list of file chunks planned by
  * [[ScanChunks.plan]]: large JSONL files split at line boundaries, small
  * files share a partition, CSV stays whole-file (quoted embedded newlines
  * cannot split at byte offsets). */
final case class FilePartition(
    chunks: Array[FileChunk],
    format: String,
    parseSchemaJson: String,
    outputSchemaJson: String,
    outputIndices: Array[Int],
    filters: Array[Filter],
    limit: Int,
    topN: Array[SortSpec],
    offset: Int = 0) extends InputPartition

/** A [[FilePartition]] holding exactly one bucket of a bucketed table,
  * keyed so Spark's storage-partitioned-join planner can align it with
  * the co-bucketed partition of the other scan. */
final case class BucketedFilePartition(inner: FilePartition, bucketId: Int)
  extends InputPartition
  with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bucketId))
}

class FileScanBuilder(
    table: FileTable,
    maxFilesPerTrigger: Option[Int] = None) extends ScanBuilder
  with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns
  with SupportsPushDownLimit
  with SupportsPushDownTopN
  with SupportsPushDownOffset
  with SupportsPushDownAggregates {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = table.schema0
  private var limit: Int = -1
  private var offset: Int = 0
  // pushed ORDER BY keys as (column name, descending, nullsFirst)
  private var sortKeys: Array[(String, Boolean, Boolean)] = Array.empty
  // (group col indices into table schema, agg defs indexed into table schema)
  private var aggregation: Option[(Seq[Int], Seq[AggDef])] = None

  /** BigQuery-style full-statement profile: the source consumes the whole
    * query — arbitrary predicate trees, the final (not partial) aggregate,
    * and sort+limit — and Spark's side is a bare V2 scan (reference: the
    * entire SQL statement re-rendered in the backend dialect and shipped
    * as one job, dataux backends/bigquery/sql_to_bq.go:72-104). */
  private def passthrough: Boolean = table.source.pushdown == "passthrough"

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, declined) = filters.partition(table.acceptsFilter)
    pushed = ok
    declined // Spark re-applies these post-scan (residual polyfill)
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Per-partition limit; `isPartiallyPushed` (default true) keeps Spark's
    * global limit on top — the over-read-then-trim semantics the reference
    * applies when a limit can't be fully delegated (sql_to_cql.go:219-229). */
  override def pushLimit(n: Int): Boolean = {
    if (aggregation.isDefined && !passthrough) false
    else { limit = n; true }
  }

  // limit and top-N are partial (each file over-delivers its local best-N
  // and Spark's global operator trims) — except under passthrough, where
  // the single-partition one-job scan delivers the exact sorted result and
  // Spark drops its Sort/Limit entirely
  override def isPartiallyPushed(): Boolean = !passthrough

  /** OFFSET is only expressible when the source runs the whole statement
    * (passthrough; the reference re-renders LIMIT/OFFSET into the BQ
    * dialect the same way) — a per-partition skip would drop the wrong
    * rows everywhere else. Spark only offers the push when the limit/topN
    * was consumed exactly, and the scan skips after its sort+trim. */
  override def pushOffset(n: Int): Boolean =
    if (passthrough) { offset = n; true } else false

  /** ES-style sort+size pushdown (reference: SQL ORDER BY → ES `sort` array
    * + `size`, backends/elasticsearch/sqltoes.go:239-259; Datastore Order,
    * sql_to_datastore.go:118-133): each file keeps only its local top-N via
    * a bounded heap, and Spark's global TopN merges the per-partition
    * candidates (`isPartiallyPushed` = true). At 100 TB this turns a
    * full-scan + global sort into scan-side selection: the shuffle carries
    * N rows per file instead of the table. Only top-level column sorts are
    * accepted; expression sorts are declined and Spark keeps its full sort.
    *
    * Under the passthrough profile the sort keys may also reference the
    * pushed aggregate's output (group columns / agg_i), and the consumed
    * top-N is *exact* (`isPartiallyPushed` = false): the one-job scan emits
    * the globally sorted, limited result and Spark drops its Sort+Limit. */
  override def pushTopN(orders: Array[SortOrder], n: Int): Boolean = {
    if (aggregation.isDefined && !passthrough) return false
    val sortSchema = if (aggregation.isDefined) aggOutSchema else table.schema0
    val keys = orders.map { so =>
      so.expression() match {
        case nr: NamedReference if nr.fieldNames().length == 1 &&
            sortSchema.fieldNames.exists(_.equalsIgnoreCase(nr.fieldNames()(0))) =>
          Some((nr.fieldNames()(0),
            so.direction() == SortDirection.DESCENDING,
            so.nullOrdering() == NullOrdering.NULLS_FIRST))
        case _ => None
      }
    }
    if (keys.exists(_.isEmpty)) false
    else {
      sortKeys = keys.map(_.get)
      limit = n
      true
    }
  }

  /** [[PushedAgg.translate]] over the table schema: any group column;
    * COUNT(col)/MIN/MAX over any column; avg only under the complete
    * pushdown profile, over Int/Long/Short/Double/Float — a sum/count pair
    * can merge across partials, a finished average cannot. */
  private def pushedAgg(agg: Aggregation): Option[(Seq[Int], Seq[AggDef])] = {
    import AggFn._
    PushedAgg.translate(agg, table.schema0, _ => true, {
      case (Count | Min | Max | Sum, _) => true
      case (Avg, f) => passthrough && (f.dataType match {
        case IntegerType | LongType | ShortType | DoubleType | FloatType => true
        case _ => false
      })
      case _ => false
    })
  }

  /** Complete pushdown (reference: the BigQuery backend executes the whole
    * aggregate server-side as one job, sql_to_bq.go:72-104): the scan emits
    * FINAL results and Spark plans no aggregate at all. Only the
    * passthrough profile claims this; "full" stays partial. */
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    passthrough && pushedAgg(agg).isDefined

  /** ES-style aggregate pushdown (reference: SQL→ES aggs,
    * backends/elasticsearch/sqltoes.go:285-365, and the `hits.total`
    * count(*) short-circuit, esresults.go:152-156): each scan partition
    * computes its *partial* count/min/max/sum (optionally grouped), so the
    * scan ships one row per (partition × group) instead of the raw rows,
    * and Spark's final aggregation merges partials — exactly the
    * partial/final placement the reference distributes by hand
    * (planner/executor.go:104-110). The keys/prefix profiles (Cassandra,
    * BigTable) have no server-side aggregation and decline. */
  override def pushAggregation(agg: Aggregation): Boolean = {
    if (table.source.pushdown != "full" && !passthrough) return false
    pushedAgg(agg) match {
      case Some(t) => aggregation = Some(t); true
      case None => false
    }
  }

  private def aggOutSchema: StructType = {
    val (groupIdx, aggs) = aggregation.get
    PushedAgg.outSchema(table.schema0, groupIdx, aggs)
  }

  /** Datastore-style get-by-key short-circuit (reference: key-equality
    * lookups become direct gets, sql_to_datastore.go:70-150; LIKE 'p%'
    * becomes a key range, :478-489): per-file [min, max] metadata recorded
    * at write commit ([[KeyRanges]]) drops files whose range cannot hold
    * any key the pushed conjuncts allow. Returns (kept files, total) —
    * conservative: files without metadata, and incomparable values, always
    * scan. At 100 TB this turns a key lookup over a million-file table
    * into a handful of file reads instead of a full scan. */
  private def pruneByKey(files: Seq[java.io.File]): (Seq[java.io.File], Int) = {
    val total = files.size
    val keyOpt = table.keys.headOption
    if (keyOpt.isEmpty || pushed.isEmpty) return (files, total)
    val key = keyOpt.get
    val keyType = table.schema0.fields
      .find(_.name.equalsIgnoreCase(key)).map(_.dataType)
    if (keyType.isEmpty) return (files, total)
    (KeyPrune.prune(files, key, keyType.get, table.dir, pushed.toSeq), total)
  }

  override def build(): Scan = {
    val (scanFiles, totalFiles) = pruneByKey(table.dataFiles())
    val prunedFrom = if (scanFiles.size < totalFiles) totalFiles else -1
    aggregation match {
    case Some((groupIdx, aggs)) =>
      // parse what the groups, agg inputs and pushed filters reference
      // (filter refs may be dotted nested paths; the parse unit is the
      // top-level column)
      val filterRefs = pushed.flatMap(_.references)
        .map(_.split('.').head.toLowerCase).toSet
      val needed = (groupIdx ++ aggs.map(_.col).filter(_ >= 0)).toSet
      val parseFields = table.schema0.fields.zipWithIndex.filter { case (f, i) =>
        needed.contains(i) || filterRefs.contains(f.name.toLowerCase)
      }
      val parseSchema = StructType(parseFields.map(_._1))
      def reIdx(i: Int): Int =
        parseSchema.fieldNames.indexWhere(_.equalsIgnoreCase(table.schema0.fields(i).name))
      val groups2 = groupIdx.map(reIdx)
      val aggs2 = aggs.map(a => if (a.col < 0) a else a.copy(col = reIdx(a.col)))
      val outSchema = aggOutSchema
      // passthrough consumed sort+limit: resolved against the agg output
      val topNSpecs = sortKeys.map { case (name, desc, nf) =>
        SortSpec(outSchema.fieldNames.indexWhere(_.equalsIgnoreCase(name)), desc, nf)
      }
      new FileAggScanImpl(scanFiles.map(_.getPath), table.format,
        parseSchema, outSchema, groups2, aggs2, pushed,
        complete = passthrough, topNSpecs, if (passthrough) limit else -1,
        prunedFrom, offset)
    case None =>
      // the reader must parse filter-only and sort-only columns too: Spark
      // prunes them out of the required schema once the filter is pushed.
      // Filter references may be dotted nested paths (profile.name); the
      // parse unit is the top-level column.
      val filterRefs = pushed.flatMap(_.references).toSeq ++ sortKeys.map(_._1)
      val filterTops = filterRefs.map(_.split('.').head.toLowerCase).toSet
      // top-level struct columns whose *nested* path a pushed filter needs
      val nestedTops = pushed.flatMap(_.references).filter(_.contains('.'))
        .map(_.split('.').head.toLowerCase).toSet
      val parseFields = table.schema0.fields.flatMap { tf =>
        val req = required.fields.find(_.name.equalsIgnoreCase(tf.name))
        req match {
          case Some(rf) =>
            // a nested-pruned struct must still parse the full table field
            // when a pushed filter resolves through a pruned-away subfield;
            // the reader re-projects the output back to the required shape
            Some(if (nestedTops.contains(tf.name.toLowerCase) && rf.dataType != tf.dataType) tf
                 else rf)
          case None =>
            if (filterTops.contains(tf.name.toLowerCase)) Some(tf) else None
        }
      }
      val parseSchema = StructType(parseFields)
      val outIdx = required.fieldNames.map(n =>
        parseSchema.fieldNames.indexWhere(_.equalsIgnoreCase(n)))
      val topN = sortKeys.map { case (name, desc, nf) =>
        SortSpec(parseSchema.fieldNames.indexWhere(_.equalsIgnoreCase(name)), desc, nf)
      }
      // a passthrough-consumed limit/top-N/offset is exact
      // (isPartiallyPushed = false): one partition delivers the globally
      // sorted, trimmed result
      // bucketed tables expose their layout for storage-partitioned joins
      // only when the deployment opts in (the v2 bucketing conf): grouping
      // partitions by bucket trades scan parallelism for shuffle-free joins
      val spjConf = try org.apache.spark.sql.SparkSession.active.conf
        .get("spark.sql.sources.v2.bucketing.enabled", "false") == "true"
        catch { case _: Exception => false }
      val bucketSpec =
        if (table.buckets > 0)
          table.keys.headOption.flatMap(k => table.schema0.fields
            .find(_.name.equalsIgnoreCase(k))
            .map(f => (table.buckets, f.name)))
        else None
      new FileScanImpl(scanFiles.map(_.getPath), table.format,
        parseSchema, required, outIdx, pushed, limit, topN,
        onePartition = passthrough && (limit >= 0 || offset > 0), prunedFrom,
        offset, runtimeKey = KeyPrune.hookFor(table),
        streamDir = table.dir.getPath, maxFilesPerTrigger = maxFilesPerTrigger,
        bucketSpec = bucketSpec, spjEnabled = spjConf)
    }
  }
}

/** Scan emitting aggregation results: per-partition *partials* merged by
  * Spark's final aggregate, or — under complete (passthrough) pushdown —
  * the FINAL result from one partition spanning every file, the "whole
  * statement ships as one backend job" shape of the reference's BigQuery
  * translator (sql_to_bq.go:72-104; there the one job is itself a
  * distributed engine — here the file stand-in serializes, which is the
  * faithful cost model for a passthrough that Spark cannot parallelize). */
class FileAggScanImpl(
    files: Seq[String],
    format: String,
    parseSchema: StructType,
    outputSchema: StructType,
    groupIdx: Seq[Int],
    aggs: Seq[AggDef],
    pushed: Array[Filter],
    complete: Boolean = false,
    topN: Array[SortSpec] = Array.empty,
    limit: Int = -1,
    prunedFrom: Int = -1,
    offset: Int = 0) extends Scan with Batch {

  override def readSchema(): StructType = outputSchema

  override def description(): String =
    s"GraftFileAggScan format=$format " +
      s"files=${files.size}${if (prunedFrom >= 0) s"/$prunedFrom key-pruned" else ""} " +
      s"Complete: $complete, " +
      s"PushedFilters: [${pushed.mkString(", ")}], " +
      s"PushedAggregates: [${aggs.map(_.tag).mkString(", ")}], " +
      s"PushedGroupBy: [${groupIdx.mkString(", ")}], " +
      s"PushedTopN: ${if (topN.nonEmpty) s"[${topN.mkString(", ")}] limit=$limit" else "none"}"

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val parts =
      if (complete) // one job: final results need global visibility
        Seq(files.map(f => FileChunk(f, 0L, new File(f).length())))
      else
        ScanChunks.plan(files, splittable = FileCodec.forFormat(format) == JsonCodec)
    parts.map(chs => FileAggPartition(chs.toArray, format, parseSchema.json,
      outputSchema.json, groupIdx.toArray, aggs.toArray, pushed,
      complete, topN, limit, offset): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new FileAggReaderFactory
}

final case class FileAggPartition(
    chunks: Array[FileChunk],
    format: String,
    parseSchemaJson: String,
    outputSchemaJson: String,
    groupIdx: Array[Int],
    aggs: Array[AggDef],
    filters: Array[Filter],
    complete: Boolean,
    topN: Array[SortSpec],
    limit: Int,
    offset: Int = 0) extends InputPartition

class FileAggReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[FileAggPartition]
    val parseSchema = DataType.fromJson(p.parseSchemaJson).asInstanceOf[StructType]
    val outSchema = DataType.fromJson(p.outputSchemaJson).asInstanceOf[StructType]
    val codec = FileCodec.forFormat(p.format)

    def newAcc(): Array[Any] = p.aggs.map(_.fn match {
      case AggFn.Avg => Array[Any](0.0, 0L) // running (sum, count)
      case AggFn.Min | AggFn.Max | AggFn.Sum => null // start absent
      case _ => java.lang.Long.valueOf(0L) // counts
    })
    def update(acc: Array[Any], row: Array[Any]): Unit = {
      var i = 0
      while (i < p.aggs.length) {
        val a = p.aggs(i)
        val v = if (a.col >= 0) row(a.col) else null
        a.fn match {
          case AggFn.Count =>
            if (v != null)
              acc(i) = java.lang.Long.valueOf(acc(i).asInstanceOf[java.lang.Long] + 1L)
          case AggFn.Min =>
            if (v != null && (acc(i) == null || FilterEval.cmp(v, acc(i)).exists(_ < 0)))
              acc(i) = v
          case AggFn.Max =>
            if (v != null && (acc(i) == null || FilterEval.cmp(v, acc(i)).exists(_ > 0)))
              acc(i) = v
          case AggFn.Sum if a.out == LongType =>
            if (v != null) {
              val add = v.asInstanceOf[Number].longValue()
              acc(i) = java.lang.Long.valueOf(
                (if (acc(i) == null) 0L else acc(i).asInstanceOf[java.lang.Long].longValue()) + add)
            }
          case AggFn.Sum =>
            if (v != null) {
              val add = v.asInstanceOf[Number].doubleValue()
              acc(i) = java.lang.Double.valueOf(
                (if (acc(i) == null) 0.0 else acc(i).asInstanceOf[java.lang.Double].doubleValue()) + add)
            }
          case AggFn.Avg =>
            if (v != null) {
              val pair = acc(i).asInstanceOf[Array[Any]]
              pair(0) = pair(0).asInstanceOf[Double] + v.asInstanceOf[Number].doubleValue()
              pair(1) = pair(1).asInstanceOf[Long] + 1L
            }
          case _ => // COUNT(*)
            acc(i) = java.lang.Long.valueOf(acc(i).asInstanceOf[java.lang.Long] + 1L)
        }
        i += 1
      }
    }

    val groups = mutable.LinkedHashMap.empty[List[Any], Array[Any]]
    val in = ScanChunks.records(p.chunks.toSeq, codec, parseSchema)
    try {
      in.filter(row => p.filters.forall(FilterEval.eval(_, parseSchema, row)))
        .foreach { row =>
          val key = p.groupIdx.map(row(_)).toList
          update(groups.getOrElseUpdate(key, newAcc()), row)
        }
    } finally in.close()
    if (p.groupIdx.isEmpty && groups.isEmpty)
      groups.put(Nil, newAcc()) // neutral partial for a filtered-empty partition

    def finish(acc: Array[Any]): Seq[Any] = p.aggs.indices.map { i =>
      (p.aggs(i).fn, acc(i)) match {
        case (AggFn.Avg, pair: Array[Any]) =>
          val cnt = pair(1).asInstanceOf[Long]
          if (cnt == 0L) null
          else java.lang.Double.valueOf(pair(0).asInstanceOf[Double] / cnt)
        case (_, v) => v
      }
    }
    var outRows: Iterator[Array[Any]] = groups.iterator.map {
      case (key, acc) => (key ++ finish(acc)).toArray
    }
    if (p.complete && p.topN.nonEmpty) // consumed ORDER BY: final rows sorted
      outRows = outRows.toArray.sorted(SortSpec.ordering(p.topN)).iterator
    if (p.complete && p.limit >= 0)
      outRows = outRows.take(p.limit) // Spark pushes limit+offset combined
    if (p.complete && p.offset > 0)
      outRows = outRows.drop(p.offset)
    val conv = CatalystTypeConverters.createToCatalystConverter(outSchema)
    val it = outRows.map(r => conv(Row.fromSeq(r.toSeq)).asInstanceOf[InternalRow])
    IteratorReader(it)
  }
}

class FileScanImpl(
    files0: Seq[String],
    format: String,
    parseSchema: StructType,
    outputSchema: StructType,
    outputIndices: Array[Int],
    pushed: Array[Filter],
    limit: Int,
    topN: Array[SortSpec] = Array.empty,
    onePartition: Boolean = false,
    prunedFrom: Int = -1,
    offset: Int = 0,
    runtimeKey: Option[(String, org.apache.spark.sql.types.DataType, String)] = None,
    streamDir: String = null,
    maxFilesPerTrigger: Option[Int] = None,
    bucketSpec: Option[(Int, String)] = None,
    spjEnabled: Boolean = false)
  extends Scan with Batch
  with org.apache.spark.sql.connector.read.SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
  with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  // mutated (narrowed only) by runtime filtering before partition planning
  private var files: Seq[String] = files0

  /** Post-runtime-filter file count (observability + specs). */
  private[graft] def plannedFileCount: Int = files.size

  /** Runtime (dynamic-file-pruning) hook: a broadcast-join dim's key set
    * arrives mid-query as In/EqualTo filters on the key column; the same
    * key-range metadata that serves pushdown pruning then drops files no
    * surviving key can live in — at 100 TB, a selective dim join reads a
    * handful of files instead of the table. Offered only when the key
    * column is in the scan output (Spark resolves filter attributes
    * against it). */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    runtimeKey match {
      case Some((k, _, _)) if outputSchema.fieldNames.exists(_.equalsIgnoreCase(k)) =>
        Array(org.apache.spark.sql.connector.expressions.Expressions.column(k))
      case _ => Array.empty
    }

  override def filter(filters: Array[Filter]): Unit = {
    // under an active storage-partitioned join the reported partitioning
    // (bucket values present) is already baked into the plan; narrowing
    // the file list here could drop a bucket the join layout counts on
    if (spjActive) return
    runtimeKey.foreach { case (k, t, dirPath) =>
      files = KeyPrune
        .prune(files.map(new File(_)), k, t, new File(dirPath), filters.toSeq)
        .map(_.getPath)
    }
  }

  // ---- storage-partitioned layout ---------------------------------------

  /** Sidecar metadata for the scanned files (bucket ids + row counts). */
  private lazy val fileMeta: Map[String, FileMeta] =
    if (streamDir == null) Map.empty else KeyRanges.load(new File(streamDir))

  /** Bucket layout is reported only when the deployment enabled v2
    * bucketing, the table declares buckets, EVERY scanned file has a
    * recorded bucket id, and the bucket key survives projection (the join
    * planner must resolve it against the scan output). */
  private lazy val spjActive: Boolean = spjEnabled && bucketSpec.exists {
    case (_, key) =>
      outputSchema.fieldNames.exists(_.equalsIgnoreCase(key)) &&
        files.nonEmpty &&
        files.forall(f => fileMeta.get(new File(f).getName).exists(_.bucket >= 0))
  }

  /** (bucket id, that bucket's files), ordered by bucket. */
  private lazy val bucketGroups: Seq[(Int, Seq[String])] =
    files.groupBy(f => fileMeta(new File(f).getName).bucket)
      .toSeq.sortBy(_._1).map { case (b, fs) => (b, fs.sorted) }

  /** Declared layout: `bucket(N, key)` KeyGroupedPartitioning with one
    * partition per populated bucket — Catalyst resolves the transform via
    * the graft FunctionCatalog ([[GraftBucketBound]]) and plans co-
    * bucketed joins with NO Exchange (storage-partitioned join). */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.read.partitioning._
    if (spjActive) {
      val (n, key) = bucketSpec.get
      new KeyGroupedPartitioning(
        Array(Expressions.bucket(n, key)), bucketGroups.size)
    } else new UnknownPartitioning(0)
  }

  /** Streaming read over the table's directory: new part files are the
    * stream (see [[FileMicroBatchStream]]); the pushed filters and pruned
    * schemas of this scan apply to every micro-batch. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(streamDir != null,
      "streaming read needs the table directory (scan built without it)")
    new FileMicroBatchStream(streamDir, FileCodec.forFormat(format).extension,
      format, parseSchema.json, outputSchema.json, outputIndices, pushed,
      checkpointLocation, maxFilesPerTrigger)
  }

  override def readSchema(): StructType = outputSchema

  override def description(): String =
    s"GraftFileScan format=$format " +
      s"files=${files.size}${if (prunedFrom >= 0) s"/$prunedFrom key-pruned" else ""} " +
      s"Exact: $onePartition, " +
      s"PushedFilters: [${pushed.mkString(", ")}], " +
      s"PushedLimit: ${if (limit >= 0) limit.toString else "none"}, " +
      s"PushedTopN: ${if (topN.nonEmpty) s"[${topN.mkString(", ")}] limit=$limit" else "none"}, " +
      s"ReadSchema: ${outputSchema.catalogString}"

  /** Honest size for the planner: the bytes of the (key-pruned) file
    * list. Without this a DSv2 scan reports `defaultSizeInBytes`
    * (effectively infinite), so Catalyst could NEVER auto-broadcast a
    * tiny dimension read through the connector — the reference's engine
    * sizes its sources the same way a warehouse does. Text bytes can
    * UNDERESTIMATE in-memory row width for numeric-dense rows (an
    * UnsafeRow is 8 bytes per field), so the size is scaled by
    * `spark.sql.sources.fileCompressionFactor` — the same deployment knob
    * Spark's own file sources use for this correction. Row counts come
    * from the sidecar when every scanned file recorded one (counts are
    * upper bounds after un-pushed deletes: advisory, like the ranges). */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      private val factor = try org.apache.spark.sql.SparkSession.active.conf
        .get("spark.sql.sources.fileCompressionFactor", "1.0").toDouble
        catch { case _: Exception => 1.0 }
      private val bytes = files.map(f => new File(f).length()).sum
      private val rowCounts = files.map(f =>
        fileMeta.get(new File(f).getName).map(_.rows).getOrElse(-1L))
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(1L, (bytes * factor).toLong))
      override def numRows(): java.util.OptionalLong =
        if (rowCounts.nonEmpty && rowCounts.forall(_ >= 0))
          java.util.OptionalLong.of(rowCounts.sum)
        else java.util.OptionalLong.empty()
    }

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    if (spjActive)
      // one partition per populated bucket, keyed so Spark's SPJ planner
      // aligns it with the other side's matching bucket
      return bucketGroups.map { case (b, fs) =>
        BucketedFilePartition(FilePartition(
          fs.map(f => FileChunk(f, 0L, new File(f).length())).toArray, format,
          parseSchema.json, outputSchema.json, outputIndices, pushed, limit,
          topN, offset), b): InputPartition
      }.toArray
    val parts =
      if (onePartition) // exact consumed limit/top-N: global visibility
        Seq(files.map(f => FileChunk(f, 0L, new File(f).length())))
      else
        ScanChunks.plan(files, splittable = FileCodec.forFormat(format) == JsonCodec)
    parts.map(chs => FilePartition(chs.toArray, format, parseSchema.json,
      outputSchema.json, outputIndices, pushed, limit, topN,
      offset): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new FilePartitionReaderFactory
}

class FilePartitionReaderFactory extends PartitionReaderFactory {

  /** Re-project a parsed value to the required output type: identity for
    * scalars and identically-shaped structs; a struct parsed wider than
    * required (full field kept for a nested pushed filter) is narrowed to
    * the required subfields recursively. */
  private def projectValue(v: Any, from: DataType, to: DataType): Any =
    (v, from, to) match {
      case (null, _, _) => null
      case (r: Row, f: StructType, t: StructType) if f != t =>
        Row.fromSeq(t.fields.toSeq.map { tf =>
          val i = f.fieldNames.indexWhere(_.equalsIgnoreCase(tf.name))
          if (i < 0) null else projectValue(r.get(i), f.fields(i).dataType, tf.dataType)
        })
      case _ => v
    }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition match {
      case b: BucketedFilePartition => b.inner
      case f: FilePartition => f
    }
    val parseSchema = DataType.fromJson(p.parseSchemaJson).asInstanceOf[StructType]
    val outSchema = DataType.fromJson(p.outputSchemaJson).asInstanceOf[StructType]
    val codec = FileCodec.forFormat(p.format)
    val in = ScanChunks.records(p.chunks.toSeq, codec, parseSchema)
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(outSchema)
    val base = in
      .filter(row => p.filters.forall(FilterEval.eval(_, parseSchema, row)))
    val limited =
      if (p.topN.nonEmpty && p.limit >= 0) {
        // bounded selection: keep the partition's N best rows in a max-heap
        // of the current worst — O(rows·log N) time, O(N) memory per task
        val ord = SortSpec.ordering(p.topN)
        val heap = new mutable.PriorityQueue[Array[Any]]()(ord)
        base.foreach { row =>
          if (heap.size < p.limit) heap.enqueue(row)
          else if (ord.compare(row, heap.head) < 0) { heap.dequeue(); heap.enqueue(row) }
        }
        heap.dequeueAll.reverseIterator.drop(p.offset)
      } else if (p.limit >= 0) base.take(p.limit).drop(p.offset)
      else if (p.offset > 0) base.drop(p.offset) // consumed OFFSET, no limit
      else base
    val rows = limited.map { row =>
      val out = p.outputIndices.indices.map { oi =>
        val pi = p.outputIndices(oi)
        projectValue(row(pi), parseSchema.fields(pi).dataType,
          outSchema.fields(oi).dataType)
      }
      toCatalyst(Row.fromSeq(out)).asInstanceOf[InternalRow]
    }
    IteratorReader(rows, in.close())
  }
}

/** Scan for the `_files` meta-table: listing computed at plan time on the
  * driver, shipped as one partition. No pushdown — every filter is declined
  * so Spark polyfills all predicates. */
class FilesMetaScanBuilder(source: SourceDef) extends ScanBuilder {
  override def build(): Scan = new Scan with Batch {
    private val rows = FilesMetaTable.listRows(source)
    override def readSchema(): StructType = FilesMetaTable.Schema
    override def description(): String = s"GraftFilesMeta source=${source.name}"
    override def toBatch: Batch = this
    override def planInputPartitions(): Array[InputPartition] =
      Array(MetaRowsPartition(rows))
    override def createReaderFactory(): PartitionReaderFactory =
      new MetaReaderFactory
  }
}

final case class MetaRowsPartition(rows: Array[Array[Any]]) extends InputPartition

class MetaReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val rows = partition.asInstanceOf[MetaRowsPartition].rows
    val conv = CatalystTypeConverters.createToCatalystConverter(FilesMetaTable.Schema)
    val it = rows.iterator.map(r => conv(Row.fromSeq(r.toSeq)).asInstanceOf[InternalRow])
    IteratorReader(it)
  }
}
