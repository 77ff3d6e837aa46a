package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.expressions.{Expression, NamedReference, SortOrder}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** BigQuery-style FULL-STATEMENT passthrough over a REST wire: the
  * reference's BQ backend re-renders the entire SQL statement in the
  * target dialect and ships it as ONE job — filters, aggregate, sort,
  * limit, offset all consumed by the warehouse
  * (`backends/bigquery/sql_to_bq.go:72-104`; results page back through
  * the jobs API). Here the pushed DSv2 plan is RENDERED to SQL text
  * ([[BqSql]]), POSTed to the loopback warehouse's `/bq/query` endpoint,
  * which PARSES it back ([[BqEval.parse]] — a real recursive-descent
  * predicate parser, not a string match), executes it over its rows with
  * the engine's 3VL semantics, and answers the BQ REST response shape
  * (string-encoded cells, `pageToken` paging). The Spark plan left
  * behind is a bare V2 scan: aggregation COMPLETE, sort/limit/offset
  * consumed exactly.
  */
object BqSql {

  // ---- rendering (client side) ------------------------------------------

  def renderLit(v: Any): Option[String] = v match {
    case null => None
    case _: java.lang.Integer | _: java.lang.Long | _: java.lang.Short => Some(v.toString)
    case d: java.lang.Double => Some(d.toString)
    case f: java.lang.Float => Some(f.doubleValue().toString)
    case b: java.lang.Boolean => Some(if (b) "TRUE" else "FALSE")
    case s: String => Some("'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'")
    case t: java.sql.Timestamp => Some(s"TIMESTAMP '${t.toString}'")
    case i: java.time.Instant =>
      Some(s"TIMESTAMP '${java.sql.Timestamp.from(i).toString}'")
    case _ => None
  }

  /** LIKE-pattern escape for a literal fragment (% _ \ are meta).
    *
    * Two escape levels stack on the wire: the server's string-literal
    * scanner ([[BqSql.Parser#stringLit]]) consumes one level, and the
    * LIKE unescaper consumes another. So LIKE-meta characters must be
    * DOUBLY escaped here (backslash-backslash before % and _, four
    * backslashes for a literal backslash) so that after stringLit they
    * still read as escaped meta — otherwise a fragment "x%" collapses to
    * a bare anchor and the pattern silently changes shape. The quote
    * escape is single: it only has to survive stringLit. */
  private def likeEsc(s: String): String =
    s.replace("\\", "\\\\\\\\").replace("%", "\\\\%").replace("_", "\\\\_")
      .replace("'", "\\'")

  /** Render one Spark filter as a predicate; None = not renderable. */
  def render(f: Filter): Option[String] = f match {
    case EqualTo(a, v) => renderLit(v).map(l => s"$a = $l")
    case EqualNullSafe(a, v) =>
      // exact null-safe semantics in plain SQL (2VL under NOT as well)
      if (v == null) Some(s"$a IS NULL")
      else renderLit(v).map(l => s"($a IS NOT NULL AND $a = $l)")
    case GreaterThan(a, v) => renderLit(v).map(l => s"$a > $l")
    case GreaterThanOrEqual(a, v) => renderLit(v).map(l => s"$a >= $l")
    case LessThan(a, v) => renderLit(v).map(l => s"$a < $l")
    case LessThanOrEqual(a, v) => renderLit(v).map(l => s"$a <= $l")
    case In(a, vs) if vs != null && vs.nonEmpty =>
      val ls = vs.toSeq.map(renderLit)
      if (ls.exists(_.isEmpty)) None else Some(s"$a IN (${ls.map(_.get).mkString(", ")})")
    case IsNull(a) => Some(s"$a IS NULL")
    case IsNotNull(a) => Some(s"$a IS NOT NULL")
    case StringStartsWith(a, v) => Some(s"$a LIKE '${likeEsc(v)}%'")
    case StringEndsWith(a, v) => Some(s"$a LIKE '%${likeEsc(v)}'")
    case StringContains(a, v) => Some(s"$a LIKE '%${likeEsc(v)}%'")
    case And(l, r) => for (a <- render(l); b <- render(r)) yield s"($a AND $b)"
    case Or(l, r) => for (a <- render(l); b <- render(r)) yield s"($a OR $b)"
    case Not(c) => render(c).map(x => s"NOT ($x)")
    case _: AlwaysTrue => Some("TRUE")
    case _: AlwaysFalse => Some("FALSE")
    case _ => None
  }

  /** One ORDER BY item; the target is the column reference. */
  type Order = SortKey[String]
  val Order = SortKey
}

/** Serializable BQ endpoint pointer. */
final case class BqEndpointSpec(baseUrl: String, table: String, cfg: WireClientConfig)

final case class BqEndpoint(source: String, table: String, schema: StructType,
    spec: BqEndpointSpec, splits: Option[WireSplits] = None) extends WireEndpoint {
  def newTable(): Table = new BqTable(this)
}

class BqTable(val ep: BqEndpoint) extends Table with SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDelete
  with WireScanTable {
  override def name(): String =
    s"${SourceRegistry.CatalogName}.${ep.source}.${ep.table}"
  override def schema(): StructType = ep.schema
  override def capabilities(): util.Set[TableCapability] =
    util.Set.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new BqScanBuilder(ep, WireFanout.hintFrom(options))

  /** INSERT INTO: every task streams its rows as tabledata `insertAll`
    * batches (the reference's BQ Put sink is the same streaming-insert
    * surface, `sql_to_bq.go:178-304`). */
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new WireBatchWrite(new BqWriterFactory(ep.spec, ep.schema.json))

  /** DELETE FROM ... WHERE: renders to ONE standard-SQL DML statement
    * and ships it as a job (`DELETE FROM t WHERE ...` — the service's
    * own DML surface; the reference never implemented BQ deletes).
    * Un-renderable predicates refuse so Spark reports the delete as
    * unsupported instead of mutating the wrong set. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => BqSql.render(f).isDefined)
  override def deleteWhere(filters: Array[Filter]): Unit = {
    val preds = filters.toSeq.flatMap(BqSql.render)
    val whereSql = if (preds.isEmpty) "TRUE" else preds.mkString(" AND ")
    val client = new HttpRestClient(ep.spec.baseUrl, ep.spec.cfg)
    client.postJson(s"/bq/${ep.spec.table}/query",
      EsDsl.M.createObjectNode()
        .put("query", s"DELETE FROM ${ep.spec.table} WHERE $whereSql").toString)
  }
}

class BqWriterFactory(spec: BqEndpointSpec, schemaJson: String)
  extends HttpBatchWriterFactory(spec.baseUrl, spec.cfg, schemaJson) {
  // streaming insert is at-least-once per batch, like the reference's Put
  override protected def send(client: HttpRestClient, schema: StructType,
      rows: Seq[Row]): Unit = {
    val body = EsDsl.M.createObjectNode()
    val arr = body.putArray("rows")
    rows.foreach { row =>
      val json = arr.addObject().putObject("json")
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        if (!row.isNullAt(i)) json.put(f.name, LineCodec.render(row.get(i)))
      }
    }
    client.postJson(s"/bq/${spec.table}/insertAll", body.toString)
  }
}

/** Passthrough pushdown: the WHOLE statement renders to SQL — arbitrary
  * filter trees (incl. OR/NOT), COMPLETE aggregation, exact top-N /
  * limit / offset (`isPartiallyPushed` = false: the warehouse's answer
  * IS the final answer, Spark plans a bare scan). */
/** One pushed same-warehouse join, rendered into the single passthrough
  * statement (the reference's BQ identity: `sql_to_bq.go:72-104`
  * re-renders whatever statement it gets — joins included). `cols` is
  * the joined output in order: (outputName, fromLeftSide, sourceField,
  * type). The null-extended side's pre-join filters ride the ON clause
  * (a WHERE there would wrongly drop null-extended rows); the preserved
  * side's ride WHERE. */
final case class BqJoinSpec(kind: String, rightTable: String,
    cols: Seq[(String, Boolean, String, DataType)],
    leftKeyCol: String, rightKeyCol: String, rightPushed: Array[Filter])

class BqScanBuilder(private val ep: BqEndpoint, hint: Option[Int] = None) extends ScanBuilder
  with PushedFilter
  with SupportsPushDownRequiredColumns
  with SupportsPushDownLimit
  with SupportsPushDownOffset
  with SupportsPushDownTopN
  with SupportsPushDownAggregates
  with SupportsPushDownJoin {

  private var required: StructType = ep.schema
  private var limit: Int = -1
  private var offset: Int = 0
  private var orders: Seq[BqSql.Order] = Nil
  private var agg: Option[(Seq[Int], Seq[AggDef])] = None
  private var join: Option[BqJoinSpec] = None

  // ---- same-warehouse join pushdown (full-statement render) ---------------
  // INNER, LEFT OUTER and RIGHT OUTER all render exactly (the statement
  // IS SQL — no semantic gap to bridge, unlike Mongo's $lookup). Runs in
  // the optimizer's join phase: both sides' filters are already pushed
  // into their builders and re-render under the side's alias.

  override def isOtherSideCompatibleForJoin(
      other: SupportsPushDownJoin): Boolean = other match {
    case o: BqScanBuilder =>
      // one join per statement; both tables on ONE warehouse; neither
      // side already consumed an agg/sort/window (those never precede
      // the join phase, but stay defensive)
      join.isEmpty && o.join.isEmpty && agg.isEmpty && o.agg.isEmpty &&
        orders.isEmpty && o.orders.isEmpty && limit < 0 && o.limit < 0 &&
        offset == 0 && o.offset == 0 &&
        ep.spec.baseUrl == o.ep.spec.baseUrl
    case _ => false
  }

  override def pushDownJoin(
      other: SupportsPushDownJoin,
      joinType: org.apache.spark.sql.connector.join.JoinType,
      leftCols: Array[SupportsPushDownJoin.ColumnWithAlias],
      rightCols: Array[SupportsPushDownJoin.ColumnWithAlias],
      condition: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Boolean = {
    import org.apache.spark.sql.connector.join.{JoinType => JT}
    val kind = joinType match {
      case JT.INNER_JOIN => "inner"
      case JT.LEFT_OUTER_JOIN => "left"
      case JT.RIGHT_OUTER_JOIN => "right"
      case _ => return false
    }
    val o = other.asInstanceOf[BqScanBuilder]
    if (join.isDefined || o.join.isDefined || agg.isDefined || o.agg.isDefined)
      return false
    def resolve(schema: StructType, wa: SupportsPushDownJoin.ColumnWithAlias)
        : Option[(String, String, DataType)] =
      schema.fields.find(_.name.equalsIgnoreCase(wa.colName()))
        .map(f => (Option(wa.alias()).getOrElse(f.name), f.name, f.dataType))
    val l = leftCols.toSeq.map(resolve(ep.schema, _))
    val r = rightCols.toSeq.map(resolve(o.ep.schema, _))
    if ((l ++ r).exists(_.isEmpty)) return false
    val cols = l.map(x => (x.get._1, true, x.get._2, x.get._3)) ++
      r.map(x => (x.get._1, false, x.get._2, x.get._3))
    // single equi-key: `=` over one column per side, by OUTPUT name
    def refName(e: Expression): Option[String] = e match {
      case nr: NamedReference if nr.fieldNames().length == 1 =>
        Some(nr.fieldNames()(0))
      case _ => None
    }
    val key: Option[(String, String)] =
      if (condition == null || condition.name() != "=" ||
        condition.children().length != 2) None
      else (refName(condition.children()(0)), refName(condition.children()(1))) match {
        case (Some(a), Some(b)) =>
          def side(n: String): Option[(String, Boolean, String, DataType)] =
            cols.find(_._1.equalsIgnoreCase(n))
          (side(a), side(b)) match {
            case (Some((_, true, lf, _)), Some((_, false, ff, _))) => Some((lf, ff))
            case (Some((_, false, ff, _)), Some((_, true, lf, _))) => Some((lf, ff))
            case _ => None
          }
        case _ => None
      }
    key match {
      case Some((lf, ff)) =>
        join = Some(BqJoinSpec(kind, o.ep.table, cols, lf, ff, o.pushed))
        required = StructType(cols.map(c => StructField(c._1, c._4, nullable = true)))
        true
      case None => false
    }
  }

  override protected def filtersClosed: Boolean = join.isDefined
  override protected def acceptFilters(filters: Array[Filter]): collection.Seq[Filter] =
    filters.filter(f => BqSql.render(f).isDefined)

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Resolution base for post-scan pushdowns: the JOINED output
    * (name, SQL reference, type) when a join was pushed, else the raw
    * table columns. The SQL reference carries the side alias under a
    * join (`t0.x`) — the handle the rendered statement sorts/groups/
    * aggregates by. */
  private def resolveCols: Seq[(String, String, DataType)] = join match {
    case Some(j) => j.cols.map { case (out, fromLeft, src, dt) =>
      (out, if (fromLeft) s"t0.$src" else s"t1.$src", dt) }
    case None => ep.schema.fields.toSeq.map(f => (f.name, f.name, f.dataType))
  }

  // post-join limit/offset render into the single joined statement —
  // the warehouse windows the joined rows, the engine reads n rows
  override def pushLimit(n: Int): Boolean = { limit = n; true }
  override def pushOffset(n: Int): Boolean = { offset = n; true }

  /** Sortable output: (output name, SQL reference) — the pushed
    * aggregate's output when one was consumed (group keys by their
    * qualified reference, `agg_i` by alias), else the scan columns. */
  private def sortable: Seq[(String, String)] = agg match {
    case Some((gs, as)) =>
      gs.map(i => (resolveCols(i)._1, resolveCols(i)._2)) ++
        as.indices.map(i => (s"agg_$i", s"agg_$i"))
    case None => resolveCols.map(c => (c._1, c._2))
  }

  override def pushTopN(so: Array[SortOrder], n: Int): Boolean =
    PushedWindow.keys(so)(PushedWindow.byName(sortable)) match {
      case Some(ks) => orders = ks; limit = n; true
      case None => false
    }
  /** The warehouse's answer is final — sort/limit/offset consumed. */
  override def isPartiallyPushed(): Boolean = false

  /** [[resolveCols]] as the schema aggregates resolve against. */
  private def resolveSchema: StructType =
    StructType(resolveCols.map(c => StructField(c._1, c._3, nullable = true)))

  /** [[PushedAgg.translate]] against the scan's resolution base — the raw
    * table, or the joined output when a join was pushed (the classic
    * fact⨝dim→aggregate renders as ONE statement). Any group column;
    * MIN/MAX/AVG over numeric columns. */
  private def pushedAgg(a: Aggregation): Option[(Seq[Int], Seq[AggDef])] = {
    import AggFn._
    PushedAgg.translate(a, resolveSchema, _ => true, {
      case (Count | Sum, _) => true
      case (Min | Max | Avg, f) => f.dataType.isInstanceOf[NumericType]
      case _ => false
    })
  }

  override def supportCompletePushDown(a: Aggregation): Boolean =
    pushedAgg(a).isDefined
  override def pushAggregation(a: Aggregation): Boolean =
    pushedAgg(a) match {
      case Some(t) => agg = Some(t); true
      case None => false
    }

  private def aggOutSchema: StructType = agg match {
    case Some((gs, as)) => PushedAgg.outSchema(resolveSchema, gs, as)
    case None => required
  }

  override def build(): Scan = {
    join.foreach { j =>
      def rendered(fs: Array[Filter], alias: String): Seq[String] =
        fs.toSeq.flatMap(f =>
          PushedFilter.mapRefs(f)(a => Some(s"$alias.$a")).flatMap(BqSql.render))
      // preserved side's pre-join filters → WHERE (equivalent pre/post);
      // null-extended side's → ON (a WHERE would drop null-extended rows)
      val (onSide, whereSide) = j.kind match {
        case "left" => (rendered(j.rightPushed, "t1"), rendered(pushed, "t0"))
        case "right" => (rendered(pushed, "t0"), rendered(j.rightPushed, "t1"))
        case _ => (Nil, rendered(pushed, "t0") ++ rendered(j.rightPushed, "t1"))
      }
      val joinKw = j.kind match {
        case "left" => "LEFT JOIN"
        case "right" => "RIGHT JOIN"
        case _ => "JOIN"
      }
      val onSql = (s"t0.${j.leftKeyCol} = t1.${j.rightKeyCol}" +: onSide)
        .mkString(" AND ")
      // select list + trailing clauses: an aggregate consumed ON TOP of
      // the join renders as side-qualified GROUP BY + agg items — the
      // classic fact⨝dim→aggregate shape answers group-count-sized from
      // ONE warehouse statement; TopN/limit/offset append the same way
      // they do on a single-table statement
      val cols = resolveCols
      val (items, groupSql, outSchema) = agg match {
        case Some((gs, as)) =>
          val its = gs.map(cols(_)._2) ++ as.zipWithIndex.map { case (d, k) =>
            s"${d.sql(if (d.col < 0) "" else cols(d.col)._2)} AS agg_$k"
          }
          val grp = if (gs.isEmpty) ""
            else " GROUP BY " + gs.map(cols(_)._2).mkString(", ")
          (its, grp, aggOutSchema)
        case None =>
          // select items follow `required` (Spark may have pruned the
          // joined output); decode is positional — no aliases needed
          val byOut = cols.map(c => c._1.toLowerCase -> c).toMap
          val outCols = required.fieldNames.toSeq.map(n => byOut(n.toLowerCase))
          (outCols.map(_._2), "",
            StructType(outCols.map(c => StructField(c._1, c._3, nullable = true))))
      }
      val renderJoin: Seq[String] => String = extras => {
        val w = whereSide ++ extras
        val whereSql = if (w.isEmpty) "" else " WHERE " + w.mkString(" AND ")
        s"SELECT ${items.mkString(", ")} FROM ${ep.table} t0 " +
          s"$joinKw ${j.rightTable} t1 ON $onSql$whereSql$groupSql$windowSql"
      }
      // runtime semi-join keys AND into the joined statement's WHERE —
      // INNER only (under an outer join a WHERE on the null-extended
      // side would drop rows the join must null-extend, and the
      // preserved/extended split is not worth a second ON plumbing).
      // Under a consumed aggregate only GROUP-KEY pruning is sound —
      // same rule as the bare statement.
      val rtCols: Seq[(String, String)] =
        if (j.kind != "inner") Nil
        else agg match {
          case Some((gs, _)) => gs.map(i => (cols(i)._1, cols(i)._2))
          case None => outSchema.fieldNames.toSeq.map { n =>
            val c = cols.find(_._1.equalsIgnoreCase(n)).get
            (c._1, c._2)
          }
        }
      return new BqScan(ep, outSchema, renderJoin(Nil), None, pushed,
        aggMode = agg.isDefined, hint, extraRender = Some(renderJoin),
        runtimeCols = rtCols, delegatesOrderedWindow = orderedWindow)
    }
    val whereSql = pushed.toSeq.flatMap(BqSql.render) match {
      case Nil => ""
      case ps => " WHERE " + ps.mkString(" AND ")
    }
    val (selectSql, groupSql, outSchema) = agg match {
      case Some((gs, as)) =>
        val items = gs.map(ep.schema.fieldNames(_)) ++ as.zipWithIndex.map { case (d, k) =>
          s"${d.sql(if (d.col < 0) "" else ep.schema.fieldNames(d.col))} AS agg_$k"
        }
        val grp = if (gs.isEmpty) ""
          else " GROUP BY " + gs.map(ep.schema.fieldNames(_)).mkString(", ")
        (items.mkString(", "), grp, aggOutSchema)
      case None =>
        val cols = if (required.fields.isEmpty) Seq(ep.schema.fieldNames.head)
          else required.fieldNames.toSeq
        (cols.mkString(", "), "",
          if (required.fields.isEmpty)
            StructType(Seq(ep.schema.fields.head)) else required)
    }
    val renderFull: Seq[String] => String = extras => {
      val w = pushed.toSeq.flatMap(BqSql.render) ++ extras
      val whereS = if (w.isEmpty) "" else " WHERE " + w.mkString(" AND ")
      s"SELECT $selectSql FROM ${ep.table}$whereS$groupSql$windowSql"
    }
    val sql = renderFull(Nil)
    // a "bare" statement (no agg/sort/limit/offset consumed) may shard:
    // per-partition statements append a key-range conjunct to the WHERE
    val bare = agg.isEmpty && orders.isEmpty && limit < 0 && offset == 0
    val sqlFor: Option[Seq[String] => String] =
      if (!bare) None
      else Some(extras => {
        val w = pushed.toSeq.flatMap(BqSql.render) ++ extras
        s"SELECT $selectSql FROM ${ep.table} WHERE ${w.mkString(" AND ")}"
      })
    // runtime semi-join eligibility: under COMPLETE agg pushdown only
    // GROUP-KEY pruning is sound (whole groups the join above drops anyway)
    val rtCols: Seq[(String, String)] = agg match {
      case Some((gs, _)) =>
        gs.map(i => (ep.schema.fieldNames(i), ep.schema.fieldNames(i)))
      case None => outSchema.fieldNames.toSeq.map(n => (n, n))
    }
    new BqScan(ep, outSchema, sql, sqlFor, pushed, agg.isDefined, hint,
      extraRender = Some(renderFull), runtimeCols = rtCols,
      delegatesOrderedWindow = orderedWindow)
  }

  /** The consumed sort, limit and offset as trailing SQL clauses; SQL's
    * LIMIT counts the rows after OFFSET. */
  private def windowSql: String = {
    val orderSql =
      if (orders.isEmpty) ""
      else " ORDER BY " + orders.map { o =>
        val dir = if (o.desc) " DESC" else " ASC"
        val nulls = if (o.nullsFirst) " NULLS FIRST" else " NULLS LAST"
        s"${o.target}$dir$nulls"
      }.mkString(", ")
    val wl = PushedWindow.wireLimit(limit, offset)
    orderSql + (if (wl >= 0) s" LIMIT $wl" else "") +
      (if (offset > 0) s" OFFSET $offset" else "")
  }

  private def orderedWindow: Boolean = PushedWindow.ordered(orders.nonEmpty, offset)
}

class BqScan(ep: BqEndpoint, out: StructType, sql: String,
    sqlFor: Option[Seq[String] => String], pushed: Array[Filter],
    aggMode: Boolean, hint: Option[Int] = None,
    extraRender: Option[Seq[String] => String] = None,
    runtimeCols: Seq[(String, String)] = Nil,
    protected val delegatesOrderedWindow: Boolean = false)
  extends Scan with Batch with WireRuntimeFilter[String] {

  // ---- runtime semi-join reduction ([[WireRuntimeFilter]]) ---------------
  // each accepted key set re-renders as a SQL `IN (...)` conjunct; all
  // of them AND into the full passthrough statement before partition
  // planning. The builder picks the eligible
  // `runtimeCols` (output name → SQL reference, which under a pushed
  // join is the alias-qualified source column).

  @volatile private var runtimeConjuncts: Seq[String] = Nil

  override protected def runtimeFilterColumns: Seq[String] =
    if (extraRender.isEmpty) Nil else runtimeCols.map(_._1)

  override protected def renderRuntimeKey(key: Any): Option[String] = BqSql.renderLit(key)

  override protected def applyRuntimeFilter(sets: Seq[(String, Seq[String])]): String = {
    val byOut = runtimeCols.map(c => c._1.toLowerCase -> c._2).toMap
    runtimeConjuncts = sets.map { case (name, keys) =>
      s"${byOut(name.toLowerCase)} IN (${keys.mkString(", ")})"
    }
    runtimeConjuncts.mkString(" AND ")
  }

  override def readSchema(): StructType = out

  override def description(): String =
    s"GraftBqScan endpoint=${ep.source}/${ep.table} sql=[$sql] agg=$aggMode " +
      s"PushedFilters: [${pushed.mkString(", ")}], ReadSchema: ${out.catalogString}"

  override def toBatch: Batch = this

  /** Bare scans shard on a partition column: each task ships its own
    * full statement with a key-range conjunct ANDed into the WHERE (the
    * rendered-SQL analogue of the reference's partition-range injection;
    * a real deployment would read parallel streams off the Storage Read
    * API instead). Statements that consumed an aggregate, sort, limit or
    * offset are answered whole by the warehouse — their results are
    * final (isPartiallyPushed=false) and metadata-sized, so they stay a
    * single exact request: re-running them per shard would double-count
    * aggregates and break OFFSET. Nulls in the partition column ride
    * shard 0 via `OR key IS NULL` (range conjuncts are 3VL-false on
    * null). */
  override def planInputPartitions(): Array[InputPartition] = {
    val rt = runtimeConjuncts // static statement ∧ runtime semi-join keys
    def single = Array[InputPartition](BqPartition(ep.spec,
      if (rt.isEmpty) sql else extraRender.get(rt), out.json))
    val render = sqlFor.getOrElse(return single)
    val ws = ep.splits.getOrElse(return single)
    // a key-pinning pushed predicate answers in ONE statement: range
    // shards would be provably empty for all but one partition
    if (PushedFilter.pins(pushed, ws.key)) return single
    val n = WireFanout.effective(ws.points.size + 1, hint)
    val pts = WireFanout.thin(ws.points.toIndexedSeq, n)
      .flatMap(BqSql.renderLit) // unrenderable split values => no fan-out
    if (pts.isEmpty) return single
    WireFanout.ranges(pts).map { case (lo, hi) =>
      val conjunct = (lo, hi) match {
        case (None, Some(h)) => s"(${ws.key} < $h OR ${ws.key} IS NULL)"
        case (Some(l), Some(h)) => s"(${ws.key} >= $l AND ${ws.key} < $h)"
        case (Some(l), None) => s"${ws.key} >= $l"
        case (None, None) => "TRUE"
      }
      BqPartition(ep.spec, render(conjunct +: rt), out.json): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new BqReaderFactory
}

final case class BqPartition(spec: BqEndpointSpec, sql: String,
    outSchemaJson: String) extends InputPartition

class BqReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[BqPartition]
    val out = DataType.fromJson(p.outSchemaJson).asInstanceOf[StructType]
    val client = new HttpRestClient(p.spec.baseUrl, p.spec.cfg)
    val conv = CatalystTypeConverters.createToCatalystConverter(out)
    val M = EsDsl.M
    // jobs.query-shaped paging: first POST carries the SQL, follow-ups
    // carry the pageToken; cells come back string-encoded (the BQ REST
    // convention) and decode by the scan's declared types
    val pages: Iterator[Iterator[Seq[String]]] = new Iterator[Iterator[Seq[String]]] {
      private var token: String = ""
      private var done = false
      override def hasNext: Boolean = !done
      override def next(): Iterator[Seq[String]] = {
        val body = M.createObjectNode()
        body.put("query", p.sql)
        body.put("maxResults", p.spec.cfg.pageSize)
        if (token.nonEmpty) body.put("pageToken", token)
        val resp = M.readTree(client.postJson(s"/bq/${p.spec.table}/query", body.toString))
        val next = resp.path("pageToken").asText("")
        if (next.isEmpty) done = true
        token = next
        val rows = resp.path("rows")
        rows.elements().asScala.map { r =>
          r.path("f").elements().asScala.map { c =>
            val v = c.path("v"); if (v.isNull) null else v.asText()
          }.toSeq
        }
      }
    }
    val it = pages.flatten.map { cells =>
      conv(Row.fromSeq(out.fields.toSeq.zip(cells).map { case (f, raw) =>
        if (raw == null) null else LineCodec.parse(raw, f.dataType)
      })).asInstanceOf[InternalRow]
    }
    IteratorReader(it)
  }
}
