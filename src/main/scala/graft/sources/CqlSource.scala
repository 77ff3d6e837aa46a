package graft.sources

import java.io.{DataInputStream, IOException}
import java.net.{InetSocketAddress, Socket}
import java.util
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.SortOrder
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.protocol.CqlWire
import graft.protocol.CqlWire.{Frame, Op, T}

/** SQL→CQL translation under Cassandra's key rules (the reference's
  * Cassandra backend, `backends/cassandra/sql_to_cql.go:430-560`: only
  * simple comparisons on partition/clustering-key columns push — "MUST
  * follow rules of partition keys"; functions, BETWEEN-as-TriNode, OR,
  * LIKE, and non-key columns set `needsPolyFill` and stay engine-side).
  * Enforced here exactly as Cassandra would:
  *
  *   - every partition-key column must be bound, by `=` or else by one
  *     static IN, or NOTHING pushes (a partial partition key is an
  *     illegal CQL query);
  *   - clustering columns push as a PREFIX: column i may carry a range
  *     only if columns 1..i-1 are equality-bound; a range cuts the
  *     prefix (later clustering predicates decline);
  *   - `!=`, IN off the partition key, OR, LIKE, IS NULL decline (the
  *     reference lets `!=` through, `sql_to_cql.go:551-554`, which real
  *     Cassandra rejects — we side with the server; its test suite
  *     polyfills these anyway).
  *
  * Declined predicates return to Spark as residuals — the polyfill
  * contract (`needsWherePolyFill`, sql_to_cql.go:447-457).
  */
object CqlGen {

  final case class Accepted(where: Seq[String], pushed: Seq[Filter])

  /** Public literal renderer (the INSERT write path reuses it). */
  def renderLiteral(v: Any): Option[String] = lit(v)

  private def lit(v: Any): Option[String] = v match {
    case null => None
    case _: java.lang.Integer | _: java.lang.Long | _: java.lang.Short => Some(v.toString)
    case d: java.lang.Double => Some(d.toString)
    case f: java.lang.Float => Some(f.toString)
    case b: java.lang.Boolean => Some(b.toString)
    case s: String => Some("'" + s.replace("'", "''") + "'")
    case t: java.sql.Timestamp if t.getNanos % 1000000 == 0 => Some(t.getTime.toString)
    case i: java.time.Instant if i.getNano % 1000000 == 0 =>
      Some(i.toEpochMilli.toString)
    case _ => None
  }

  /** One simple comparison on a named column, or None. */
  private def simple(f: Filter): Option[(String, String, String)] = f match {
    case EqualTo(a, v) => lit(v).map((a, "=", _))
    case GreaterThan(a, v) => lit(v).map((a, ">", _))
    case GreaterThanOrEqual(a, v) => lit(v).map((a, ">=", _))
    case LessThan(a, v) => lit(v).map((a, "<", _))
    case LessThanOrEqual(a, v) => lit(v).map((a, "<=", _))
    case _ => None
  }

  /** Split pushable key predicates from residuals under the key rules. */
  def split(filters: Seq[Filter], partitionKeys: Seq[String],
      clusteringKeys: Seq[String]): (Accepted, Seq[Filter]) = {
    val pk = partitionKeys.map(_.toLowerCase).toSet
    val ck = clusteringKeys.map(_.toLowerCase)
    val parsed = filters.map(f => f -> simple(f))

    // IS NOT NULL on a PRIMARY KEY column is a server-guaranteed
    // tautology — Cassandra partition/clustering keys cannot be null —
    // so it ALWAYS absorbs (no WHERE text, no residual). Leaving it
    // residual would plant a post-scan Filter that blocks aggregate
    // pushdown whenever a join infers IsNotNull over the group key.
    val keyNotNull = PushedFilter.notNulls(filters, partitionKeys ++ clusteringKeys)

    val pkEq = parsed.collect {
      case (f, Some((a, "=", v))) if pk(a.toLowerCase) => (a.toLowerCase, f, s"$a = $v")
    }
    // a partition-key column no `=` binds may take one static IN, rendered
    // like the runtime filter's `pk IN (...)` (CQL refuses a column
    // restricted twice, so an `=` wins and the IN stays residual)
    val eqCols = pkEq.map(_._1).toSet
    val pkIn = filters.flatMap {
      case f @ In(a, vs) if pk(a.toLowerCase) && !eqCols(a.toLowerCase) && vs.nonEmpty =>
        val rendered = vs.toSeq.flatMap(lit)
        if (rendered.size < vs.length) None
        else Some((a.toLowerCase, f, s"$a IN (${rendered.mkString(", ")})"))
      case _ => None
    }.distinctBy(_._1)
    val pkBound = pkEq ++ pkIn
    // rule 1: the FULL partition key must be bound, by `=` or IN
    if (pkBound.map(_._1).toSet != pk)
      return (Accepted(Nil, keyNotNull), filters.filterNot(keyNotNull.contains))

    // rule 2: clustering prefix, ranges only at the cut
    val byCol = parsed.collect { case (f, Some(t)) => (f, t) }
      .groupBy(_._2._1.toLowerCase)
    var open = true
    val ckAccepted = Seq.newBuilder[(Filter, String)]
    for (c <- ck if open) {
      byCol.get(c) match {
        case Some(preds) =>
          val eq = preds.filter(_._2._2 == "=")
          if (eq.nonEmpty) {
            // equality keeps the prefix open
            eq.foreach { case (f, (a, op, v)) => ckAccepted += f -> s"$a $op $v" }
            if (preds.size != eq.size) {
              // mixing = and ranges on one column: take them all, close
              preds.filter(_._2._2 != "=").foreach { case (f, (a, op, v)) =>
                ckAccepted += f -> s"$a $op $v"
              }
              open = false
            }
          } else {
            preds.foreach { case (f, (a, op, v)) => ckAccepted += f -> s"$a $op $v" }
            open = false // a range cuts the prefix
          }
        case None => open = false
      }
    }
    val ckDone = ckAccepted.result()
    // IS NOT NULL on a column already constrained by an accepted
    // comparison is IMPLIED server-side (CQL comparisons never match
    // null cells) — absorb it so a fully-pushed WHERE leaves no Filter
    // node behind (which would also block limit pushdown)
    val constrained = (pkBound.map(_._1) ++ ckDone.collect {
      case (f, _) => simple(f).get._1.toLowerCase
    }).toSet
    val implied = (PushedFilter.notNulls(filters, constrained) ++ keyNotNull).distinct
    val acceptedFilters = pkBound.map(_._2) ++ ckDone.map(_._1) ++ implied
    val where = pkBound.map(_._3) ++ ckDone.map(_._2)
    val residual = filters.filterNot(acceptedFilters.contains)
    (Accepted(where, acceptedFilters), residual)
  }

  def typeId(dt: DataType): Int = dt match {
    case LongType => T.Bigint
    case IntegerType => T.Int
    case ShortType => T.Smallint
    case DoubleType => T.Double
    case FloatType => T.Float
    case BooleanType => T.Boolean
    case TimestampType => T.Timestamp
    case StringType => T.Varchar
    // scalar-element collections (the reference's coverage,
    // cassandra/source.go:202-255): Spark arrays ride as CQL lists
    // (both ordered), maps as maps. Element ids must fit the packed
    // wire fields (16-bit list elem, 8-bit map key/value) — a nested
    // collection would overflow them into corrupt metadata, so refuse
    // loudly like every other unsupported type.
    case org.apache.spark.sql.types.ArrayType(et, _) =>
      T.listOf(scalarId(et, dt))
    case org.apache.spark.sql.types.MapType(kt, vt, _) =>
      T.mapOf(scalarId(kt, dt), scalarId(vt, dt))
    case other => throw new IllegalArgumentException(s"no CQL type for $other")
  }

  private def scalarId(et: DataType, whole: DataType): Int = et match {
    case _: org.apache.spark.sql.types.ArrayType |
         _: org.apache.spark.sql.types.MapType =>
      throw new IllegalArgumentException(
        s"nested CQL collections unsupported: $whole")
    case dt =>
      val id = typeId(dt)
      require(id <= 0xFF, s"non-scalar CQL collection element in $whole")
      id
  }
}

/** The loopback cluster's partitioner: partition-key values -> a signed
  * 64-bit ring token (the role Murmur3Partitioner plays in a real
  * cluster). Only the SERVER evaluates tokens; clients just tile the
  * Long space into ranges, so any stable hash gives a correct parallel
  * scan — `WHERE token(pk) > a AND token(pk) <= b` per task is the
  * exact recipe every Cassandra bulk reader uses. */
object CqlToken {
  def of(vs: Seq[Any]): Long = {
    val s = vs.map(v => if (v == null) "\u0001" else String.valueOf(v))
      .mkString("\u0000")
    val hi = scala.util.hashing.MurmurHash3.stringHash(s, 0x9747b28c)
    val lo = scala.util.hashing.MurmurHash3.stringHash(s, 0x85ebca6b)
    (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
  }

  /** n-1 interior ring bounds tiling [Long.Min, Long.Max] into n even
    * token ranges: partition 0 = (-inf, b0]; i = (b_{i-1}, b_i]; last =
    * (b_{n-2}, +inf). */
  def bounds(n: Int): Seq[Long] =
    (1 until n).map(i => (BigInt(Long.MinValue) + (BigInt(2).pow(64) * i / n)).toLong)
}

/** Minimal Cassandra driver: native-protocol handshake + paged QUERY
  * over a socket (the reference drives gocql the same way,
  * `backends/cassandra/source.go` iterates paged results). Transient
  * failures before the first page retry with reconnect + backoff;
  * server ERROR frames fail fast with the server's message. */
final class CqlClientLite(host: String, port: Int, cfg: WireClientConfig) {

  val requests = new AtomicLong(0)
  val retries = new AtomicLong(0)

  private val streamId = new AtomicInteger(1)
  private var socket: Socket = _
  private var in: DataInputStream = _

  private def connect(): Unit = {
    close()
    val s = new Socket()
    s.connect(new InetSocketAddress(host, port), cfg.connectTimeoutMs)
    s.setSoTimeout(cfg.requestTimeoutMs)
    s.setTcpNoDelay(true)
    val din = new DataInputStream(new java.io.BufferedInputStream(s.getInputStream))
    // handshake: STARTUP -> READY
    CqlWire.writeFrame(s.getOutputStream,
      Frame(Op.Startup, 0, CqlWire.startupBody()), response = false)
    val ready = CqlWire.readFrame(din)
    if (ready.opcode != Op.Ready)
      throw new IOException(s"handshake failed: opcode ${ready.opcode}")
    socket = s
    in = din
  }

  def close(): Unit = {
    if (socket != null) { try socket.close() catch { case _: IOException => () } }
    socket = null; in = null
  }

  private def roundTrip(cql: String, pagingState: Array[Byte]): CqlWire.RowsResult = {
    if (socket == null || socket.isClosed) connect()
    requests.incrementAndGet()
    val id = streamId.getAndIncrement() & 0x7FFF
    CqlWire.writeFrame(socket.getOutputStream,
      Frame(Op.Query, id, CqlWire.queryBody(cql, cfg.pageSize, pagingState)),
      response = false)
    val reply = CqlWire.readFrame(in)
    reply.opcode match {
      case Op.Result => CqlWire.parseResultBody(reply.body)
      case Op.Error =>
        val (code, msg) = CqlWire.parseErrorBody(reply.body)
        throw new IOException(f"cql error 0x$code%04x: $msg")
      case other => throw new IOException(s"unexpected opcode $other")
    }
  }

  /** Run a SELECT, streaming pages lazily. */
  def query(cql: String): Iterator[(Seq[(String, Int)], Array[Array[Byte]])] = {
    val f = WireRetry(cfg, retries, WireRetry.answered("cql error"),
      () => close())(roundTrip(cql, null))
    new Iterator[(Seq[(String, Int)], Array[Array[Byte]])] {
      private var cols = f.cols
      private var batch = f.rows.iterator
      private var state = f.pagingState
      override def hasNext: Boolean = {
        while (!batch.hasNext && state != null) {
          val next = roundTrip(cql, state)
          cols = next.cols
          batch = next.rows.iterator
          state = next.pagingState
        }
        batch.hasNext
      }
      override def next(): (Seq[(String, Int)], Array[Array[Byte]]) =
        (cols, batch.next())
    }
  }
}

/** Serializable CQL endpoint pointer (executor JVMs rebuild the client). */
final case class CqlEndpointSpec(host: String, port: Int, table: String,
    cfg: WireClientConfig)

final case class CqlEndpoint(source: String, table: String, schema: StructType,
    partitionKeys: Seq[String], clusteringKeys: Seq[String], spec: CqlEndpointSpec,
    fanout: Int = 1) extends WireEndpoint {
  def newTable(): Table = new CqlTable(this)
}

class CqlTable(val ep: CqlEndpoint) extends Table
  with SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDelete
  with WireScanTable {
  override def name(): String =
    s"${SourceRegistry.CatalogName}.${ep.source}.${ep.table}"
  override def schema(): StructType = ep.schema
  override def capabilities(): util.Set[TableCapability] =
    util.Set.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CqlScanBuilder(ep, WireFanout.hintFrom(options))

  /** INSERT INTO: tasks send `BEGIN UNLOGGED BATCH` of rendered CQL
    * INSERT statements (the real drivers' bulk-write primitive;
    * reference: prepared upserts, sql_to_cql.go:246-361 — Cassandra
    * INSERT is an upsert on the primary key). */
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new WireBatchWrite(new CqlWriterFactory(ep.spec, ep.schema.json, ep.table))

  /** DELETE FROM under Cassandra's rules: only key-column predicates
    * with the full partition key equality-bound compile to DELETE CQL
    * ([[CqlGen.split]] enforces both; a partition-key IN, which the read
    * path takes, refuses here); anything else refuses — and the
    * server re-validates (`Some partition key parts are missing`). */
  override def canDeleteWhere(filters: Array[Filter]): Boolean = {
    val (acc, residual) = CqlGen.split(filters.toSeq,
      ep.partitionKeys, ep.clusteringKeys)
    residual.isEmpty && acc.where.nonEmpty && !acc.pushed.exists(_.isInstanceOf[In])
  }
  override def deleteWhere(filters: Array[Filter]): Unit = {
    val (acc, _) = CqlGen.split(filters.toSeq, ep.partitionKeys, ep.clusteringKeys)
    val cql = s"DELETE FROM ${ep.table} WHERE ${acc.where.mkString(" AND ")}"
    val client = new CqlClientLite(ep.spec.host, ep.spec.port, ep.spec.cfg)
    try client.query(cql).size // consume the Void result
    finally client.close()
  }
}

class CqlWriterFactory(spec: CqlEndpointSpec, schemaJson: String, table: String)
  extends org.apache.spark.sql.connector.write.DataWriterFactory {
  import org.apache.spark.sql.connector.write._
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    val client = new CqlClientLite(spec.host, spec.port, spec.cfg)
    val toScala = CatalystTypeConverters.createToScalaConverter(schema)
    new DataWriter[InternalRow] {
      private val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      private def render(row: Row): String = {
        val present = schema.fields.toSeq.zipWithIndex
          .filter { case (_, i) => !row.isNullAt(i) }
        val cols = present.map(_._1.name).mkString(", ")
        val vals = present.map { case (_, i) =>
          CqlGen.renderLiteral(row.get(i)).getOrElse(
            throw new IOException(s"value ${row.get(i)} has no CQL literal form"))
        }.mkString(", ")
        s"INSERT INTO $table ($cols) VALUES ($vals)"
      }
      private def flush(): Unit = if (buf.nonEmpty) {
        val batch = buf.mkString("BEGIN UNLOGGED BATCH ", "; ", "; APPLY BATCH")
        client.query(batch).size // consume the Void result
        buf.clear()
      }
      override def write(record: InternalRow): Unit = {
        buf += render(toScala(record).asInstanceOf[Row])
        if (buf.size >= 64) flush()
      }
      override def commit(): WriterCommitMessage = {
        flush()
        new WriterCommitMessage {}
      }
      override def abort(): Unit = buf.clear()
      override def close(): Unit = client.close()
    }
  }
}

/** Key-rule pushdown: WHERE under [[CqlGen.split]], column projection in
  * the SELECT list, LIMIT in the CQL. A production deployment splits the
  * token ring into one partition per range (gocql's session does this
  * implicitly); the loopback single-node serves one partition. */
/** SQL aggregate → CQL translation under CASSANDRA-10707's rules: GROUP
  * BY is legal only on primary-key columns in key order covering the
  * whole partition key, so that is exactly the translatable surface.
  * Sums and averages ship `cast(col as bigint|double)` inside the
  * aggregate — Cassandra's native `sum(int)` is type-preserving (wraps
  * at 2³¹) and `avg(int)` truncates, both of which would silently
  * diverge from SQL. SUM/AVG over zero non-null values is NULL in SQL
  * but 0 in CQL; a companion `count(col)` per sum/avg disambiguates
  * (the reader nulls a 0-count value). COUNT(DISTINCT) has no CQL
  * spelling — declined, Spark polyfills over the row scan. */
object CqlAgg {
  import AggFn._

  /** (group cols in SPARK's output order, group cols in KEY order, the
    * pushed functions over the endpoint schema). */
  final case class Spec(groupOut: Seq[String], groupKeyOrder: Seq[String],
      aggs: Seq[AggDef])

  private def orderable(dt: DataType): Boolean = dt match {
    case ShortType | IntegerType | LongType | FloatType | DoubleType |
         StringType | TimestampType | BooleanType => true
    case _ => false
  }

  /** [[PushedAgg.translate]] under CQL's rules, then the key-prefix
    * group rule. */
  def plan(a: org.apache.spark.sql.connector.expressions.aggregate.Aggregation,
      ep: CqlEndpoint): Option[Spec] =
    PushedAgg.translate(a, ep.schema, f => orderable(f.dataType), {
      case (Count | Sum, _) => true
      case (Min | Max | Avg, f) => orderable(f.dataType)
      case _ => false // COUNT(DISTINCT) has no CQL spelling
    }).flatMap { case (groupIdx, aggs) =>
      val groupNames = groupIdx.map(ep.schema.fields(_).name)
      // the key-prefix rule: group set == partition key + clustering prefix
      val keys = ep.partitionKeys ++ ep.clusteringKeys
      val keyOrder = keys.filter(k => groupNames.exists(_.equalsIgnoreCase(k)))
      if (groupNames.size != keyOrder.size ||
          keyOrder.map(_.toLowerCase) != keys.take(keyOrder.size).map(_.toLowerCase) ||
          keyOrder.size < ep.partitionKeys.size) None
      else Some(Spec(groupNames, keyOrder, aggs))
    }

  /** The select list a [[Spec]] over `schema` compiles to: group columns
    * (Spark order), then each aggregate — sums and averages cast inside
    * and followed by their companion count of the same column. */
  def selectList(spec: Spec, schema: StructType): Seq[String] =
    spec.groupOut ++ spec.aggs.flatMap { d =>
      val col = if (d.col < 0) "" else schema.fields(d.col).name
      d.fn match {
        case Sum | Avg =>
          val as = if (d.out == LongType) "bigint" else "double"
          Seq(d.sql(s"cast($col as $as)"), s"count($col)")
        case _ => Seq(d.sql(col))
      }
    }
}

class CqlScanBuilder(ep: CqlEndpoint, hint: Option[Int] = None) extends ScanBuilder
  with PushedFilter
  with SupportsPushDownRequiredColumns
  with SupportsPushDownLimit
  with SupportsPushDownTopN
  with SupportsPushDownAggregates {

  private var accepted: CqlGen.Accepted = CqlGen.Accepted(Nil, Nil)
  private var required: StructType = ep.schema
  private var limit: Int = -1
  private var orders: Seq[(String, Boolean)] = Nil // (column, desc)
  private var agg: Option[CqlAgg.Spec] = None

  override protected def acceptFilters(filters: Array[Filter]): collection.Seq[Filter] = {
    accepted = CqlGen.split(filters.toSeq, ep.partitionKeys, ep.clusteringKeys)._1
    accepted.pushed
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushLimit(n: Int): Boolean = { limit = n; true }
  override def isPartiallyPushed(): Boolean = true

  /** ORDER BY + LIMIT rides the CQL statement under Cassandra's own
    * single-partition rule: legal only when the accepted WHERE already
    * EQ-binds the FULL partition key (one targeted partition read), the
    * sort keys are a PREFIX of the clustering columns in declared
    * order, and every direction agrees (the declared order or its full
    * reverse — CQL has no mixed-direction ORDER BY over ASC-declared
    * clustering). Clustering columns are never null in Cassandra, so
    * any Spark null-ordering is vacuously satisfied. The push stays
    * PARTIAL (Spark re-sorts the n rows): at scale the server walks the
    * clustering index and returns n rows instead of the partition. */
  override def pushTopN(so: Array[SortOrder], n: Int): Boolean = {
    if (agg.isDefined) return false // grouped rows have no ORDER BY surface here
    val pkEq = pushed.collect {
      case EqualTo(a, _) => a.toLowerCase
    }.toSet
    if (!ep.partitionKeys.map(_.toLowerCase).forall(pkEq.contains)) return false
    val ck = ep.clusteringKeys.map(_.toLowerCase)
    val keys = PushedWindow.keys(so)(PushedWindow.byName(ck.map(c => c -> c)))
      .getOrElse(return false)
    if (keys.map(_.target) != ck.take(keys.size)) return false // clustering prefix
    if (keys.map(_.desc).distinct.size > 1) return false // one direction
    orders = keys.map(k => (k.target, k.desc))
    limit = n
    true
  }

  /** `$group`-style COMPLETE-only pushdown: the server's GROUP BY rows
    * are final buckets ([[CqlAgg]] for the rule set and cast guards). */
  override def supportCompletePushDown(
      a: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    CqlAgg.plan(a, ep).isDefined
  override def pushAggregation(
      a: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    CqlAgg.plan(a, ep) match {
      case Some(s) => agg = Some(s); true
      case None => false
    }

  override def build(): Scan = agg match {
    case Some(spec) =>
      val outSchema = PushedAgg.outSchema(ep.schema,
        spec.groupOut.map(g => ep.schema.fieldNames.indexWhere(_.equalsIgnoreCase(g))),
        spec.aggs)
      new CqlScan(ep, outSchema, CqlAgg.selectList(spec, ep.schema), accepted.where,
        limit, pushed, hint,
        groupBy = spec.groupKeyOrder, aggs = spec.aggs)
    case None =>
      val cols =
        if (required.fields.isEmpty) Seq(ep.schema.fieldNames.head)
        else required.fieldNames.toSeq
      new CqlScan(ep, required, cols, accepted.where, limit,
        pushed, hint, orderBy = orders)
  }
}

class CqlScan(ep: CqlEndpoint, required: StructType, cols: Seq[String],
    where: Seq[String], limit: Int, pushed: Array[Filter],
    hint: Option[Int] = None, groupBy: Seq[String] = Nil,
    aggs: Seq[AggDef] = Nil, orderBy: Seq[(String, Boolean)] = Nil)
  extends Scan with Batch with WireRuntimeFilter[String] {

  // ---- runtime semi-join reduction ([[WireRuntimeFilter]]) ---------------
  // CQL's one legal IN shape — `pk IN (...)` on the full (single-column)
  // partition key — is exactly the semi-join reducer: a broadcast dim's
  // distinct join keys compile into one multi-partition read instead of
  // a full token-ring sweep (the first predicate only). Under a grouped
  // pushed aggregate the group rule guarantees the partition key IS a
  // group column, so pruning partitions prunes exactly whole groups.

  @volatile private var runtimeIn: Option[String] = None

  // A pushed ORDER BY can never coexist with an unbound key (pushTopN
  // requires the full pk EQ-bound ⇒ where is non-empty), but the rule is
  // stated anyway: a sorted window must never gain a filter beneath it.
  override protected def delegatesOrderedWindow: Boolean =
    PushedWindow.ordered(orderBy.nonEmpty, 0)

  /** The single partition key, when it is in the output and no static
    * relation already pins it (CQL refuses a column restricted twice). */
  override protected def runtimeFilterColumns: Seq[String] =
    if (where.nonEmpty || ep.partitionKeys.size != 1) Nil
    else required.fieldNames.find(_.equalsIgnoreCase(ep.partitionKeys.head)).toSeq

  override protected def renderRuntimeKey(key: Any): Option[String] =
    CqlGen.renderLiteral(key)

  override protected def applyRuntimeFilter(sets: Seq[(String, Seq[String])]): String = {
    val in = s"${ep.partitionKeys.head} IN (${sets.head._2.mkString(", ")})"
    runtimeIn = Some(in)
    in
  }

  private def render(extra: Seq[String]): String = {
    val w = where ++ extra
    val sb = new StringBuilder("SELECT ")
    sb.append(cols.mkString(", ")).append(" FROM ").append(ep.table)
    if (w.nonEmpty) sb.append(" WHERE ").append(w.mkString(" AND "))
    if (groupBy.nonEmpty) sb.append(" GROUP BY ").append(groupBy.mkString(", "))
    if (orderBy.nonEmpty) sb.append(" ORDER BY ").append(
      orderBy.map { case (c, desc) => if (desc) s"$c DESC" else c }
        .mkString(", "))
    if (limit > 0) sb.append(" LIMIT ").append(limit)
    sb.toString
  }

  override def readSchema(): StructType = required

  override def description(): String =
    s"GraftCqlScan endpoint=${ep.source}/${ep.table} cql=[${render(Nil)}] " +
      s"PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${required.catalogString}"

  override def toBatch: Batch = this

  /** Unrestricted scans fan out over the token ring — one task per even
    * range of the 64-bit token space, each shipping `token(pk) > a AND
    * token(pk) <= b` (the universal Cassandra parallel-read recipe; a
    * real driver additionally aligns ranges to replica ownership). A
    * key-restricted query stays one targeted read: CQL forbids mixing
    * token() and partition-key relations, and a bound partition key IS
    * the single-replica fast path. */
  override def planInputPartitions(): Array[InputPartition] = {
    // A runtime `pk IN (...)` pins its partitions in ONE request — CQL
    // forbids mixing token() relations with key relations, and the IN
    // read is the multi-partition fast path anyway.
    runtimeIn.foreach { in =>
      return Array(CqlPartition(ep.spec, render(Seq(in)), required.json, aggs))
    }
    // Grouped aggregates may STILL fan out over token ranges: the group
    // rule guarantees every group binds the full partition key, all of a
    // group's rows share one token, so each token range holds complete
    // groups and the union of ranges is exactly the grouped result. A
    // GLOBAL aggregate (no GROUP BY) must stay one task — per-range
    // results would be partials, but the scan's contract is final rows.
    val n =
      if (where.nonEmpty || (aggs.nonEmpty && groupBy.isEmpty)) 1
      else WireFanout.effective(ep.fanout, hint)
    if (n <= 1) Array(CqlPartition(ep.spec, render(Nil), required.json, aggs))
    else {
      val tok = s"token(${ep.partitionKeys.mkString(", ")})"
      val bs = CqlToken.bounds(n)
      Array.tabulate(n) { i =>
        val lo = if (i == 0) Nil else Seq(s"$tok > ${bs(i - 1)}")
        val hi = if (i == n - 1) Nil else Seq(s"$tok <= ${bs(i)}")
        CqlPartition(ep.spec, render(lo ++ hi), required.json, aggs)
      }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = new CqlReaderFactory
}

final case class CqlPartition(spec: CqlEndpointSpec, cql: String,
    requiredSchemaJson: String, aggs: Seq[AggDef] = Nil) extends InputPartition

class CqlReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[CqlPartition]
    val required = DataType.fromJson(p.requiredSchemaJson).asInstanceOf[StructType]
    val client = new CqlClientLite(p.spec.host, p.spec.port, p.spec.cfg)
    val conv = CatalystTypeConverters.createToCatalystConverter(required)
    val it = client.query(p.cql).map { case (cols, cells) =>
      if (p.aggs.nonEmpty) {
        // POSITIONAL agg decode: group columns, then per aggregate its
        // value — sums/avgs followed by a companion count(col) that
        // restores SQL's NULL over zero non-null values (CQL's is 0)
        val groupCount = required.fields.length - p.aggs.size
        val vals = scala.collection.mutable.ArrayBuffer.empty[Any]
        var ci = 0
        (0 until groupCount).foreach { _ =>
          vals += CqlWire.decodeValue(cells(ci), cols(ci)._2); ci += 1
        }
        p.aggs.foreach { d =>
          val v = CqlWire.decodeValue(cells(ci), cols(ci)._2); ci += 1
          if (d.fn == AggFn.Sum || d.fn == AggFn.Avg) {
            val n = CqlWire.decodeValue(cells(ci), cols(ci)._2)
              .asInstanceOf[Number].longValue(); ci += 1
            vals += (if (n == 0L) null else v)
          } else vals += v
        }
        conv(Row.fromSeq(vals.toSeq)).asInstanceOf[InternalRow]
      } else {
        val byName = cols.map(_._1.toLowerCase).zipWithIndex.toMap
        conv(Row.fromSeq(required.fields.toSeq.map { f =>
          byName.get(f.name.toLowerCase) match {
            case Some(i) => CqlWire.decodeValue(cells(i), cols(i)._2)
            case None => null
          }
        })).asInstanceOf[InternalRow]
      }
    }
    IteratorReader(it, client.close())
  }
}
