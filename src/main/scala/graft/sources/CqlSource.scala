package graft.sources

import java.io.{DataInputStream, IOException}
import java.net.{InetAddress, InetSocketAddress, ServerSocket, Socket}
import java.util
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, AtomicReference}

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection, SortOrder}
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
  *   - every partition-key column must be EQUALITY-bound, or NOTHING
  *     pushes (a partial partition key is an illegal CQL query);
  *   - clustering columns push as a PREFIX: column i may carry a range
  *     only if columns 1..i-1 are equality-bound; a range cuts the
  *     prefix (later clustering predicates decline);
  *   - `!=`, IN, OR, LIKE, IS NULL decline (the reference lets `!=`
  *     through, `sql_to_cql.go:551-554`, which real Cassandra rejects —
  *     we side with the server; its test suite polyfills these anyway).
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
    val keyNotNull = filters.collect {
      case f @ IsNotNull(a) if pk(a.toLowerCase) || ck.contains(a.toLowerCase) =>
        f: Filter
    }

    val pkEq = parsed.collect {
      case (f, Some((a, "=", v))) if pk(a.toLowerCase) => (a.toLowerCase, f, s"$a = $v")
    }
    // rule 1: the FULL partition key must be equality-bound
    if (pkEq.map(_._1).toSet != pk)
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
    val constrained = (pkEq.map(_._1) ++ ckDone.collect {
      case (f, _) => simple(f).get._1.toLowerCase
    }).toSet
    val implied = (filters.collect {
      case f @ IsNotNull(a) if constrained(a.toLowerCase) => f: Filter
    } ++ keyNotNull).distinct
    val acceptedFilters = pkEq.map(_._2) ++ ckDone.map(_._1) ++ implied
    val where = pkEq.map(_._3) ++ ckDone.map(_._2)
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

/** Minimal CQL SELECT evaluator for the loopback server: parses the
  * grammar the connector generates (`SELECT cols FROM t [WHERE simple
  * conjuncts] [LIMIT n]`) and enforces Cassandra's key restrictions —
  * a WHERE on a non-key column, or a partial partition key, answers an
  * Invalid error mentioning ALLOW FILTERING, exactly the refusal that
  * forces engine-side polyfill. */
object CqlEval {

  final case class Stmt(cols: Seq[String], table: String,
      where: Seq[(String, String, String)], limit: Int,
      groupBy: Seq[String] = Nil,
      orderBy: Seq[(String, Boolean)] = Nil) // (column, desc)

  private val SelectRe =
    """(?is)\s*SELECT\s+(.+?)\s+FROM\s+(\S+?)(?:\s+WHERE\s+(.+?))?(?:\s+GROUP\s+BY\s+([\w.,\s]+?))?(?:\s+ORDER\s+BY\s+([\w.,\s]+?))?(?:\s+LIMIT\s+(\d+))?\s*""".r

  /** One parsed aggregate select item: `count(*)`, `count(c)`,
    * `min/max/sum/avg(c)`, or the same over `cast(c as type)` (the CQL
    * cast a type-honest client ships to avoid Cassandra's type-preserving
    * sum/avg — `sum(int)` wraps at 2³¹ and `avg(int)` truncates). */
  final case class AggItem(func: String, col: String, cast: Option[String])

  private val AggRe =
    """(?is)\s*(count|min|max|sum|avg)\s*\(\s*(?:(\*)|cast\s*\(\s*([\w.]+)\s+as\s+(\w+)\s*\)|([\w.]+))\s*\)\s*""".r

  /** Parse a select item as an aggregate, or None for a plain column. */
  def aggItem(s: String): Option[AggItem] = s match {
    case AggRe(f, star, castCol, castTy, col) =>
      if (star != null) {
        if (f.equalsIgnoreCase("count")) Some(AggItem("count", "*", None)) else None
      } else if (castCol != null) Some(AggItem(f.toLowerCase, castCol, Some(castTy.toLowerCase)))
      else Some(AggItem(f.toLowerCase, col, None))
    case _ => None
  }

  /** Split a WHERE clause on top-level `AND` (any surrounding
    * whitespace, incl. newlines) — a quote-aware scan, because a string
    * literal may itself contain " and " (`seg = 'FOOD AND DRINK'` is
    * one predicate, not two). */
  private[sources] def splitConjuncts(where: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    var inQuote = false
    def andAt(j: Int): Int = { // length consumed, or -1
      if (!where.charAt(j).isWhitespace) return -1
      var k = j
      while (k < where.length && where.charAt(k).isWhitespace) k += 1
      if (k + 3 <= where.length && where.regionMatches(true, k, "AND", 0, 3) &&
          k + 3 < where.length && where.charAt(k + 3).isWhitespace) {
        var e = k + 3
        while (e < where.length && where.charAt(e).isWhitespace) e += 1
        e - j
      } else -1
    }
    while (i < where.length) {
      val c = where.charAt(i)
      if (c == '\'') {
        // '' is the escape for a literal quote inside a string
        if (inQuote && i + 1 < where.length && where.charAt(i + 1) == '\'') {
          cur.append("''"); i += 2
        } else { inQuote = !inQuote; cur.append(c); i += 1 }
      } else if (!inQuote && andAt(i) > 0) {
        out += cur.toString; cur.clear(); i += andAt(i)
      } else { cur.append(c); i += 1 }
    }
    out += cur.toString
    out.result()
  }

  /** Quote-aware comma split for an IN value list (a string literal may
    * itself contain commas). */
  private[sources] def splitList(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    var inQuote = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\'') {
        if (inQuote && i + 1 < s.length && s.charAt(i + 1) == '\'') {
          cur.append("''"); i += 2
        } else { inQuote = !inQuote; cur.append(c); i += 1 }
      } else if (!inQuote && c == ',') { out += cur.toString; cur.clear(); i += 1 }
      else { cur.append(c); i += 1 }
    }
    out += cur.toString
    out.result()
  }

  def parse(cql: String): Stmt = cql match {
    case SelectRe(cols, table, where, groupBy, orderBy, limit) =>
      val conds = Option(where).map(w => splitConjuncts(w).map { c =>
        // LHS is a column name OR the token() function over the
        // partition key (Cassandra's parallel-full-scan surface)
        val m = """\s*((?i:token)\s*\([^)]*\)|[\w.]+)\s*(=|<=|>=|<|>)\s*(.+?)\s*""".r
        val mIn = """(?is)\s*([\w.]+)\s+IN\s*\((.+)\)\s*""".r
        c match {
          case m(a, op, v) => (a, op, v)
          case mIn(a, list) => (a, "in", list)
          case other => throw new IllegalArgumentException(s"cannot parse predicate: $other")
        }
      }).getOrElse(Nil)
      val ords = Option(orderBy).map(_.split(",").map(_.trim).toSeq
        .filter(_.nonEmpty).map { item =>
          val parts = item.split("""\s+""").toSeq
          val desc = parts.lastOption.exists(_.equalsIgnoreCase("DESC"))
          val asc = parts.lastOption.exists(_.equalsIgnoreCase("ASC"))
          if (parts.size > 2 || (parts.size == 2 && !desc && !asc))
            throw new IllegalArgumentException(s"cannot parse ORDER BY item: $item")
          (parts.head, desc)
        }).getOrElse(Nil)
      Stmt(cols.split(",").map(_.trim).toSeq, table.trim,
        conds, Option(limit).map(_.toInt).getOrElse(-1),
        Option(groupBy).map(_.split(",").map(_.trim).toSeq.filter(_.nonEmpty))
          .getOrElse(Nil),
        ords)
    case other => throw new IllegalArgumentException(s"cannot parse CQL: $other")
  }

  /** `token(...)` LHS detector + its argument column list. */
  def tokenArgs(lhs: String): Option[Seq[String]] = {
    val t = lhs.trim
    if (t.length >= 6 && t.substring(0, 5).equalsIgnoreCase("token")) {
      val open = t.indexOf('(')
      if (open < 0 || !t.endsWith(")")) None
      else Some(t.substring(open + 1, t.length - 1).split(",").map(_.trim).toSeq)
    } else None
  }

  final case class Insert(table: String, cols: Seq[String], values: Seq[String])
  final case class Delete(table: String, where: Seq[(String, String, String)])

  private val InsertRe =
    """(?is)\s*INSERT\s+INTO\s+(\S+)\s*\((.+?)\)\s*VALUES\s*\((.+)\)\s*""".r
  private val DeleteRe =
    """(?is)\s*DELETE\s+FROM\s+(\S+)\s+WHERE\s+(.+?)\s*""".r

  /** Quote-aware top-level split on `sep` ('' escapes inside strings). */
  private def splitTop(s: String, sep: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    var inQuote = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\'') {
        if (inQuote && i + 1 < s.length && s.charAt(i + 1) == '\'') {
          cur.append("''"); i += 2
        } else { inQuote = !inQuote; cur.append(c); i += 1 }
      } else if (!inQuote && c == sep) { out += cur.toString; cur.clear(); i += 1 }
      else { cur.append(c); i += 1 }
    }
    out += cur.toString
    out.result()
  }

  /** Split a BATCH body into statements (';' outside strings). */
  def splitStatements(body: String): Seq[String] = splitTop(body, ';')

  def parseInsert(cql: String): Insert = cql match {
    case InsertRe(table, cols, values) =>
      val cs = cols.split(",").map(_.trim).toSeq
      val vs = splitTop(values, ',').map(_.trim)
      require(cs.size == vs.size,
        s"Unmatched column names/values: ${cs.size} vs ${vs.size}")
      Insert(table.trim, cs, vs)
    case other => throw new IllegalArgumentException(s"cannot parse INSERT: $other")
  }

  def parseDelete(cql: String): Delete = cql match {
    case DeleteRe(table, where) =>
      val conds = splitConjuncts(where).map { c =>
        val m = """\s*([\w.]+)\s*(=|<=|>=|<|>)\s*(.+?)\s*""".r
        c match {
          case m(a, op, v) => (a, op, v)
          case other => throw new IllegalArgumentException(s"cannot parse predicate: $other")
        }
      }
      Delete(table.trim, conds)
    case other => throw new IllegalArgumentException(s"cannot parse DELETE: $other")
  }

  def literal(raw: String, dt: DataType): Any = {
    if (raw.equalsIgnoreCase("null")) return null
    if (raw.startsWith("'") && raw.endsWith("'"))
      return raw.substring(1, raw.length - 1).replace("''", "'")
    dt match {
      case LongType => raw.toLong: java.lang.Long
      case IntegerType => raw.toInt: java.lang.Integer
      case ShortType => raw.toShort: java.lang.Short
      case DoubleType => raw.toDouble: java.lang.Double
      case FloatType => raw.toFloat: java.lang.Float
      case BooleanType => raw.toBoolean: java.lang.Boolean
      case TimestampType => new java.sql.Timestamp(raw.toLong)
      case StringType => raw
      case other => throw new IllegalArgumentException(s"cannot parse $raw as $other")
    }
  }
}

/** In-process loopback Cassandra stand-in: a real TCP listener speaking
  * native protocol v4 — STARTUP/READY handshake, QUERY with paging,
  * RESULT Rows with global_tables_spec metadata — serving registered
  * key-ordered tables and REFUSING non-key filtering like the real
  * server. Fault injection drives the client's reconnect paths. */
object LoopbackCqlServer {

  val Keyspace = "graft"

  /** A MUTABLE registered table (INSERT/DELETE statements mutate it;
    * `snapshot` gives reads a consistent view). */
  final class CqlTableData(val schema: StructType, val partitionKeys: Seq[String],
      val clusteringKeys: Seq[String], init: Seq[Array[Any]]) {
    private val buf = scala.collection.mutable.ArrayBuffer.from(init)
    def snapshot: Seq[Array[Any]] = synchronized(buf.toSeq)
    def append(r: Array[Any]): Unit = synchronized { buf += r }
    /** Atomic replace-by-key: delete+append under ONE lock — two
      * separately synchronized calls would let concurrent writers of
      * the same primary key interleave and leave duplicate rows. */
    def upsert(keyPred: Array[Any] => Boolean, r: Array[Any]): Unit = synchronized {
      val keep = buf.filterNot(keyPred)
      buf.clear(); buf ++= keep; buf += r
    }
    def deleteWhere(pred: Array[Any] => Boolean): Int = synchronized {
      val before = buf.length
      val keep = buf.filterNot(pred)
      buf.clear(); buf ++= keep
      before - buf.length
    }
  }

  private val tables = TrieMap.empty[String, CqlTableData]
  private val serverRef = new AtomicReference[ServerSocket](null)

  val failNext = new AtomicInteger(0)
  val served = new AtomicLong(0)
  /** Last QUERY's CQL text (pushdown assertions). */
  val lastCql = new AtomicReference[String]("")

  def register(name: String, schema: StructType, partitionKeys: Seq[String],
      clusteringKeys: Seq[String], rows: Seq[Array[Any]]): Unit =
    tables.put(name.toLowerCase,
      new CqlTableData(schema, partitionKeys, clusteringKeys, rows))

  def ensureStarted(): (String, Int) = {
    val cur = serverRef.get()
    if (cur != null) return ("127.0.0.1", cur.getLocalPort)
    val srv = new ServerSocket(0, 16, InetAddress.getLoopbackAddress)
    if (!serverRef.compareAndSet(null, srv)) {
      srv.close()
      return ("127.0.0.1", serverRef.get().getLocalPort)
    }
    val acceptor = new Thread(() => acceptLoop(srv), "graft-loopback-cql")
    acceptor.setDaemon(true)
    acceptor.start()
    ("127.0.0.1", srv.getLocalPort)
  }

  private def acceptLoop(srv: ServerSocket): Unit =
    while (!srv.isClosed) {
      try {
        val sock = srv.accept()
        val t = new Thread(() => serve(sock), "graft-loopback-cql-conn")
        t.setDaemon(true)
        t.start()
      } catch { case _: IOException => () }
    }

  private def serve(sock: Socket): Unit = {
    try {
      sock.setTcpNoDelay(true)
      val in = new DataInputStream(new java.io.BufferedInputStream(sock.getInputStream))
      while (!sock.isClosed) {
        val f = CqlWire.readFrame(in)
        served.incrementAndGet()
        if (failNext.getAndUpdate(n => math.max(0, n - 1)) > 0) {
          sock.close() // injected failure: abort without a reply
          return
        }
        val reply: Frame = f.opcode match {
          case Op.Startup => Frame(Op.Ready, f.stream, Array.empty)
          case Op.Options =>
            Frame(Op.Supported, f.stream,
              new CqlWire.BodyOut().putShort(0).bytes)
          case Op.Query =>
            try runQuery(f)
            catch {
              case e: Exception => Frame(Op.Error, f.stream,
                CqlWire.errorBody(0x2200, Option(e.getMessage).getOrElse(e.toString)))
            }
          case other => Frame(Op.Error, f.stream,
            CqlWire.errorBody(0x000A, s"unsupported opcode $other"))
        }
        CqlWire.writeFrame(sock.getOutputStream, reply, response = true)
      }
    } catch {
      case _: java.io.EOFException => ()
      case _: IOException => ()
    } finally {
      try sock.close() catch { case _: IOException => () }
    }
  }

  /** INSERT / DELETE / BEGIN BATCH execution, under the real engine's
    * rules: an INSERT must name the FULL primary key (Cassandra writes
    * are keyed upserts); a DELETE's WHERE may touch only key columns and
    * must equality-bind every partition key. `BEGIN [UNLOGGED] BATCH ...
    * APPLY BATCH` groups INSERTs — the bulk-write primitive real drivers
    * use. */
  private def runMutation(cql: String): Unit = {
    val upper = cql.toUpperCase
    if (upper.startsWith("BEGIN")) {
      val body = cql.substring(cql.toUpperCase.indexOf("BATCH") + 5)
      val end = body.toUpperCase.lastIndexOf("APPLY BATCH")
      require(end >= 0, "BATCH without APPLY BATCH")
      CqlEval.splitStatements(body.substring(0, end)).foreach { s =>
        val t = s.trim
        if (t.nonEmpty) runMutation(t)
      }
    } else if (upper.startsWith("INSERT")) {
      val ins = CqlEval.parseInsert(cql)
      val t = tables.getOrElse(ins.table.toLowerCase,
        throw new IllegalArgumentException(s"unconfigured table ${ins.table}"))
      val keyCols = (t.partitionKeys ++ t.clusteringKeys).map(_.toLowerCase)
      val named = ins.cols.map(_.toLowerCase)
      require(keyCols.forall(named.contains),
        s"Some primary key parts are missing: ${keyCols.filterNot(named.contains).mkString(", ")}")
      val row = new Array[Any](t.schema.fields.length)
      ins.cols.zip(ins.values).foreach { case (c, raw) =>
        val i = t.schema.fieldNames.indexWhere(_.equalsIgnoreCase(c))
        require(i >= 0, s"undefined column name $c")
        row(i) = CqlEval.literal(raw, t.schema.fields(i).dataType)
      }
      // Cassandra INSERT is an UPSERT on the primary key (atomic:
      // concurrent same-key writers must not leave duplicates)
      val kIdx = keyCols.map(k => t.schema.fieldNames.indexWhere(_.equalsIgnoreCase(k)))
      t.upsert(r => kIdx.forall(i => r(i) == row(i)), row)
    } else { // DELETE
      val del = CqlEval.parseDelete(cql)
      val t = tables.getOrElse(del.table.toLowerCase,
        throw new IllegalArgumentException(s"unconfigured table ${del.table}"))
      val pk = t.partitionKeys.map(_.toLowerCase).toSet
      val ck = t.clusteringKeys.map(_.toLowerCase)
      del.where.foreach { case (a, _, _) =>
        require(pk(a.toLowerCase) || ck.contains(a.toLowerCase),
          s"Non PRIMARY KEY columns found in where clause: $a")
      }
      val pkBound = del.where.collect {
        case (a, "=", _) if pk(a.toLowerCase) => a.toLowerCase
      }.toSet
      require(pkBound == pk,
        s"Some partition key parts are missing: ${(pk -- pkBound).mkString(", ")}")
      val fieldIdx = (n: String) => t.schema.fieldNames.indexWhere(_.equalsIgnoreCase(n))
      t.deleteWhere { r =>
        del.where.forall { case (a, op, raw) =>
          val i = fieldIdx(a)
          val v = CqlEval.literal(raw, t.schema.fields(i).dataType)
          r(i) != null && FilterEval.cmp(r(i), v).exists { c =>
            op match {
              case "=" => c == 0
              case ">" => c > 0; case ">=" => c >= 0
              case "<" => c < 0; case "<=" => c <= 0
            }
          }
        }
      }
    }
  }

  /** The CQL type NAME a real cluster's schema tables carry for each
    * column type (system_schema.columns.type). */
  private def cqlTypeName(dt: DataType): String = dt match {
    case LongType => "bigint"
    case IntegerType => "int"
    case ShortType => "smallint"
    case DoubleType => "double"
    case FloatType => "float"
    case BooleanType => "boolean"
    case TimestampType => "timestamp"
    case org.apache.spark.sql.types.ArrayType(et, _) => s"list<${cqlTypeName(et)}>"
    case org.apache.spark.sql.types.MapType(kt, vt, _) =>
      s"map<${cqlTypeName(kt)}, ${cqlTypeName(vt)}>"
    case _ => "text"
  }

  /** Schema discovery surface: the `system_schema.tables` /
    * `system_schema.columns` virtual keyspace every real Cassandra
    * serves over the SAME native protocol as data queries (the
    * reference reads the equivalent gocql.TableMetadata,
    * cassandra/source.go:185-239). Columns answer in the table's
    * declared order with kind (partition_key | clustering | regular)
    * and the position within their key. */
  private val SysTablesRx =
    """(?is)\s*SELECT\s+table_name\s+FROM\s+system_schema\.tables\s+WHERE\s+keyspace_name\s*=\s*'((?:[^']|'')*)'\s*;?\s*""".r
  private val SysColumnsRx =
    """(?is)\s*SELECT\s+column_name\s*,\s*kind\s*,\s*position\s*,\s*type\s+FROM\s+system_schema\.columns\s+WHERE\s+keyspace_name\s*=\s*'((?:[^']|'')*)'\s+AND\s+table_name\s*=\s*'((?:[^']|'')*)'\s*;?\s*""".r

  /** Undo the CQL '' string-literal escape a quote-scrupulous client sends. */
  private def unq(lit: String): String = lit.replace("''", "'")

  private def systemSchemaQuery(f: Frame, cql: String): Option[Frame] = cql match {
    case SysTablesRx(ks0) =>
      val ks = unq(ks0)
      val names =
        if (ks.equalsIgnoreCase(Keyspace)) tables.keys.toSeq.sorted else Nil
      Some(Frame(Op.Result, f.stream, CqlWire.rowsBody(
        "system_schema", "tables", Seq(("table_name", T.Varchar)),
        names.map(n => Array(CqlWire.encodeValue(n, T.Varchar))), null)))
    case SysColumnsRx(ks0, tbl0) =>
      val ks = unq(ks0); val tbl = unq(tbl0)
      val cols = Seq(("column_name", T.Varchar), ("kind", T.Varchar),
        ("position", T.Int), ("type", T.Varchar))
      val rows: Seq[Array[Array[Byte]]] =
        if (!ks.equalsIgnoreCase(Keyspace)) Nil
        else tables.get(tbl.toLowerCase).toSeq.flatMap { t =>
          val pk = t.partitionKeys.map(_.toLowerCase)
          val ck = t.clusteringKeys.map(_.toLowerCase)
          t.schema.fields.map { fld =>
            val lc = fld.name.toLowerCase
            val (kind, pos) =
              if (pk.contains(lc)) ("partition_key", pk.indexOf(lc))
              else if (ck.contains(lc)) ("clustering", ck.indexOf(lc))
              else ("regular", -1)
            Array(
              CqlWire.encodeValue(fld.name, T.Varchar),
              CqlWire.encodeValue(kind, T.Varchar),
              CqlWire.encodeValue(Int.box(pos), T.Int),
              CqlWire.encodeValue(cqlTypeName(fld.dataType), T.Varchar))
          }
        }
      Some(Frame(Op.Result, f.stream,
        CqlWire.rowsBody("system_schema", "columns", cols, rows, null)))
    case _ => None
  }

  private def runQuery(f: Frame): Frame = {
    val q = CqlWire.parseQueryBody(f.body)
    lastCql.set(q.cql)
    systemSchemaQuery(f, q.cql) match {
      case Some(reply) => return reply
      case None => ()
    }
    val upper = q.cql.trim.toUpperCase
    if (upper.startsWith("BEGIN") || upper.startsWith("INSERT") ||
        upper.startsWith("DELETE")) {
      runMutation(q.cql.trim)
      // RESULT Void (kind 0x0001)
      return Frame(Op.Result, f.stream, new CqlWire.BodyOut().putInt(0x0001).bytes)
    }
    val stmt = CqlEval.parse(q.cql)
    val t = tables.getOrElse(stmt.table.toLowerCase,
      throw new IllegalArgumentException(s"unconfigured table ${stmt.table}"))
    val fieldIdx = (n: String) => t.schema.fieldNames.indexWhere(_.equalsIgnoreCase(n))

    // Cassandra's key restrictions: full partition key by equality (or
    // token() ranges over the whole key), then a contiguous clustering
    // prefix with ranges only at the cut; anything else needs ALLOW
    // FILTERING (refused)
    val pk = t.partitionKeys.map(_.toLowerCase).toSet
    val ck = t.clusteringKeys.map(_.toLowerCase)
    val (tokenConds, colConds) = stmt.where.partition {
      case (a, _, _) => CqlEval.tokenArgs(a).isDefined
    }
    tokenConds.foreach { case (a, op, _) =>
      val args = CqlEval.tokenArgs(a).get.map(_.toLowerCase)
      if (args != t.partitionKeys.map(_.toLowerCase))
        throw new IllegalArgumentException(
          s"The token function arguments must be in the partition key order: " +
            t.partitionKeys.mkString(", "))
      if (op == "=")
        () // token equality is legal CQL; compared like any bound below
    }
    val pkBound = colConds.collect {
      case (a, op, _) if (op == "=" || op == "in") && pk(a.toLowerCase) =>
        a.toLowerCase
    }.toSet
    colConds.foreach { case (a, op, _) =>
      val al = a.toLowerCase
      if (!pk(al) && !ck.contains(al))
        throw new IllegalArgumentException(
          s"Cannot execute this query as it might involve data filtering and " +
            s"thus may have unpredictable performance. If you want to execute this " +
            s"query despite the performance unpredictability, use ALLOW FILTERING " +
            s"(non-key column $a)")
      if (pk(al) && op != "=" && op != "in")
        throw new IllegalArgumentException(
          s"Only EQ and IN relation are supported on the partition key $a " +
            s"(unless you use the token() function)")
      if (ck.contains(al) && op == "in")
        throw new IllegalArgumentException(
          s"IN on clustering column $a is not served here")
    }
    if (tokenConds.nonEmpty && pkBound.nonEmpty)
      throw new IllegalArgumentException(
        "Columns of the partition key cannot be restricted both by normal " +
          "relations and token() relations")
    if (colConds.nonEmpty && tokenConds.isEmpty && pkBound != pk)
      throw new IllegalArgumentException(
        s"Partition key parts ${(pk -- pkBound).mkString(",")} must be restricted")
    // ORDER BY: the real engine's single-partition rule — legal only when
    // the partition key is EQ/IN-restricted; order columns must follow
    // the clustering declaration as a prefix, all one direction (the
    // declared order or its full reverse)
    if (stmt.orderBy.nonEmpty) {
      if (stmt.groupBy.nonEmpty)
        throw new IllegalArgumentException(
          "ORDER BY with GROUP BY is not served here")
      if (tokenConds.nonEmpty || pkBound != pk)
        throw new IllegalArgumentException(
          "ORDER BY is only supported when the partition key is restricted " +
            "by an EQ or an IN.")
      val names = stmt.orderBy.map(_._1.toLowerCase)
      if (names != ck.take(names.size))
        throw new IllegalArgumentException(
          "Order by currently only supports the ordering of columns " +
            "following their declared order in the PRIMARY KEY")
      if (stmt.orderBy.map(_._2).distinct.size > 1)
        throw new IllegalArgumentException(
          "Unsupported order by relation")
    }
    // clustering-prefix rule: walking the clustering order, every column
    // before a restricted one must be EQ-bound; past a range, nothing
    // more may be restricted (a real Cassandra refuses both shapes)
    if (colConds.exists(c => ck.contains(c._1.toLowerCase))) {
      val byCol = colConds.filter(c => ck.contains(c._1.toLowerCase))
        .groupBy(_._1.toLowerCase)
      var cut: Option[String] = None // the column whose range/gap closed the prefix
      for (c <- ck) {
        byCol.get(c) match {
          case Some(preds) =>
            cut.foreach(prev => throw new IllegalArgumentException(
              s"Clustering column \"$c\" cannot be restricted (preceding column " +
                s"\"$prev\" is restricted by a non-EQ relation or not restricted)"))
            if (preds.exists(_._2 != "=")) cut = Some(c)
          case None => if (cut.isEmpty) cut = Some(c)
        }
      }
    }

    val matched = t.snapshot.filter { r =>
      tokenConds.forall { case (_, op, raw) =>
        val bound = raw.trim.toLong
        val tok = CqlToken.of(t.partitionKeys.map(k => r(fieldIdx(k))))
        op match {
          case "=" => tok == bound
          case ">" => tok > bound; case ">=" => tok >= bound
          case "<" => tok < bound; case "<=" => tok <= bound
        }
      } && colConds.forall { case (a, op, raw) =>
        val i = fieldIdx(a)
        if (op == "in") {
          val vs = CqlEval.splitList(raw)
            .map(s => CqlEval.literal(s.trim, t.schema.fields(i).dataType))
          r(i) != null && vs.exists(v => FilterEval.cmp(r(i), v).contains(0))
        } else {
          val v = CqlEval.literal(raw, t.schema.fields(i).dataType)
          val c = FilterEval.cmp(r(i), v)
          r(i) != null && c.exists { x =>
            op match {
              case "=" => x == 0
              case ">" => x > 0; case ">=" => x >= 0
              case "<" => x < 0; case "<=" => x <= 0
            }
          }
        }
      }
    }
    val isAgg = stmt.groupBy.nonEmpty ||
      stmt.cols.exists(c => CqlEval.aggItem(c).isDefined)
    // clustering sort within the one restricted partition (clustering
    // columns are never null in Cassandra — no null arm needed)
    val ordered =
      if (stmt.orderBy.isEmpty) matched
      else {
        val keys = stmt.orderBy.map { case (c, desc) => (fieldIdx(c), desc) }
        matched.sortWith { (a, b) =>
          var r = 0
          val it = keys.iterator
          while (r == 0 && it.hasNext) {
            val (i, desc) = it.next()
            val c = FilterEval.cmp(a(i), b(i)).getOrElse(0)
            r = if (desc) -c else c
          }
          r < 0
        }
      }
    val (cols, encodedAll) =
      if (isAgg) runAggregate(t, stmt, matched, fieldIdx)
      else {
        val limited = if (stmt.limit > 0) ordered.take(stmt.limit) else ordered
        val outIdx = stmt.cols.map { c =>
          val i = fieldIdx(c)
          require(i >= 0, s"undefined column name $c")
          i
        }
        (outIdx.map(i => (t.schema.fields(i).name,
          CqlGen.typeId(t.schema.fields(i).dataType))),
          limited.map(r => outIdx.map(i =>
            CqlWire.encodeValue(r(i), CqlGen.typeId(t.schema.fields(i).dataType))).toArray))
      }

    // paging: opaque state = row offset
    val offset = Option(q.pagingState)
      .map(s => java.nio.ByteBuffer.wrap(s).getLong.toInt).getOrElse(0)
    val pageSize = if (q.pageSize > 0) q.pageSize else Int.MaxValue
    val page = encodedAll.slice(offset, math.min(encodedAll.size.toLong,
      offset.toLong + pageSize).toInt)
    val nextState =
      if (offset + page.size < encodedAll.size)
        java.nio.ByteBuffer.allocate(8).putLong((offset + page.size).toLong).array()
      else null
    Frame(Op.Result, f.stream,
      CqlWire.rowsBody(Keyspace, stmt.table, cols, page, nextState))
  }

  /** Real-engine GROUP BY + aggregate execution (CASSANDRA-10707
    * semantics): groups must be the primary-key columns, in key order,
    * covering the whole partition key; `count` skips nulls; `sum`/`avg`
    * PRESERVE the argument type (int sums wrap, int avg truncates) —
    * which is exactly why the connector ships `cast(col as bigint|
    * double)` inside them; `avg` over zero non-null values is 0, not
    * NULL (the client's companion count disambiguates); min/max skip
    * nulls; a global aggregate always returns exactly ONE row; LIMIT
    * applies to the GROUPED rows. */
  private def runAggregate(t: CqlTableData, stmt: CqlEval.Stmt,
      matched: Seq[Array[Any]], fieldIdx: String => Int)
      : (Seq[(String, Int)], Seq[Array[Array[Byte]]]) = {
    val keys = (t.partitionKeys ++ t.clusteringKeys).map(_.toLowerCase)
    val g = stmt.groupBy.map(_.toLowerCase)
    if (g.nonEmpty) {
      require(g == keys.take(g.size),
        s"Group by is currently only supported on the columns of the PRIMARY KEY, " +
          s"got ${stmt.groupBy.mkString(", ")}")
      require(g.size >= t.partitionKeys.size,
        "Group by is not supported on only a part of the partition key")
    }
    val items = stmt.cols.map { c =>
      CqlEval.aggItem(c) match {
        case Some(a) =>
          if (a.col != "*") require(fieldIdx(a.col) >= 0, s"undefined column name ${a.col}")
          Right(a)
        case None =>
          val i = fieldIdx(c)
          require(i >= 0, s"undefined column name $c")
          require(g.contains(c.toLowerCase),
            s"cannot select non-grouped column $c in an aggregate with GROUP BY")
          Left(i)
      }
    }
    def castDt(a: CqlEval.AggItem): DataType = {
      val base =
        if (a.col == "*") LongType else t.schema.fields(fieldIdx(a.col)).dataType
      a.cast match {
        case Some("bigint") => LongType
        case Some("double") => DoubleType
        case Some("int") => IntegerType
        case Some(other) => throw new IllegalArgumentException(s"unsupported cast target $other")
        case None => base
      }
    }
    def castVal(v: Any, a: CqlEval.AggItem): Any = (v, a.cast) match {
      case (null, _) | (_, None) => v
      case (n: Number, Some("bigint")) => n.longValue(): java.lang.Long
      case (n: Number, Some("double")) => n.doubleValue(): java.lang.Double
      case (n: Number, Some("int")) => n.intValue(): java.lang.Integer
      case (other, Some(ty)) =>
        throw new IllegalArgumentException(s"cannot cast $other to $ty")
    }
    def run(a: CqlEval.AggItem, grp: Seq[Array[Any]]): Any = {
      val vals: Seq[Any] =
        if (a.col == "*") grp.map(_ => 1L: java.lang.Long)
        else grp.map(r => castVal(r(fieldIdx(a.col)), a)).filter(_ != null)
      a.func match {
        case "count" => vals.size.toLong: java.lang.Long
        case "min" | "max" =>
          val sign = if (a.func == "min") -1 else 1
          vals.foldLeft(null: Any) { (best, v) =>
            if (best == null) v
            else if (FilterEval.cmp(v, best).exists(_ * sign > 0)) v else best
          }
        case "sum" | "avg" => castDt(a) match {
          // type-preserving arithmetic, the real engine's (documented)
          // sharp edge: int sums wrap, int avg truncates, empty is 0
          case LongType | IntegerType =>
            val s = vals.foldLeft(0L)(_ + _.asInstanceOf[Number].longValue())
            val v = if (a.func == "sum") s
              else if (vals.isEmpty) 0L else s / vals.size
            if (castDt(a) == IntegerType) v.toInt: java.lang.Integer
            else v: java.lang.Long
          case DoubleType | FloatType =>
            val s = vals.foldLeft(0.0)(_ + _.asInstanceOf[Number].doubleValue())
            val v = if (a.func == "sum") s
              else if (vals.isEmpty) 0.0 else s / vals.size
            if (castDt(a) == FloatType) v.toFloat: java.lang.Float
            else v: java.lang.Double
          case other =>
            throw new IllegalArgumentException(s"cannot ${a.func} a $other column")
        }
        case other => throw new IllegalArgumentException(s"unsupported aggregate $other")
      }
    }
    val gIdx = g.map(fieldIdx(_))
    val grouped: Seq[Seq[Array[Any]]] =
      if (g.isEmpty) Seq(matched) // a global aggregate: ONE row, even empty
      else {
        val order = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
        val byKey = scala.collection.mutable.LinkedHashMap.empty[Seq[Any], scala.collection.mutable.ArrayBuffer[Array[Any]]]
        matched.foreach { r =>
          val k = gIdx.map(r(_)).toSeq
          byKey.getOrElseUpdate(k, { order += k; scala.collection.mutable.ArrayBuffer.empty }) += r
        }
        order.toSeq.map(k => byKey(k).toSeq)
      }
    val limited = if (stmt.limit > 0) grouped.take(stmt.limit) else grouped
    val outCols: Seq[(String, Int)] = items.zip(stmt.cols).map {
      case (Left(i), _) =>
        (t.schema.fields(i).name, CqlGen.typeId(t.schema.fields(i).dataType))
      case (Right(a), raw) =>
        val dt = if (a.func == "count") LongType else castDt(a)
        (s"system.${raw.toLowerCase}", CqlGen.typeId(dt))
    }
    val rows = limited.map { grp =>
      items.zipWithIndex.map { case (item, ci) =>
        val (v, tid) = item match {
          case Left(i) =>
            (grp.headOption.map(_(i)).orNull, CqlGen.typeId(t.schema.fields(i).dataType))
          case Right(a) => (run(a, grp), outCols(ci)._2)
        }
        CqlWire.encodeValue(v, tid)
      }.toArray
    }
    (outCols, rows)
  }
}

/** Minimal Cassandra driver: native-protocol handshake + paged QUERY
  * over a socket (the reference drives gocql the same way,
  * `backends/cassandra/source.go` iterates paged results). Transient
  * failures before the first page retry with reconnect + backoff;
  * server ERROR frames fail fast with the server's message. */
final case class CqlClientConfig(
    connectTimeoutMs: Int = 2000,
    soTimeoutMs: Int = 10000,
    maxRetries: Int = 3,
    retryBackoffMs: Int = 50,
    pageSize: Int = 256)

final class CqlClientLite(host: String, port: Int,
    cfg: CqlClientConfig = CqlClientConfig()) {

  val requests = new AtomicLong(0)
  val retries = new AtomicLong(0)

  private val streamId = new AtomicInteger(1)
  private var socket: Socket = _
  private var in: DataInputStream = _

  private def connect(): Unit = {
    close()
    val s = new Socket()
    s.connect(new InetSocketAddress(host, port), cfg.connectTimeoutMs)
    s.setSoTimeout(cfg.soTimeoutMs)
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
    var attempt = 0
    var first: CqlWire.RowsResult = null
    while (first == null) {
      try first = roundTrip(cql, null)
      catch {
        case e: IOException if attempt < cfg.maxRetries &&
            !Option(e.getMessage).exists(_.startsWith("cql error")) =>
          attempt += 1
          retries.incrementAndGet()
          close()
          Thread.sleep(cfg.retryBackoffMs.toLong * attempt)
      }
    }
    val f = first
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
    cfg: CqlClientConfig)

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
    * ([[CqlGen.split]] enforces both); anything else refuses — and the
    * server re-validates (`Some partition key parts are missing`). */
  override def canDeleteWhere(filters: Array[Filter]): Boolean = {
    val (acc, residual) = CqlGen.split(filters.toSeq,
      ep.partitionKeys, ep.clusteringKeys)
    residual.isEmpty && acc.where.nonEmpty
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
  with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns
  with SupportsPushDownLimit
  with SupportsPushDownTopN
  with SupportsPushDownAggregates {

  private var accepted: CqlGen.Accepted = CqlGen.Accepted(Nil, Nil)
  private var required: StructType = ep.schema
  private var limit: Int = -1
  private var orders: Seq[(String, Boolean)] = Nil // (column, desc)
  private var agg: Option[CqlAgg.Spec] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (acc, residual) = CqlGen.split(filters.toSeq,
      ep.partitionKeys, ep.clusteringKeys)
    accepted = acc
    residual.toArray
  }
  override def pushedFilters(): Array[Filter] = accepted.pushed.toArray

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
    val pkEq = accepted.pushed.collect {
      case EqualTo(a, _) => a.toLowerCase
    }.toSet
    if (!ep.partitionKeys.map(_.toLowerCase).forall(pkEq.contains)) return false
    val ck = ep.clusteringKeys.map(_.toLowerCase)
    val keys = so.toSeq.map { o =>
      o.expression() match {
        case nr: NamedReference if nr.fieldNames().length == 1 =>
          val name = nr.fieldNames()(0).toLowerCase
          if (ck.contains(name))
            Some((name, o.direction() == SortDirection.DESCENDING))
          else None
        case _ => None
      }
    }
    if (keys.exists(_.isEmpty)) return false
    val flat = keys.map(_.get)
    if (flat.map(_._1) != ck.take(flat.size)) return false // clustering prefix
    if (flat.map(_._2).distinct.size > 1) return false // one direction
    orders = flat
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
        limit, accepted.pushed.toArray, hint,
        groupBy = spec.groupKeyOrder, aggs = spec.aggs)
    case None =>
      val cols =
        if (required.fields.isEmpty) Seq(ep.schema.fieldNames.head)
        else required.fieldNames.toSeq
      new CqlScan(ep, required, cols, accepted.where, limit,
        accepted.pushed.toArray, hint, orderBy = orders)
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
  override protected def delegatesOrderedWindow: Boolean = orderBy.nonEmpty

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
