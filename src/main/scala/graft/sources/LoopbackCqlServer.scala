package graft.sources

import java.io.{DataInputStream, OutputStream}
import java.util.concurrent.atomic.AtomicReference

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.types._

import graft.protocol.CqlWire
import graft.protocol.CqlWire.{Frame, Op, T}

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
object LoopbackCqlServer extends FaultGate {

  val Keyspace = "graft"

  /** A registered table: a [[FixtureTable]] plus its primary key. */
  final class CqlTableData(schema: StructType, val partitionKeys: Seq[String],
      val clusteringKeys: Seq[String], init: Seq[Array[Any]])
    extends FixtureTable(schema, init)

  private val tables = TrieMap.empty[String, CqlTableData]

  /** Last QUERY's CQL text (pushdown assertions). */
  val lastCql = new AtomicReference[String]("")

  def register(name: String, schema: StructType, partitionKeys: Seq[String],
      clusteringKeys: Seq[String], rows: Seq[Array[Any]]): Unit =
    tables.put(name.toLowerCase,
      new CqlTableData(schema, partitionKeys, clusteringKeys, rows))

  private val acceptor = new LoopbackAcceptor("graft-loopback-cql")(serveOne)

  /** Start (once); returns (host, port). */
  def ensureStarted(): (String, Int) = acceptor.ensureStarted()

  private def serveOne(in: DataInputStream, out: OutputStream): Boolean = {
    val f = CqlWire.readFrame(in)
    val admitted = admit()
    if (admitted) {
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
      CqlWire.writeFrame(out, reply, response = true)
    }
    admitted
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
      t.delete { r =>
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
        matched.sorted(PushedWindow.ordering(stmt.orderBy.map { case (c, desc) =>
          SortKey(fieldIdx(c), desc, nullsFirst = !desc)
        })((r: Array[Any], i: Int) => r(i)))
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
