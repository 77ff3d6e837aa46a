package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.expressions.{Expression, NamedReference, NullOrdering, SortDirection, SortOrder}
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
  * which PARSES it back ([[BqSql.parse]] — a real recursive-descent
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

  // ---- parsing (server side) --------------------------------------------

  final case class Agg(kind: String, col: String) // kind: count_star|count|min|max|sum|avg
  final case class Order(col: String, desc: Boolean, nullsFirst: Boolean)

  /** One parsed two-table join (the full-statement passthrough identity:
    * `sql_to_bq.go:72-104` re-renders whatever statement it gets, joins
    * included). `leftKey`/`rightKey` are alias-qualified; `onExtra` is an
    * optional extra conjunct in the ON clause — the null-extended side's
    * pre-join filters ride there, because under an OUTER join a WHERE on
    * that side would wrongly drop null-extended rows. */
  final case class Join(kind: String, // inner|left|right
      rightTable: String, leftAlias: String, rightAlias: String,
      leftKey: String, rightKey: String, onExtra: Option[Filter])

  final case class Stmt(cols: Seq[String], aggs: Seq[(Agg, String)], table: String,
      where: Option[Filter], groupBy: Seq[String], orderBy: Seq[Order],
      limit: Int, offset: Int, join: Option[Join] = None)

  /** Prefix every attribute reference with `q.` — rendering a side's
    * pushed filters under that side's alias in a join statement. Only the
    * renderable subset needs covering: anything else never pushed. */
  def prefixRefs(f: Filter, q: String): Filter = f match {
    case EqualTo(a, v) => EqualTo(s"$q.$a", v)
    case EqualNullSafe(a, v) => EqualNullSafe(s"$q.$a", v)
    case GreaterThan(a, v) => GreaterThan(s"$q.$a", v)
    case GreaterThanOrEqual(a, v) => GreaterThanOrEqual(s"$q.$a", v)
    case LessThan(a, v) => LessThan(s"$q.$a", v)
    case LessThanOrEqual(a, v) => LessThanOrEqual(s"$q.$a", v)
    case In(a, vs) => In(s"$q.$a", vs)
    case IsNull(a) => IsNull(s"$q.$a")
    case IsNotNull(a) => IsNotNull(s"$q.$a")
    case StringStartsWith(a, v) => StringStartsWith(s"$q.$a", v)
    case StringEndsWith(a, v) => StringEndsWith(s"$q.$a", v)
    case StringContains(a, v) => StringContains(s"$q.$a", v)
    case And(l, r) => And(prefixRefs(l, q), prefixRefs(r, q))
    case Or(l, r) => Or(prefixRefs(l, q), prefixRefs(r, q))
    case Not(c) => Not(prefixRefs(c, q))
    case other => other // AlwaysTrue/False carry no refs
  }

  def parse(sql: String): Stmt = new Parser(sql).parseStmt()

  /** A parsed DML statement (BigQuery standard-SQL DML; the service —
    * unlike the reference, which never implemented BQ deletes — answers
    * UPDATE/DELETE as jobs with `numDmlAffectedRows`). */
  final case class Dml(kind: String, table: String,
      sets: Seq[(String, Any)], where: Filter)

  def isDml(sql: String): Boolean = {
    val t = sql.trim.toUpperCase
    t.startsWith("UPDATE") || t.startsWith("DELETE")
  }

  def parseDml(sql: String): Dml = new Parser(sql).parseDml()

  /** Recursive-descent parser for the rendered dialect — the warehouse's
    * front door. Grammar:
    *   SELECT item (, item)* FROM ident [WHERE pred] [GROUP BY ident*]
    *     [ORDER BY ident [DESC|ASC] [NULLS FIRST|LAST] *] [LIMIT n] [OFFSET n]
    *   item := ident | agg(ident|*) AS alias
    *   pred := or-tree of comparisons / IN / LIKE / IS [NOT] NULL with parens
    */
  private final class Parser(s: String) {
    private var i = 0
    private def ws(): Unit = { while (i < s.length && s.charAt(i).isWhitespace) i += 1 }
    private def peekWord: String = {
      ws(); val j = i
      var k = j
      while (k < s.length && (s.charAt(k).isLetterOrDigit || s.charAt(k) == '_')) k += 1
      s.substring(j, k)
    }
    private def eatWord(w: String): Boolean = {
      ws()
      if (peekWord.equalsIgnoreCase(w)) { i += w.length; true } else false
    }
    private def expectWord(w: String): Unit =
      if (!eatWord(w)) fail(s"expected $w")
    private def eatChar(c: Char): Boolean = {
      ws(); if (i < s.length && s.charAt(i) == c) { i += 1; true } else false
    }
    private def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"parse error at ${i}: $msg in [$s]")

    private def ident(): String = {
      ws(); val j = i
      while (i < s.length && (s.charAt(i).isLetterOrDigit || s.charAt(i) == '_')) i += 1
      if (i == j) fail("expected identifier")
      // one optional qualifier dot: `alias.column` (join statements)
      if (i < s.length && s.charAt(i) == '.' && i + 1 < s.length &&
          (s.charAt(i + 1).isLetter || s.charAt(i + 1) == '_')) {
        i += 1
        while (i < s.length && (s.charAt(i).isLetterOrDigit || s.charAt(i) == '_')) i += 1
      }
      s.substring(j, i)
    }

    private def stringLit(): String = {
      val sb = new StringBuilder
      if (!eatChar('\'')) fail("expected string")
      while (i < s.length && s.charAt(i) != '\'') {
        if (s.charAt(i) == '\\' && i + 1 < s.length) { sb.append(s.charAt(i + 1)); i += 2 }
        else { sb.append(s.charAt(i)); i += 1 }
      }
      if (!eatChar('\'')) fail("unterminated string")
      sb.toString
    }

    private def literal(): Any = {
      ws()
      if (i < s.length && s.charAt(i) == '\'') return stringLit()
      val w = peekWord
      if (w.equalsIgnoreCase("TRUE")) { i += w.length; return true: java.lang.Boolean }
      if (w.equalsIgnoreCase("FALSE")) { i += w.length; return false: java.lang.Boolean }
      if (w.equalsIgnoreCase("TIMESTAMP")) {
        i += w.length
        return java.sql.Timestamp.valueOf(stringLit())
      }
      // number — including scientific notation with a signed exponent
      // (Double.toString renders 1e-4 as "1.0E-4")
      val j = i
      if (i < s.length && (s.charAt(i) == '-' || s.charAt(i) == '+')) i += 1
      while (i < s.length && {
        val c = s.charAt(i)
        c.isDigit || c == '.' || c == 'E' || c == 'e' ||
          ((c == '-' || c == '+') && i > j &&
            (s.charAt(i - 1) == 'E' || s.charAt(i - 1) == 'e'))
      }) i += 1
      if (i == j) fail("expected literal")
      val raw = s.substring(j, i)
      if (raw.contains('.') || raw.toLowerCase.contains('e')) raw.toDouble: java.lang.Double
      else raw.toLong: java.lang.Long
    }

    // precedence: OR < AND < NOT < atom
    def pred(): Filter = {
      var left = andPred()
      while (eatWord("OR")) left = Or(left, andPred())
      left
    }
    private def andPred(): Filter = {
      var left = notPred()
      while (eatWord("AND")) left = And(left, notPred())
      left
    }
    private def notPred(): Filter =
      if (eatWord("NOT")) Not(notPred()) else atom()
    private def atom(): Filter = {
      ws()
      if (eatChar('(')) { val p = pred(); if (!eatChar(')')) fail("expected )"); return p }
      val w = peekWord
      if (w.equalsIgnoreCase("TRUE")) { i += w.length; return AlwaysTrue() }
      if (w.equalsIgnoreCase("FALSE")) { i += w.length; return AlwaysFalse() }
      val a = ident()
      ws()
      if (eatWord("IS")) {
        val not = eatWord("NOT")
        expectWord("NULL")
        return if (not) IsNotNull(a) else IsNull(a)
      }
      if (eatWord("IN")) {
        if (!eatChar('(')) fail("expected (")
        val vs = Seq.newBuilder[Any]
        vs += literal()
        while (eatChar(',')) vs += literal()
        if (!eatChar(')')) fail("expected )")
        return In(a, vs.result().toArray)
      }
      if (eatWord("LIKE")) {
        // stringLit has already consumed ONE escape level; the renderer
        // doubles LIKE-meta escapes so at this level escaped meta still
        // reads \% \_ \\ while anchors are BARE %.
        val body = stringLit()
        // char-walk unescape ('\' takes the next char literally) — a
        // String.replace chain mishandles "\\%" (escaped \ + anchor)
        def unesc(x: String): String = {
          val sb = new StringBuilder
          var k = 0
          while (k < x.length) {
            if (x.charAt(k) == '\\' && k + 1 < x.length) { sb.append(x.charAt(k + 1)); k += 2 }
            else { sb.append(x.charAt(k)); k += 1 }
          }
          sb.toString
        }
        // Anchor classification BEFORE unescaping: a leading % is always
        // an anchor (nothing can precede it); a trailing % is an anchor
        // only if preceded by an EVEN number of backslashes (odd = it is
        // the renderer's escaped literal %, e.g. ends-with "x%").
        val startsAnchor = body.startsWith("%")
        val endsAnchor = body.endsWith("%") && {
          var k = body.length - 2; var n = 0
          while (k >= 0 && body.charAt(k) == '\\') { n += 1; k -= 1 }
          n % 2 == 0
        }
        if (startsAnchor && endsAnchor && body.length >= 2)
          return StringContains(a, unesc(body.substring(1, body.length - 1)))
        if (endsAnchor) return StringStartsWith(a, unesc(body.dropRight(1)))
        if (startsAnchor) return StringEndsWith(a, unesc(body.drop(1)))
        fail(s"unsupported LIKE pattern $body")
      }
      val op =
        if (eatChar('=')) "="
        else if (eatChar('<')) { if (eatChar('=')) "<=" else if (eatChar('>')) "<>" else "<" }
        else if (eatChar('>')) { if (eatChar('=')) ">=" else ">" }
        else fail("expected comparison operator")
      val v = literal()
      op match {
        case "=" => EqualTo(a, v)
        case "<>" => Not(EqualTo(a, v))
        case "<" => LessThan(a, v)
        case "<=" => LessThanOrEqual(a, v)
        case ">" => GreaterThan(a, v)
        case ">=" => GreaterThanOrEqual(a, v)
      }
    }

    private def selectItem(): Either[String, (Agg, String)] = {
      ws()
      val w = peekWord.toLowerCase
      if (Set("count", "min", "max", "sum", "avg")(w)) {
        i += w.length
        if (!eatChar('(')) fail("expected (")
        val arg = { ws(); if (eatChar('*')) "*" else ident() }
        if (!eatChar(')')) fail("expected )")
        expectWord("AS")
        val alias = ident()
        val kind = if (w == "count" && arg == "*") "count_star" else w
        Right((Agg(kind, arg), alias))
      } else Left(ident())
    }

    def parseStmt(): Stmt = {
      expectWord("SELECT")
      val items = Seq.newBuilder[Either[String, (Agg, String)]]
      items += selectItem()
      while (eatChar(',')) items += selectItem()
      expectWord("FROM")
      val table = ident()
      val keywords = Set("WHERE", "GROUP", "ORDER", "LIMIT", "OFFSET",
        "JOIN", "INNER", "LEFT", "RIGHT", "ON")
      def maybeAlias(): Option[String] = {
        val w = peekWord
        if (w.isEmpty || keywords.contains(w.toUpperCase)) None
        else { i += w.length; Some(w) }
      }
      val leftAlias = maybeAlias()
      val join: Option[Join] = {
        val kind =
          if (eatWord("LEFT")) { eatWord("OUTER"); expectWord("JOIN"); Some("left") }
          else if (eatWord("RIGHT")) { eatWord("OUTER"); expectWord("JOIN"); Some("right") }
          else if (eatWord("INNER")) { expectWord("JOIN"); Some("inner") }
          else if (eatWord("JOIN")) Some("inner")
          else None
        kind.map { k =>
          val rt = ident()
          val ra = maybeAlias().getOrElse(fail("join requires a right alias"))
          expectWord("ON")
          val lk = ident()
          if (!eatChar('=')) fail("expected = in ON clause")
          val rk = ident()
          val extra = if (eatWord("AND")) Some(pred()) else None
          Join(k, rt, leftAlias.getOrElse(fail("join requires a left alias")),
            ra, lk, rk, extra)
        }
      }
      val where = if (eatWord("WHERE")) Some(pred()) else None
      val groupBy = if (eatWord("GROUP")) {
        expectWord("BY")
        val gs = Seq.newBuilder[String]
        gs += ident()
        while (eatChar(',')) gs += ident()
        gs.result()
      } else Nil
      val orderBy = if (eatWord("ORDER")) {
        expectWord("BY")
        def one(): Order = {
          val c = ident()
          val desc = if (eatWord("DESC")) true else { eatWord("ASC"); false }
          val nf = if (eatWord("NULLS")) {
            if (eatWord("FIRST")) true else { expectWord("LAST"); false }
          } else !desc // engine defaults: ASC => NULLS FIRST, DESC => NULLS LAST
          Order(c, desc, nf)
        }
        val os = Seq.newBuilder[Order]
        os += one()
        while (eatChar(',')) os += one()
        os.result()
      } else Nil
      val limit = if (eatWord("LIMIT")) literal().asInstanceOf[java.lang.Long].toInt else -1
      val offset = if (eatWord("OFFSET")) literal().asInstanceOf[java.lang.Long].toInt else 0
      ws()
      if (i != s.length) fail("trailing input")
      val its = items.result()
      Stmt(its.collect { case Left(c) => c },
        its.collect { case Right(a) => a },
        table, where, groupBy, orderBy, limit, offset, join)
    }

    /** `UPDATE t SET c = lit, ... WHERE pred` / `DELETE FROM t WHERE
      * pred`. WHERE is REQUIRED — the real service rejects DML without
      * one (`WHERE TRUE` is the explicit opt-in to a full mutation). */
    def parseDml(): Dml = {
      if (eatWord("DELETE")) {
        expectWord("FROM")
        val table = ident()
        if (!eatWord("WHERE"))
          fail("DELETE must have a WHERE clause; use WHERE TRUE to delete all rows")
        val w = pred()
        ws(); if (i != s.length) fail("trailing input")
        Dml("delete", table, Nil, w)
      } else {
        expectWord("UPDATE")
        val table = ident()
        expectWord("SET")
        val sets = Seq.newBuilder[(String, Any)]
        def one(): Unit = {
          val c = ident()
          if (!eatChar('=')) fail("expected =")
          ws()
          sets += (c -> (if (eatWord("NULL")) null else literal()))
        }
        one()
        while (eatChar(',')) one()
        if (!eatWord("WHERE"))
          fail("UPDATE must have a WHERE clause; use WHERE TRUE to update all rows")
        val w = pred()
        ws(); if (i != s.length) fail("trailing input")
        Dml("update", table, sets.result(), w)
      }
    }
  }

  /** Apply a DML statement; returns (new rows, affected count). */
  def executeDml(dml: Dml, schema: StructType, rows: Seq[Array[Any]])
      : (Seq[Array[Any]], Long) = {
    val hit = (r: Array[Any]) => FilterEval.eval(dml.where, schema, r)
    dml.kind match {
      case "delete" =>
        val kept = rows.filterNot(hit)
        (kept, (rows.size - kept.size).toLong)
      case "update" =>
        val setIdx = dml.sets.map { case (c, v) =>
          val k = schema.fieldNames.indexWhere(_.equalsIgnoreCase(c))
          require(k >= 0, s"unknown column $c")
          // literals arrive as Long/Double/String/Boolean/Timestamp —
          // coerce integer literals into narrower integer columns
          val coerced = (v, schema.fields(k).dataType) match {
            case (l: java.lang.Long, IntegerType) => Int.box(l.toInt)
            case (l: java.lang.Long, ShortType) => Short.box(l.toShort)
            case (l: java.lang.Long, DoubleType) => Double.box(l.toDouble)
            case (d: java.lang.Double, FloatType) => Float.box(d.toFloat)
            case _ => v
          }
          k -> coerced
        }
        var n = 0L
        val next = rows.map { r =>
          if (!hit(r)) r
          else {
            n += 1
            val copy = r.clone()
            setIdx.foreach { case (k, v) => copy(k) = v }
            copy
          }
        }
        (next, n)
    }
  }

  // ---- execution (the warehouse) ----------------------------------------

  /** Execute a parsed statement over external-typed rows — filters with
    * the engine's 3VL evaluator, exact integer aggregation, engine null
    * ordering. Returns (column names, column types, rows). */
  def execute(stmt: Stmt, schema: StructType, rows: Seq[Array[Any]])
      : (Seq[String], Seq[DataType], Seq[Seq[Any]]) = {
    def idx(c: String): Int = {
      val k = schema.fieldNames.indexWhere(_.equalsIgnoreCase(c))
      require(k >= 0, s"unknown column $c")
      k
    }
    val filtered = stmt.where match {
      case Some(f) => rows.filter(r => FilterEval.eval(f, schema, r))
      case None => rows
    }
    def integral(i: Int) = schema.fields(i).dataType match {
      case ShortType | IntegerType | LongType => true
      case _ => false
    }
    def aggValue(a: Agg, group: Seq[Array[Any]]): (Any, DataType) = a.kind match {
      case "count_star" => (group.size.toLong, LongType)
      case "count" =>
        val i = idx(a.col); (group.count(_(i) != null).toLong, LongType)
      case "min" | "max" =>
        val i = idx(a.col)
        val vs = group.map(_(i)).filter(_ != null)
        val dt = schema.fields(i).dataType
        if (vs.isEmpty) (null, dt)
        else {
          val picked = vs.reduce { (x, y) =>
            val c = FilterEval.cmp(x, y).getOrElse(0)
            if (a.kind == "min") { if (c <= 0) x else y } else { if (c >= 0) x else y }
          }
          (picked, dt)
        }
      case "sum" =>
        val i = idx(a.col)
        val vs = group.map(_(i)).filter(_ != null)
        if (integral(i))
          (if (vs.isEmpty) null else vs.map(_.asInstanceOf[Number].longValue()).sum, LongType)
        else
          (if (vs.isEmpty) null else vs.map(_.asInstanceOf[Number].doubleValue()).sum, DoubleType)
      case "avg" =>
        val i = idx(a.col)
        val vs = group.map(_(i)).filter(_ != null)
        if (vs.isEmpty) (null, DoubleType)
        else if (integral(i)) // exact integer sum, ONE IEEE division
          (vs.map(_.asInstanceOf[Number].longValue()).sum.toDouble / vs.size, DoubleType)
        else (vs.map(_.asInstanceOf[Number].doubleValue()).sum / vs.size, DoubleType)
    }

    // shared null-ordered multi-key comparator over indexed rows
    def sortBy[R](rows: Seq[R], keyIdx: Seq[(Int, Order)], get: (R, Int) => Any): Seq[R] =
      rows.sortWith { (a, b) =>
        var r = 0
        val it = keyIdx.iterator
        while (r == 0 && it.hasNext) {
          val (k, o) = it.next()
          val c = (get(a, k), get(b, k)) match {
            case (null, null) => 0
            case (null, _) => if (o.nullsFirst) -1 else 1
            case (_, null) => if (o.nullsFirst) 1 else -1
            case (x, y) => FilterEval.cmp(x, y).getOrElse(0)
          }
          r = if (o.desc) -c else c
        }
        r < 0
      }

    val isAgg = stmt.aggs.nonEmpty || stmt.groupBy.nonEmpty
    // non-agg ORDER BY resolves against the INPUT schema and sorts the
    // rows BEFORE projection (SQL scoping — the key need not be
    // projected; a pushed join's qualified `ORDER BY t0.x` rides here)
    val preSorted =
      if (isAgg || stmt.orderBy.isEmpty) filtered
      else sortBy[Array[Any]](filtered,
        stmt.orderBy.map(o => (idx(o.col), o)), (r, k) => r(k))

    val (names, types, out): (Seq[String], Seq[DataType], Seq[Seq[Any]]) =
      if (isAgg) {
        val gIdx = stmt.groupBy.map(idx)
        val groups: Seq[(Seq[Any], Seq[Array[Any]])] =
          if (gIdx.isEmpty) Seq((Nil, filtered))
          else filtered.groupBy(r => gIdx.map(r(_)): Seq[Any]).toSeq
        val aggTypes = stmt.aggs.map { case (a, _) =>
          aggValue(a, filtered.take(0))._2
        }
        (stmt.groupBy ++ stmt.aggs.map(_._2),
          gIdx.map(schema.fields(_).dataType) ++ aggTypes,
          groups.map { case (keys, g) => keys ++ stmt.aggs.map(x => aggValue(x._1, g)._1) })
      } else {
        val cIdx = stmt.cols.map(idx)
        (stmt.cols.map(c => schema.fieldNames(idx(c))),
          cIdx.map(schema.fields(_).dataType),
          preSorted.map(r => cIdx.map(r(_))))
      }

    // agg ORDER BY (TopN over a pushed aggregate) names OUTPUT columns
    val sorted = if (!isAgg || stmt.orderBy.isEmpty) out else {
      val keyIdx = stmt.orderBy.map(o => {
        val k = names.indexWhere(_.equalsIgnoreCase(o.col))
        require(k >= 0, s"ORDER BY references unknown output ${o.col}")
        (k, o)
      })
      sortBy[Seq[Any]](out, keyIdx, (r, k) => r(k))
    }
    val windowed = sorted.slice(stmt.offset,
      if (stmt.limit >= 0) stmt.offset + stmt.limit else sorted.size)
    (names, types, windowed)
  }

  /** Execute a two-table join statement: hash-join the registered rows
    * (SQL key equality — null keys never match; the ON extra conjunct
    * gates match candidacy, so a null-extended side's pre-join filters
    * behave exactly like a filtered subquery), then run the remaining
    * clauses over the joined virtual table whose columns carry their
    * alias-qualified names. */
  def executeJoin(stmt: Stmt, left: (StructType, Seq[Array[Any]]),
      right: (StructType, Seq[Array[Any]]))
      : (Seq[String], Seq[DataType], Seq[Seq[Any]]) = {
    val j = stmt.join.get
    val (ls, lr) = left
    val (rs, rr) = right
    val virt = StructType(
      ls.fields.map(f => StructField(s"${j.leftAlias}.${f.name}", f.dataType, nullable = true)) ++
        rs.fields.map(f => StructField(s"${j.rightAlias}.${f.name}", f.dataType, nullable = true)))
    def local(schema: StructType, alias: String, q: String): Int = {
      require(q.toLowerCase.startsWith(alias.toLowerCase + "."),
        s"ON key $q is not under alias $alias")
      val col = q.substring(alias.length + 1)
      val k = schema.fieldNames.indexWhere(_.equalsIgnoreCase(col))
      require(k >= 0, s"unknown join key $q")
      k
    }
    // the ON clause may name the keys in either order
    val (lq, rq) =
      if (j.leftKey.toLowerCase.startsWith(j.leftAlias.toLowerCase + "."))
        (j.leftKey, j.rightKey)
      else (j.rightKey, j.leftKey)
    val lk = local(ls, j.leftAlias, lq)
    val rk = local(rs, j.rightAlias, rq)
    // numeric keys hash by widened value so INT32/INT64 sides still meet
    def norm(v: Any): Any = v match {
      case n @ (_: java.lang.Short | _: java.lang.Integer | _: java.lang.Long) =>
        n.asInstanceOf[Number].longValue(): java.lang.Long
      case n @ (_: java.lang.Float | _: java.lang.Double) =>
        n.asInstanceOf[Number].doubleValue(): java.lang.Double
      case x => x
    }
    def accepts(row: Array[Any]): Boolean =
      j.onExtra.forall(p => FilterEval.eval(p, virt, row))
    val nullsL = Array.fill[Any](ls.fields.length)(null)
    val nullsR = Array.fill[Any](rs.fields.length)(null)
    val joined: Seq[Array[Any]] = j.kind match {
      case "right" =>
        val byKey = lr.filter(_(lk) != null).groupBy(r => norm(r(lk)))
        rr.flatMap { r =>
          val hits =
            if (r(rk) == null) Nil
            else byKey.getOrElse(norm(r(rk)), Nil).map(l => l ++ r).filter(accepts)
          if (hits.nonEmpty) hits else Seq(nullsL ++ r)
        }
      case kind =>
        val byKey = rr.filter(_(rk) != null).groupBy(r => norm(r(rk)))
        lr.flatMap { l =>
          val hits =
            if (l(lk) == null) Nil
            else byKey.getOrElse(norm(l(lk)), Nil).map(r => l ++ r).filter(accepts)
          if (hits.nonEmpty) hits
          else if (kind == "left") Seq(l ++ nullsR)
          else Nil
        }
    }
    execute(stmt.copy(join = None, table = "__joined"), virt, joined)
  }
}

/** Serializable BQ endpoint pointer. */
final case class BqEndpointSpec(baseUrl: String, table: String, cfg: HttpRestConfig)

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
  with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns
  with SupportsPushDownLimit
  with SupportsPushDownOffset
  with SupportsPushDownTopN
  with SupportsPushDownAggregates
  with SupportsPushDownJoin {

  private var pushed: Array[Filter] = Array.empty
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

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    if (join.isDefined) return filters // post-join refs are output names
    val (ok, declined) = filters.partition(f => BqSql.render(f).isDefined)
    pushed = ok
    declined
  }
  override def pushedFilters(): Array[Filter] = pushed

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

  override def pushTopN(so: Array[SortOrder], n: Int): Boolean = {
    val base = sortable
    val ks = so.map { o =>
      o.expression() match {
        case nr: NamedReference if nr.fieldNames().length == 1 =>
          base.find(_._1.equalsIgnoreCase(nr.fieldNames()(0))).map(c =>
            BqSql.Order(c._2,
              o.direction() == SortDirection.DESCENDING,
              o.nullOrdering() == NullOrdering.NULLS_FIRST))
        case _ => None
      }
    }
    if (ks.exists(_.isEmpty)) false
    else { orders = ks.map(_.get).toSeq; limit = n; true }
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
        fs.toSeq.flatMap(f => BqSql.render(BqSql.prefixRefs(f, alias)))
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
      val orderSql =
        if (orders.isEmpty) ""
        else " ORDER BY " + orders.map { o =>
          val dir = if (o.desc) " DESC" else " ASC"
          val nulls = if (o.nullsFirst) " NULLS FIRST" else " NULLS LAST"
          s"${o.col}$dir$nulls"
        }.mkString(", ")
      // Spark pushes limit INCLUSIVE of the offset; SQL's LIMIT counts
      // post-OFFSET rows (same adjustment as the single-table render)
      val effLimit = if (limit >= 0) math.max(0, limit - offset) else -1
      val limitSql = if (effLimit >= 0) s" LIMIT $effLimit" else ""
      val offsetSql = if (offset > 0) s" OFFSET $offset" else ""
      val renderJoin: Seq[String] => String = extras => {
        val w = whereSide ++ extras
        val whereSql = if (w.isEmpty) "" else " WHERE " + w.mkString(" AND ")
        s"SELECT ${items.mkString(", ")} FROM ${ep.table} t0 " +
          s"$joinKw ${j.rightTable} t1 ON $onSql$whereSql$groupSql$orderSql$limitSql$offsetSql"
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
        runtimeCols = rtCols, delegatesOrderedWindow = orders.nonEmpty || offset > 0)
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
    val orderSql =
      if (orders.isEmpty) ""
      else " ORDER BY " + orders.map { o =>
        val dir = if (o.desc) " DESC" else " ASC"
        val nulls = if (o.nullsFirst) " NULLS FIRST" else " NULLS LAST"
        s"${o.col}$dir$nulls"
      }.mkString(", ")
    // Spark pushes limit INCLUSIVE of the offset (take(limit+offset)
    // then drop(offset)); SQL's LIMIT counts post-OFFSET rows
    val effLimit = if (limit >= 0) math.max(0, limit - offset) else -1
    val limitSql = if (effLimit >= 0) s" LIMIT $effLimit" else ""
    val offsetSql = if (offset > 0) s" OFFSET $offset" else ""
    val renderFull: Seq[String] => String = extras => {
      val w = pushed.toSeq.flatMap(BqSql.render) ++ extras
      val whereS = if (w.isEmpty) "" else " WHERE " + w.mkString(" AND ")
      s"SELECT $selectSql FROM ${ep.table}$whereS$groupSql$orderSql$limitSql$offsetSql"
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
      delegatesOrderedWindow = orders.nonEmpty || offset > 0)
  }
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
    if (WireFanout.pinsKey(pushed, ws.key)) return single
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
