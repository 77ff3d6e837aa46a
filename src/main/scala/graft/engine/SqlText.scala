package graft.engine

import scala.collection.mutable.ArrayBuffer

/** The front door's one SQL-text lexer (the reference tokenizes each
  * statement once, with qlbridge's lexer). A statement splits into spans:
  *   - code;
  *   - a single-quoted string: `''` doubling and backslash escapes stay
  *     inside;
  *   - a double-quoted string (Spark reads `"…"` as a string literal):
  *     `""` doubling and `\"` stay inside;
  *   - a backtick identifier: a doubled backtick stays inside.
  * An unterminated string or identifier runs to the end of the text.
  * Comments are not lexed.
  *
  * Every text rewrite of the front door goes through this one span walk:
  * `?` placeholders, `@var` references, bracket identifiers and top-level
  * comma splits are seen in code spans only, so no two callers can
  * disagree about what is quoted. [[literal]] is the one value renderer.
  */
object SqlText {

  sealed trait Kind
  object Kind {
    case object Code extends Kind
    case object SingleQuoted extends Kind
    case object DoubleQuoted extends Kind
    case object Backtick extends Kind
  }
  import Kind._

  final case class Span(kind: Kind, text: String)

  def spans(sql: String): Seq[Span] = {
    val out = ArrayBuffer.empty[Span]
    var start = 0
    var i = 0
    while (i < sql.length) {
      val kind = sql.charAt(i) match {
        case '\'' => SingleQuoted
        case '"' => DoubleQuoted
        case '`' => Backtick
        case _ => Code
      }
      if (kind == Code) i += 1
      else {
        if (i > start) out += Span(Code, sql.substring(start, i))
        val end = closeOf(sql, i)
        out += Span(kind, sql.substring(i, end))
        start = end; i = end
      }
    }
    if (start < sql.length) out += Span(Code, sql.substring(start))
    out.toSeq
  }

  /** End (exclusive) of the quoted span that opens at `open`. */
  private def closeOf(sql: String, open: Int): Int = {
    val q = sql.charAt(open)
    var i = open + 1
    while (i < sql.length) {
      val ch = sql.charAt(i)
      if (ch == '\\' && q != '`') i += 2
      else if (ch != q) i += 1
      else if (i + 1 < sql.length && sql.charAt(i + 1) == q) i += 2
      else return i + 1
    }
    sql.length
  }

  /** Rewrite the code spans only; quoted spans pass through verbatim. */
  def mapCode(sql: String)(f: String => String): String =
    spans(sql).map(s => if (s.kind == Code) f(s.text) else s.text).mkString

  /** True iff a code span references a `@var` or `@@sysvar`. */
  def hasVarRef(sql: String): Boolean = sql.indexOf('@') >= 0 &&
    spans(sql).exists(s => s.kind == Code && VarRef.findFirstIn(s.text).isDefined)

  private val VarRef = "@\\w".r

  /** Number of positional `?` placeholders. */
  def placeholders(sql: String): Int =
    spans(sql).collect { case Span(Code, t) => t.count(_ == '?') }.sum

  /** Replace the positional `?` placeholders with the rendered `values`;
    * errors on an arity mismatch either way, as MySQL does. */
  def bind(sql: String, values: Seq[String]): String = {
    var used = 0
    val out = mapCode(sql) { code =>
      val sb = new StringBuilder
      code.foreach {
        case '?' =>
          if (used >= values.length)
            throw new IllegalArgumentException(
              s"not enough EXECUTE arguments: statement needs more than ${values.length}")
          sb.append(values(used)); used += 1
        case ch => sb.append(ch)
      }
      sb.toString
    }
    if (used != values.length)
      throw new IllegalArgumentException(
        s"too many EXECUTE arguments: statement uses $used of ${values.length}")
    out
  }

  /** Split on the commas at paren depth 0; each piece trimmed. */
  def splitTopLevel(s: String): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    spans(s).foreach {
      case Span(Code, t) => t.foreach {
        case '(' => depth += 1; cur += '('
        case ')' => depth -= 1; cur += ')'
        case ',' if depth == 0 => out += cur.toString; cur.clear()
        case ch => cur += ch
      }
      case Span(_, t) => cur ++= t
    }
    if (cur.nonEmpty) out += cur.toString
    out.toSeq.map(_.trim)
  }

  /** A value as SQL literal text that Spark reads back as the same value. */
  def literal(v: Any): String = v match {
    case null => "NULL"
    // Spark reads a backslash in a literal as an escape: double it too
    case s: String => "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"
    case b: Array[Byte] => "X'" + b.map(x => f"${x & 0xff}%02x").mkString + "'"
    case d: java.sql.Date => s"DATE'$d'"
    case d: java.time.LocalDate => s"DATE'$d'"
    case t: java.sql.Timestamp => s"TIMESTAMP'$t'"
    case t: java.time.LocalDateTime => s"TIMESTAMP'${t.toString.replace('T', ' ')}'"
    case d: java.math.BigDecimal => d.toPlainString
    case other => other.toString
  }
}
