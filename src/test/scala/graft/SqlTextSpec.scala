package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.SqlText
import graft.engine.SqlText.Kind._
import graft.engine.SqlText.Span

/** The front door's one SQL-text lexer: span kinds and their escapes,
  * what each rewrite sees in code spans only, placeholder arity, the
  * top-level comma split and the one value renderer — no Spark session. */
class SqlTextSpec extends AnyFunSuite {

  test("each span kind, with its doubling and escapes kept inside") {
    assert(SqlText.spans("""SELECT 'it''s', 'it\'s' AS x""") == Seq(
      Span(Code, "SELECT "), Span(SingleQuoted, "'it''s'"), Span(Code, ", "),
      Span(SingleQuoted, """'it\'s'"""), Span(Code, " AS x")))
    assert(SqlText.spans("""x = "a""b" OR y = "a\"b"""") == Seq(
      Span(Code, "x = "), Span(DoubleQuoted, "\"a\"\"b\""), Span(Code, " OR y = "),
      Span(DoubleQuoted, "\"a\\\"b\"")))
    // a backslash does not escape a backtick
    assert(SqlText.spans("SELECT `a``b`, `c\\`") == Seq(
      Span(Code, "SELECT "), Span(Backtick, "`a``b`"), Span(Code, ", "),
      Span(Backtick, "`c\\`")))
    // one quote kind inside another is data
    assert(SqlText.spans("""'"' "'" `'"`""").map(_.kind) == Seq(
      SingleQuoted, Code, DoubleQuoted, Code, Backtick))
    assert(SqlText.spans("") == Seq.empty)
    assert(SqlText.spans("''") == Seq(Span(SingleQuoted, "''")))
  }

  test("an unterminated string or identifier runs to the end of the text") {
    assert(SqlText.spans("SELECT 'abc, ?") ==
      Seq(Span(Code, "SELECT "), Span(SingleQuoted, "'abc, ?")))
    assert(SqlText.spans("SELECT \"abc\\") ==
      Seq(Span(Code, "SELECT "), Span(DoubleQuoted, "\"abc\\")))
    assert(SqlText.spans("SELECT `a") == Seq(Span(Code, "SELECT "), Span(Backtick, "`a")))
    assert(SqlText.placeholders("SELECT ? WHERE 'a?") == 1)
  }

  test("? and @ count only in code spans") {
    assert(SqlText.placeholders("SELECT ?, '?', \"?\", `?`, 'it''s ?', 'it\\'s ?', ?") == 2)
    assert(SqlText.placeholders("""SELECT * FROM t WHERE name = "O'Brien" AND id = ?""") == 1)
    assert(SqlText.placeholders("SELECT \"a?\" AS x, ? AS y") == 1)
    assert(SqlText.placeholders("SELECT `a?b` FROM t WHERE id = ?") == 1)
    assert(SqlText.hasVarRef("SELECT @x"))
    assert(SqlText.hasVarRef("SELECT 'a@b' || @@version"))
    assert(!SqlText.hasVarRef("SELECT 'a@b', \"a@b\", `a@b`, 'it''s @x', 'it\\'s @x'"))
    assert(!SqlText.hasVarRef("SELECT 1"))
    assert(SqlText.mapCode("""@a '@b' "@c" `@d` @e""")(_.replace("@", "#")) ==
      """#a '@b' "@c" `@d` #e""")
  }

  test("bind fills code-span placeholders and checks arity both ways") {
    assert(SqlText.bind("SELECT ?, '?', \"?\", `?`, ?", Seq("1", "'x'")) ==
      "SELECT 1, '?', \"?\", `?`, 'x'")
    assert(SqlText.bind("SELECT 1", Nil) == "SELECT 1")
    val few = intercept[IllegalArgumentException](SqlText.bind("SELECT ?, ?", Seq("1")))
    assert(few.getMessage == "not enough EXECUTE arguments: statement needs more than 1")
    val many = intercept[IllegalArgumentException](SqlText.bind("SELECT ?", Seq("1", "2")))
    assert(many.getMessage == "too many EXECUTE arguments: statement uses 1 of 2")
  }

  test("splitTopLevel splits on commas outside parens and quoted spans") {
    assert(SqlText.splitTopLevel("a = f(1, (2, 3)), b = 'x, y', c = \"p, q\", `d,e` = 4") ==
      Seq("a = f(1, (2, 3))", "b = 'x, y'", "c = \"p, q\"", "`d,e` = 4"))
    assert(SqlText.splitTopLevel("""name = 'it\'s a, b', n = 1""") ==
      Seq("""name = 'it\'s a, b'""", "n = 1"))
    assert(SqlText.splitTopLevel(" 1 ") == Seq("1"))
    assert(SqlText.splitTopLevel("") == Seq.empty)
  }

  test("literal renders each value type as Spark literal text") {
    assert(SqlText.literal(null) == "NULL")
    assert(SqlText.literal("O'Brien") == "'O''Brien'")
    assert(SqlText.literal("C:\\dir") == "'C:\\\\dir'")
    assert(SqlText.literal(Array[Byte](0x0a, -1)) == "X'0aff'")
    assert(SqlText.literal(java.sql.Date.valueOf("2020-01-01")) == "DATE'2020-01-01'")
    assert(SqlText.literal(java.time.LocalDate.of(2020, 1, 1)) == "DATE'2020-01-01'")
    assert(SqlText.literal(java.sql.Timestamp.valueOf("2020-01-01 10:00:00")) ==
      "TIMESTAMP'2020-01-01 10:00:00.0'")
    assert(SqlText.literal(java.time.LocalDateTime.of(2020, 1, 1, 10, 0, 30)) ==
      "TIMESTAMP'2020-01-01 10:00:30'")
    assert(SqlText.literal(new java.math.BigDecimal("1E+3")) == "1000")
    assert(SqlText.literal(new java.math.BigDecimal("1.50")) == "1.50")
    assert(SqlText.literal(42) == "42")
    assert(SqlText.literal(-7L) == "-7")
    assert(SqlText.literal(2.5) == "2.5")
    assert(SqlText.literal(true) == "true")
  }
}
