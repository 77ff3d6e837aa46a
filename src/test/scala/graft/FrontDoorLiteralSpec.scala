package graft

import java.io.File
import java.time.{LocalDate, LocalDateTime}

import scala.util.Random

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{EqualTo, Expression, Literal}
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.GraftEngine
import graft.protocol.{FrontDoorExec, LiteralSlot, MysqlClient, MysqlServer}

/** Literal-stable front-door execution: the MySQL listener moves the
  * primitive literals of filter conditions out of the generated code
  * ([[FrontDoorExec.stableLiterals]]). Seeded WHERE clauses over every
  * slotted type — INT, BIGINT, SMALLINT, TINYINT, DOUBLE, FLOAT, DATE,
  * TIMESTAMP — with their edge values go through the wire as COM_QUERY
  * text and as COM_STMT_EXECUTE, over a parquet table and two CSV-source
  * tables, and must return exactly the rows `spark.sql(...).collect()`
  * returns over the parquet copy; a statement that differs from the previous one only in its
  * literal must compile no new code.
  */
class FrontDoorLiteralSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("k", IntegerType),
    StructField("i", IntegerType), StructField("l", LongType),
    StructField("s", ShortType), StructField("t", ByteType),
    StructField("d", DoubleType), StructField("f", FloatType),
    StructField("dt", DateType), StructField("ts", TimestampType)))

  /** Non-null values of each column, edge values first. */
  private val pools: Map[String, IndexedSeq[Any]] = Map(
    "k" -> (0 until 12).map(Int.box),
    "i" -> IndexedSeq[Any](Int.MaxValue, Int.MinValue, 0, -1, 7, 42, 1000),
    "l" -> IndexedSeq[Any](Long.MinValue, Long.MaxValue, 0L, -5L, 5L, 1L << 40),
    "s" -> IndexedSeq[Any](Short.MinValue, Short.MaxValue, 0.toShort, 3.toShort, -3.toShort),
    "t" -> IndexedSeq[Any](Byte.MinValue, Byte.MaxValue, 0.toByte, 9.toByte, -9.toByte),
    "d" -> IndexedSeq[Any](Double.NaN, -0.0, 0.0, Double.PositiveInfinity,
      Double.NegativeInfinity, 1.5, -2.25, 1e300),
    "f" -> IndexedSeq[Any](Float.NaN, -0.0f, 0.0f, Float.PositiveInfinity,
      Float.NegativeInfinity, 1.5f, -2.25f),
    "dt" -> IndexedSeq[Any](LocalDate.of(1970, 1, 1), LocalDate.of(2024, 2, 29),
      LocalDate.of(1899, 12, 31), LocalDate.of(2038, 1, 19)),
    "ts" -> IndexedSeq[Any](LocalDateTime.of(1970, 1, 1, 0, 0),
      LocalDateTime.of(2024, 2, 29, 10, 11, 12), LocalDateTime.of(1999, 12, 31, 23, 59, 59)))

  private val cols = schema.fieldNames.toSeq.drop(2)
  private val numeric = Set("k", "s", "t", "d", "f")
  private val addend: Map[String, (String, Any)] = Map("d" -> ("d" -> 1.5), "f" -> ("f" -> 1.5f))

  /** External value of a pool entry, as the DataFrame row holds it. */
  private def external(v: Any): Any = v match {
    case d: LocalDate => java.sql.Date.valueOf(d)
    case t: LocalDateTime => java.sql.Timestamp.valueOf(t)
    case other => other
  }

  /** SQL text of a non-null literal, typed exactly as its column. */
  private def sqlLit(c: String, v: Any): String = (c, v) match {
    case ("l", x) => s"${x}L"
    case ("s", x) => s"${x}S"
    case ("t", x) => s"${x}Y"
    case ("d", x: Double) if x.isNaN || x.isInfinite => s"CAST('$x' AS DOUBLE)"
    case ("d", x) => s"${x}D"
    case ("f", x) => s"CAST('$x' AS FLOAT)"
    case ("dt", x) => s"DATE'$x'"
    case ("ts", x: LocalDateTime) => s"TIMESTAMP'${x.toString.replace('T', ' ')}'"
    case (_, x) => x.toString
  }

  private lazy val tables: Seq[String] = {
    val r = new Random(17)
    val rows = (0 until 240).map { id =>
      Row.fromSeq(id.toLong +: (r.nextInt(12): Any) +: cols.map { c =>
        if (r.nextInt(9) == 0) null else external(pools(c)(r.nextInt(pools(c).size)))
      })
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    val root = new File(sys.props("user.dir"), "target/graft-test/frontdoor_literal").getPath
    df.write.mode("overwrite").parquet(s"$root/pq")
    spark.read.parquet(s"$root/pq").createOrReplaceTempView("fdl_pq")
    val eng = new GraftEngine(spark)
    val csv = Seq("full", "passthrough").map { profile =>
      val src = s"fdl_$profile"
      eng.sql(s"""CREATE SOURCE $src WITH { "type": "csv", "path": "$root/$src", "pushdown": "$profile" }""")
      val t = s"graft.$src.t"
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"CREATE TABLE $t (${schema.toDDL})")
      df.writeTo(t).append()
      t
    }
    "fdl_pq" +: csv
  }

  private def connect(): MysqlClient = {
    tables
    new MysqlClient("127.0.0.1", MysqlServer.ensureStarted(spark), "root", MysqlServer.Password)
  }

  /** One seeded predicate over column `c`: its SQL with `?` in place of
    * each literal, and each literal's value with the column it is typed as. */
  private def predicate(r: Random, c: String): (String, Seq[(String, Any)]) = {
    val p = pools(c)
    def v(): (String, Any) = c -> p(r.nextInt(p.size))
    r.nextInt(9) match {
      case 0 => (s"$c = ?", Seq(v()))
      case 1 => (s"$c <> ?", Seq(v()))
      case 2 => (s"$c <=> ?", Seq(v()))
      case 3 => (s"$c < ?", Seq(v()))
      case 4 => (s"$c >= ?", Seq(v()))
      case 5 =>
        val Seq(a, b) = Seq(v(), v()).sortBy(x => external(x._2).toString)
        (s"$c BETWEEN ? AND ?", Seq(a, b))
      case 6 => (s"$c IN (?, ?, ?)", Seq(v(), v(), v()))
      // the addend widens SMALLINT and TINYINT to INT: no ANSI overflow
      case 7 if numeric(c) => (s"$c + ? = ?", Seq(addend.getOrElse(c, "k" -> 1), v()))
      case _ => (s"$c > ? AND id <= ?", Seq(v(), "l" -> r.nextInt(240).toLong))
    }
  }

  private def bindText(sql: String, args: Seq[(String, Any)]): String =
    args.foldLeft(sql) { case (s, (c, v)) =>
      s.replaceFirst("\\?", java.util.regex.Matcher.quoteReplacement(sqlLit(c, v)))
    }

  /** The oracle: `spark.sql` over the parquet copy of the same rows. */
  private def expected(where: String): Seq[Long] =
    spark.sql(s"SELECT id FROM fdl_pq WHERE $where").collect().map(_.getLong(0)).toSeq.sorted

  private def ids(rows: IndexedSeq[IndexedSeq[Option[Any]]]): Seq[Long] =
    rows.map(_.head.get.toString.toLong).sorted

  test("seeded WHERE literals of every primitive type match spark.sql, as text") {
    val c = connect()
    try {
      val r = new Random(5)
      for (table <- tables; col <- cols; _ <- 0 until 4) {
        val (sql, args) = predicate(r, col)
        val where = bindText(sql, args)
        val got = ids(c.select(s"SELECT id FROM $table WHERE $where").rows)
        assert(got == expected(where), s"$table WHERE $where")
      }
    } finally c.close()
  }

  test("seeded WHERE literals of every primitive type match spark.sql, as COM_STMT_EXECUTE") {
    val c = connect()
    try {
      val r = new Random(6)
      for (table <- tables; col <- cols; _ <- 0 until 3) {
        val (sql, args) = predicate(r, col)
        val ok = c.stmtPrepare(s"SELECT id FROM $table WHERE $sql")
        val got = ids(c.stmtExecute(ok.stmtId, args.map(_._2)).toOption.get.rows)
        c.stmtClose(ok.stmtId)
        val where = bindText(sql, args)
        assert(got == expected(where), s"$table WHERE $sql with ${args.mkString(", ")}")
      }
    } finally c.close()
  }

  test("a statement differing only in its literal compiles no new code") {
    val c = connect()
    try {
      def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      for (table <- tables; (col, a, b) <- Seq(("l", 5L, 1L << 40), ("d", 1.5, -2.25),
          ("dt", LocalDate.of(2024, 2, 29), LocalDate.of(1970, 1, 1)))) {
        def run(v: Any): Seq[Long] =
          ids(c.select(s"SELECT id, i FROM $table WHERE $col = ${sqlLit(col, v)} OR k = 3").rows)
        run(a)
        val before = compiles()
        val got = run(b)
        assert(compiles() - before == 0, s"$table: a new $col literal compiled fresh code")
        assert(got == expected(s"$col = ${sqlLit(col, b)} OR k = 3"))
      }
      val ok = c.stmtPrepare(s"SELECT id, s FROM fdl_pq WHERE i = ? OR t = ?")
      c.stmtExecute(ok.stmtId, Seq(7, 9.toByte))
      val before = compiles()
      val got = ids(c.stmtExecute(ok.stmtId, Seq(42, -9.toByte)).toOption.get.rows)
      assert(compiles() - before == 0, "a new bound parameter compiled fresh code")
      assert(got == expected("i = 42 OR t = -9Y"))
      c.stmtClose(ok.stmtId)
    } finally c.close()
  }

  test("only non-null primitive literals under a comparison, IN or arithmetic are slotted") {
    tables
    val plan = spark.sql("SELECT id FROM fdl_pq WHERE l = 5L AND i + 1 = 8 AND k IN (1, 2)")
      .queryExecution.executedPlan
    def conds(p: org.apache.spark.sql.execution.SparkPlan): Seq[Expression] =
      p.collect { case f: FilterExec => f.condition }
    val slotted = conds(FrontDoorExec.stableLiterals(plan))
    assert(slotted.nonEmpty)
    assert(slotted.forall(_.collect { case l: Literal => l }.isEmpty), slotted.mkString("; "))
    assert(slotted.flatMap(_.collect { case s: LiteralSlot => s.value }).toSet
      == Set(5L, 1, 8, 2))
    // a NULL, a STRING and a DECIMAL literal stay Literals; nothing
    // outside a comparison, IN or arithmetic is touched
    val kept = Seq(Literal(null, LongType), Literal("x"), Literal(BigDecimal("1.5")))
    val withKept = plan.transform { case f: FilterExec =>
      f.copy(condition = kept.foldLeft(f.condition) { (acc, l) =>
        org.apache.spark.sql.catalyst.expressions.And(acc, EqualTo(l, l))
      })
    }
    val after = conds(FrontDoorExec.stableLiterals(withKept)).head
    kept.foreach(l => assert(after.find(_ == l).isDefined, s"$l must stay a Literal"))
    // no literal anywhere: the plan itself comes back
    val bare = spark.sql("SELECT id FROM fdl_pq WHERE l IS NOT NULL").queryExecution.executedPlan
    assert(FrontDoorExec.stableLiterals(bare) eq bare)
  }
}
