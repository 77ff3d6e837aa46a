package graft

import org.apache.spark.sql.connector.expressions.{Expression, Expressions}
import org.apache.spark.sql.connector.expressions.aggregate._
import org.apache.spark.sql.connector.read.SupportsPushDownAggregates
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources._

/** The aggregate-pushdown decision of every scan builder that pushes
  * aggregates, recorded over one schema holding each scalar type and
  * asserted as one table. Each case builds a fresh builder and makes
  * Spark's two calls in Spark's order: `supportCompletePushDown`, then
  * `pushAggregation`. No wire is touched — the endpoints point nowhere.
  *
  * Cell legend: `C` = complete and pushed, `P` = pushed as partials,
  * `c` = claims complete but refuses the push, `.` = declined. A row
  * holds one cell per column, in schema order; `group_by` is COUNT(*)
  * grouped by that column, and `sum_x3` is three sums of it (six
  * Datastore aggregation aliases, past its cap of five). Column references are upper-cased, so every
  * cell also exercises case-insensitive resolution. */
class AggPushdownMatrixSpec extends AnyFunSuite {

  private val schema = StructType(Seq(
    StructField("c_short", ShortType), StructField("c_int", IntegerType),
    StructField("c_long", LongType), StructField("c_float", FloatType),
    StructField("c_double", DoubleType), StructField("c_dec", DecimalType(12, 2)),
    StructField("c_byte", ByteType), StructField("c_str", StringType),
    StructField("c_bool", BooleanType), StructField("c_ts", TimestampType),
    StructField("c_date", DateType)))

  private val http = HttpRestConfig()
  private val fileDir =
    new java.io.File(sys.props("user.dir"), "target/graft-test/aggmatrix").getPath

  private val cql: () => SupportsPushDownAggregates = () => new CqlScanBuilder(
    CqlEndpoint("q", "t", schema, Seq("c_int"), Seq("c_long"),
      CqlEndpointSpec("127.0.0.1", 1, "t", CqlClientConfig())))

  private def file(profile: String): SupportsPushDownAggregates =
    new FileScanBuilder(new FileTable(
      SourceDef(s"aggmatrix_$profile", fileDir, "json", profile), "t", schema, "json"))

  /** Builder factories, one per configuration. ES's string column is an
    * analyzed text field with no keyword sub-field (no server field). CQL's
    * partition key is `c_int` and its clustering key `c_long`. */
  private val builders: Seq[(String, () => SupportsPushDownAggregates)] = Seq(
    "mongo" -> (() => new MongoScanBuilder(MongoEndpoint("m", "t", schema,
      MongoEndpointSpec("127.0.0.1", 1, "db", "t", MongoClientConfig())))),
    "es" -> (() => new EsScanBuilder(EsEndpoint("e", "t", schema,
      EsEndpointSpec("http://127.0.0.1:1", "t", http), Map("c_str" -> None)))),
    "es_approx" -> (() => new EsScanBuilder(EsEndpoint("e", "t", schema,
      EsEndpointSpec("http://127.0.0.1:1", "t", http), Map("c_str" -> None)),
      approxDistinct = true)),
    "cql" -> cql,
    "bq" -> (() => new BqScanBuilder(BqEndpoint("b", "t", schema,
      BqEndpointSpec("http://127.0.0.1:1", "t", http)))),
    "ds" -> (() => new DsScanBuilder(DsEndpoint("d", "t", schema,
      DsEndpointSpec("http://127.0.0.1:1", "t", http)))),
    "file_full" -> (() => file("full")),
    "file_passthrough" -> (() => file("passthrough")),
    "file_keys" -> (() => file("keys")))

  private def ref(f: StructField): Expression = Expressions.column(f.name.toUpperCase)
  private def agg(fns: AggregateFunc*)(groups: Expression*): Aggregation =
    new Aggregation(fns.toArray, groups.toArray)
  private def sum(f: StructField): AggregateFunc = new Sum(ref(f), false)

  /** One row per aggregate shape: the aggregation it builds over a column. */
  private val shapes: Seq[(String, StructField => Aggregation)] = Seq(
    "count" -> (f => agg(new Count(ref(f), false))()),
    "count_distinct" -> (f => agg(new Count(ref(f), true))()),
    "min" -> (f => agg(new Min(ref(f)))()),
    "max" -> (f => agg(new Max(ref(f)))()),
    "sum" -> (f => agg(sum(f))()),
    "sum_x3" -> (f => agg(sum(f), sum(f), sum(f))()),
    "sum_distinct" -> (f => agg(new Sum(ref(f), true))()),
    "avg" -> (f => agg(new Avg(ref(f), false))()),
    "avg_distinct" -> (f => agg(new Avg(ref(f), true))()),
    "group_by" -> (f => agg(new CountStar())(ref(f))))

  private def cell(mk: () => SupportsPushDownAggregates, a: Aggregation): Char = {
    val b = mk()
    (b.supportCompletePushDown(a), b.pushAggregation(a)) match {
      case (true, true) => 'C'
      case (false, true) => 'P'
      case (true, false) => 'c'
      case (false, false) => '.'
    }
  }

  /** A global aggregate never satisfies CQL's GROUP BY rule (the group
    * set must cover the partition key), so CQL's function rules are
    * recorded again with every shape also grouped by the partition key. */
  private def byPartitionKey(a: Aggregation): Aggregation =
    new Aggregation(a.aggregateExpressions(),
      Expressions.column("C_INT") +: a.groupByExpressions())

  private def observed: Seq[(String, String, String)] = {
    val configs = builders.map { case (n, mk) => (n, mk, identity[Aggregation] _) } :+
      (("cql_by_pk", cql, byPartitionKey _))
    configs.flatMap { case (name, mk, wrap) =>
      (name, "count_star", cell(mk, wrap(agg(new CountStar())())).toString) +:
        shapes.map { case (shape, a) =>
          (name, shape, schema.fields.map(f => cell(mk, wrap(a(f)))).mkString)
        }
    }
  }

  // cells: short int long float double decimal byte string boolean timestamp date
  private val expected: Seq[(String, String, String)] = Seq(
    ("mongo",            "count_star",     "C"),
    ("mongo",            "count",          "CCCCCCCCCCC"),
    ("mongo",            "count_distinct", "..........."),
    ("mongo",            "min",            "CCCCC..C.C."),
    ("mongo",            "max",            "CCCCC..C.C."),
    ("mongo",            "sum",            "CCCCC......"),
    ("mongo",            "sum_x3",         "CCCCC......"),
    ("mongo",            "sum_distinct",   "..........."),
    ("mongo",            "avg",            "CCCCC......"),
    ("mongo",            "avg_distinct",   "..........."),
    ("mongo",            "group_by",       "CCCCC..CCC."),
    ("es",               "count_star",     "C"),
    ("es",               "count",          "CCCCCCC.CCC"),
    ("es",               "count_distinct", "..........."),
    ("es",               "min",            "CCCCCCC...."),
    ("es",               "max",            "CCCCCCC...."),
    ("es",               "sum",            "CCCCC......"),
    ("es",               "sum_x3",         "CCCCC......"),
    ("es",               "sum_distinct",   "..........."),
    ("es",               "avg",            "CCCCCCC...."),
    ("es",               "avg_distinct",   "..........."),
    ("es",               "group_by",       "CCCCCCC.CCC"),
    ("es_approx",        "count_star",     "C"),
    ("es_approx",        "count",          "CCCCCCC.CCC"),
    ("es_approx",        "count_distinct", "CCCCCCC.CCC"),
    ("es_approx",        "min",            "CCCCCCC...."),
    ("es_approx",        "max",            "CCCCCCC...."),
    ("es_approx",        "sum",            "CCCCC......"),
    ("es_approx",        "sum_x3",         "CCCCC......"),
    ("es_approx",        "sum_distinct",   "..........."),
    ("es_approx",        "avg",            "CCCCCCC...."),
    ("es_approx",        "avg_distinct",   "..........."),
    ("es_approx",        "group_by",       "CCCCCCC.CCC"),
    ("cql",              "count_star",     "."),
    ("cql",              "count",          "..........."),
    ("cql",              "count_distinct", "..........."),
    ("cql",              "min",            "..........."),
    ("cql",              "max",            "..........."),
    ("cql",              "sum",            "..........."),
    ("cql",              "sum_x3",         "..........."),
    ("cql",              "sum_distinct",   "..........."),
    ("cql",              "avg",            "..........."),
    ("cql",              "avg_distinct",   "..........."),
    ("cql",              "group_by",       ".C........."),
    ("bq",               "count_star",     "C"),
    ("bq",               "count",          "CCCCCCCCCCC"),
    ("bq",               "count_distinct", "..........."),
    ("bq",               "min",            "CCCCCCC...."),
    ("bq",               "max",            "CCCCCCC...."),
    ("bq",               "sum",            "CCCCC......"),
    ("bq",               "sum_x3",         "CCCCC......"),
    ("bq",               "sum_distinct",   "..........."),
    ("bq",               "avg",            "CCCCCCC...."),
    ("bq",               "avg_distinct",   "..........."),
    ("bq",               "group_by",       "CCCCCCCCCCC"),
    ("ds",               "count_star",     "C"),
    ("ds",               "count",          "..........."),
    ("ds",               "count_distinct", "..........."),
    ("ds",               "min",            "..........."),
    ("ds",               "max",            "..........."),
    ("ds",               "sum",            "CCCCC......"),
    ("ds",               "sum_x3",         "..........."),
    ("ds",               "sum_distinct",   "..........."),
    ("ds",               "avg",            "CCCCCCC...."),
    ("ds",               "avg_distinct",   "..........."),
    ("ds",               "group_by",       "..........."),
    ("file_full",        "count_star",     "P"),
    ("file_full",        "count",          "PPPPPPPPPPP"),
    ("file_full",        "count_distinct", "..........."),
    ("file_full",        "min",            "PPPPPPPPPPP"),
    ("file_full",        "max",            "PPPPPPPPPPP"),
    ("file_full",        "sum",            "PPPPP......"),
    ("file_full",        "sum_x3",         "PPPPP......"),
    ("file_full",        "sum_distinct",   "..........."),
    ("file_full",        "avg",            "..........."),
    ("file_full",        "avg_distinct",   "..........."),
    ("file_full",        "group_by",       "PPPPPPPPPPP"),
    ("file_passthrough", "count_star",     "C"),
    ("file_passthrough", "count",          "CCCCCCCCCCC"),
    ("file_passthrough", "count_distinct", "..........."),
    ("file_passthrough", "min",            "CCCCCCCCCCC"),
    ("file_passthrough", "max",            "CCCCCCCCCCC"),
    ("file_passthrough", "sum",            "CCCCC......"),
    ("file_passthrough", "sum_x3",         "CCCCC......"),
    ("file_passthrough", "sum_distinct",   "..........."),
    ("file_passthrough", "avg",            "CCCCC......"),
    ("file_passthrough", "avg_distinct",   "..........."),
    ("file_passthrough", "group_by",       "CCCCCCCCCCC"),
    ("file_keys",        "count_star",     "."),
    ("file_keys",        "count",          "..........."),
    ("file_keys",        "count_distinct", "..........."),
    ("file_keys",        "min",            "..........."),
    ("file_keys",        "max",            "..........."),
    ("file_keys",        "sum",            "..........."),
    ("file_keys",        "sum_x3",         "..........."),
    ("file_keys",        "sum_distinct",   "..........."),
    ("file_keys",        "avg",            "..........."),
    ("file_keys",        "avg_distinct",   "..........."),
    ("file_keys",        "group_by",       "..........."),
    ("cql_by_pk",        "count_star",     "C"),
    ("cql_by_pk",        "count",          "CCCCCCCCCCC"),
    ("cql_by_pk",        "count_distinct", "..........."),
    ("cql_by_pk",        "min",            "CCCCC..CCC."),
    ("cql_by_pk",        "max",            "CCCCC..CCC."),
    ("cql_by_pk",        "sum",            "CCCCC......"),
    ("cql_by_pk",        "sum_x3",         "CCCCC......"),
    ("cql_by_pk",        "sum_distinct",   "..........."),
    ("cql_by_pk",        "avg",            "CCCCC......"),
    ("cql_by_pk",        "avg_distinct",   "..........."),
    ("cql_by_pk",        "group_by",       "..C........")
  )

  test("every builder's aggregate-pushdown decision matches the table") {
    val got = observed
    val render = got.map { case (b, s, c) => f"""    ("$b", "$s", "$c"),""" }.mkString("\n")
    assert(got == expected, s"\nobserved table:\n$render")
  }
}
