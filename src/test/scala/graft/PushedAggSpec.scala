package graft

import org.apache.spark.sql.connector.expressions.{Expression, Expressions}
import org.apache.spark.sql.connector.expressions.aggregate._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{AggDef, AggFn, PushedAgg}

/** The one DSv2 `Aggregation` translation, driven with hand-built
  * aggregations: column resolution, the SQL result type of each
  * function, the declines, and the connector's two rules — no wire, no
  * Spark session. */
class PushedAggSpec extends AnyFunSuite {

  private val schema = StructType(Seq(
    StructField("s", ShortType), StructField("i", IntegerType),
    StructField("l", LongType), StructField("f", FloatType),
    StructField("d", DoubleType), StructField("dec", DecimalType(10, 2)),
    StructField("b", ByteType), StructField("str", StringType),
    StructField("ts", TimestampType), StructField("Dup", LongType),
    StructField("dup", StringType)))

  private def col(name: String): Expression = Expressions.column(name)
  private def agg(fns: AggregateFunc*)(groups: Expression*): Aggregation =
    new Aggregation(fns.toArray, groups.toArray)
  private def translate(a: Aggregation,
      groupOk: StructField => Boolean = _ => true,
      accepts: (AggFn, StructField) => Boolean = (_, _) => true) =
    PushedAgg.translate(a, schema, groupOk, accepts)
  /** The single pushed function of a one-function global aggregate. */
  private def one(fn: AggregateFunc): Option[AggDef] =
    translate(agg(fn)()).map(_._2.head)

  test("each function answers its SQL result type") {
    assert(one(new CountStar()).contains(AggDef(AggFn.CountStar, -1, LongType)))
    assert(one(new Count(col("str"), false)).contains(AggDef(AggFn.Count, 7, LongType)))
    assert(one(new Count(col("ts"), true)).contains(AggDef(AggFn.CountDistinct, 8, LongType)))
    assert(one(new Min(col("str"))).contains(AggDef(AggFn.Min, 7, StringType)))
    assert(one(new Max(col("ts"))).contains(AggDef(AggFn.Max, 8, TimestampType)))
    for (c <- Seq("s", "i", "l"))
      assert(one(new Sum(col(c), false)).map(_.out).contains(LongType), c)
    for (c <- Seq("f", "d"))
      assert(one(new Sum(col(c), false)).map(_.out).contains(DoubleType), c)
    for (c <- Seq("s", "i", "l", "f", "d", "dec", "b"))
      assert(one(new Avg(col(c), false)).contains(
        AggDef(AggFn.Avg, schema.fieldIndex(c), DoubleType)), c)
  }

  test("decimal and byte sums, non-numeric averages and DISTINCT SUM/AVG decline") {
    assert(one(new Sum(col("dec"), false)).isEmpty)
    assert(one(new Sum(col("b"), false)).isEmpty)
    assert(one(new Avg(col("str"), false)).isEmpty)
    assert(one(new Sum(col("l"), true)).isEmpty)
    assert(one(new Avg(col("l"), true)).isEmpty)
  }

  test("a multi-part name or an unknown column declines, as function or group") {
    val nested = Expressions.column("str.x") // parsed into two parts
    assert(one(new Min(nested)).isEmpty)
    assert(one(new Min(col("nope"))).isEmpty)
    assert(translate(agg(new CountStar())(nested)).isEmpty)
    assert(translate(agg(new CountStar())(col("nope"))).isEmpty)
  }

  test("columns resolve case-insensitively to the first match") {
    assert(one(new Max(col("STR"))).contains(AggDef(AggFn.Max, 7, StringType)))
    assert(one(new Max(col("DUP"))).contains(AggDef(AggFn.Max, 9, LongType)))
    assert(translate(agg(new CountStar())(col("I"), col("dup"))).map(_._1)
      .contains(Seq(1, 9)))
  }

  test("groups come first in their order, then the functions") {
    val got = translate(agg(new CountStar(), new Sum(col("d"), false))(col("str"), col("i")))
    assert(got.contains((Seq(7, 1),
      Seq(AggDef(AggFn.CountStar, -1, LongType), AggDef(AggFn.Sum, 4, DoubleType)))))
    val (groups, aggs) = got.get
    assert(PushedAgg.outSchema(schema, groups, aggs) == StructType(Seq(
      schema("str"), schema("i"),
      StructField("agg_0", LongType, nullable = true),
      StructField("agg_1", DoubleType, nullable = true))))
  }

  test("an accepts or groupOk veto declines the whole aggregation") {
    val a = agg(new CountStar(), new Min(col("l")), new Max(col("str")))(col("i"))
    assert(translate(a).isDefined)
    val offered = Seq.newBuilder[(AggFn, String)]
    assert(translate(a, accepts = (fn, f) => {
      offered += fn -> f.name; fn != AggFn.Max
    }).isEmpty)
    // COUNT(*) is never offered: every connector computes it
    assert(offered.result() == Seq(AggFn.Min -> "l", AggFn.Max -> "str"))
    assert(translate(a, groupOk = _.dataType != IntegerType).isEmpty)
    assert(translate(agg(new CountStar())(), groupOk = _ => false).isDefined)
  }

  test("the plan-description and SQL spellings") {
    val defs = Seq(AggDef(AggFn.CountStar, -1, LongType), AggDef(AggFn.Count, 0, LongType),
      AggDef(AggFn.CountDistinct, 0, LongType), AggDef(AggFn.Min, 0, LongType),
      AggDef(AggFn.Max, 0, LongType), AggDef(AggFn.Sum, 0, LongType),
      AggDef(AggFn.Sum, 0, DoubleType), AggDef(AggFn.Avg, 0, DoubleType))
    assert(defs.map(_.tag) == Seq("count_star", "count", "count_distinct", "min", "max",
      "sum_long", "sum_double", "avg"))
    assert(defs.map(_.sql("x")) == Seq("count(*)", "count(x)", "count(DISTINCT x)",
      "min(x)", "max(x)", "sum(x)", "sum(x)", "avg(x)"))
  }
}
