package graft.sources

import org.apache.spark.sql.connector.expressions.{Expression, NamedReference}
import org.apache.spark.sql.connector.expressions.{aggregate => v2}
import org.apache.spark.sql.types._

/** A pushed aggregate function, as the connectors render and decode it. */
sealed trait AggFn

object AggFn {
  case object CountStar extends AggFn
  case object Count extends AggFn
  /** Offered to every connector; only ES's opt-in approximate
    * `cardinality` takes it. */
  case object CountDistinct extends AggFn
  case object Min extends AggFn
  case object Max extends AggFn
  case object Sum extends AggFn
  case object Avg extends AggFn
}

/** One pushed aggregate: `fn` over schema column `col` (-1 for COUNT(*),
  * the one function without a column), answering SQL type `out`. A SUM's
  * `out` tells an integer sum (LongType) from a floating one. */
final case class AggDef(fn: AggFn, col: Int, out: DataType) {
  import AggFn._

  /** Plan-description spelling. */
  def tag: String = fn match {
    case CountStar => "count_star"
    case Count => "count"
    case CountDistinct => "count_distinct"
    case Min => "min"
    case Max => "max"
    case Sum => if (out == LongType) "sum_long" else "sum_double"
    case Avg => "avg"
  }

  /** The SQL call over the rendered column `arg`. */
  def sql(arg: String): String = fn match {
    case CountStar => "count(*)"
    case CountDistinct => s"count(DISTINCT $arg)"
    case Sum => s"sum($arg)"
    case _ => s"$tag($arg)"
  }
}

/** The one translation of a DSv2 `Aggregation` into pushed functions.
  * Every aggregate-pushing connector calls [[translate]] with its own
  * two rules and keeps only its renderer and decoder. */
object PushedAgg {
  import AggFn._

  /** (group columns, functions) over `schema`, or None when any part
    * declines, so Spark keeps its own aggregate. This is the only place
    * that reads the DSv2 shapes and fixes the SQL result types:
    *
    *   - a column is a single-part name, matched case-insensitively to
    *     its first schema field;
    *   - COUNT(*), COUNT(col) and COUNT(DISTINCT col) answer LongType;
    *   - SUM answers LongType over Short/Int/Long and DoubleType over
    *     Float/Double; any other column type declines;
    *   - AVG answers DoubleType and takes numeric columns only;
    *   - MIN and MAX answer the column's own type;
    *   - DISTINCT SUM/AVG and every other function decline.
    *
    * The connector decides which group columns it can bucket (`groupOk`)
    * and which function it can compute over which column (`accepts`);
    * COUNT(*) is not offered, since every connector computes it. */
  def translate(a: v2.Aggregation, schema: StructType,
      groupOk: StructField => Boolean,
      accepts: (AggFn, StructField) => Boolean): Option[(Seq[Int], Seq[AggDef])] = {
    def column(e: Expression): Option[Int] = e match {
      case nr: NamedReference if nr.fieldNames().length == 1 =>
        Some(schema.fieldNames.indexWhere(_.equalsIgnoreCase(nr.fieldNames()(0))))
          .filter(_ >= 0)
      case _ => None
    }
    // `fn` over `e`, typed from the column's type (None declines it)
    def over(fn: AggFn, e: Expression)(out: DataType => Option[DataType]): Option[AggDef] =
      column(e).flatMap { i =>
        val f = schema.fields(i)
        out(f.dataType).filter(_ => accepts(fn, f)).map(AggDef(fn, i, _))
      }
    val groups = a.groupByExpressions().toSeq.map(column(_).filter(i => groupOk(schema.fields(i))))
    val aggs = a.aggregateExpressions().toSeq.map {
      case _: v2.CountStar => Some(AggDef(CountStar, -1, LongType))
      case c: v2.Count =>
        over(if (c.isDistinct) CountDistinct else Count, c.column())(_ => Some(LongType))
      case m: v2.Min => over(Min, m.column())(Some(_))
      case m: v2.Max => over(Max, m.column())(Some(_))
      case s: v2.Sum if !s.isDistinct => over(Sum, s.column()) {
        case ShortType | IntegerType | LongType => Some(LongType)
        case FloatType | DoubleType => Some(DoubleType)
        case _ => None
      }
      case av: v2.Avg if !av.isDistinct => over(Avg, av.column()) {
        case _: NumericType => Some(DoubleType)
        case _ => None
      }
      case _ => None
    }
    if (groups.exists(_.isEmpty) || aggs.exists(_.isEmpty)) None
    else Some((groups.flatten, aggs.flatten))
  }

  /** The pushed aggregate's output: the group fields, then `agg_i`. */
  def outSchema(schema: StructType, groups: Seq[Int], aggs: Seq[AggDef]): StructType =
    StructType(groups.map(schema.fields(_)) ++ aggs.zipWithIndex.map { case (d, i) =>
      StructField(s"agg_$i", d.out, nullable = true) })
}
