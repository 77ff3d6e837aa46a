package graft

import org.apache.spark.sql.connector.expressions.{Expression, Expressions, GeneralScalarExpression, NullOrdering, SortDirection, SortOrder}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{PushedWindow, SortKey}

/** The one pushed-window contract, driven with hand-built sort orders
  * and rows: the sort-key decode and its declines, case-insensitive
  * resolution, the limit-minus-offset arithmetic, the ordered-window
  * rule and the null-aware comparator — no wire, no Spark session. */
class PushedWindowSpec extends AnyFunSuite {

  private def order(e: Expression, desc: Boolean = false,
      nullsFirst: Boolean = true): SortOrder =
    Expressions.sort(e,
      if (desc) SortDirection.DESCENDING else SortDirection.ASCENDING,
      if (nullsFirst) NullOrdering.NULLS_FIRST else NullOrdering.NULLS_LAST)
  private def col(name: String): Expression = Expressions.column(name)

  private val targets = PushedWindow.byName(Seq("Id" -> 0, "seg" -> 1, "ID" -> 2))

  test("the decode keeps direction and null order per key") {
    val got = PushedWindow.keys(Array(
      order(col("id")), order(col("SEG"), desc = true, nullsFirst = false),
      order(col("seg"), desc = true, nullsFirst = true)))(targets)
    assert(got.contains(Seq(SortKey(0, desc = false, nullsFirst = true),
      SortKey(1, desc = true, nullsFirst = false), SortKey(1, desc = true, nullsFirst = true))))
    assert(got.get.map(_.nullsLowest) == Seq(true, true, false))
  }

  test("a multi-part name, an expression or an unknown column declines the whole list") {
    val plusOne = new GeneralScalarExpression("+",
      Array(col("id"), Expressions.literal(1L)))
    for (bad <- Seq(col("seg.x"), plusOne, col("nope")))
      assert(PushedWindow.keys(Array(order(col("id")), order(bad)))(targets).isEmpty, bad)
    assert(PushedWindow.keys(Array.empty[SortOrder])(targets).contains(Nil))
  }

  test("resolution is case-insensitive and the first match wins") {
    assert(targets("iD").contains(0))
    assert(targets("SEG").contains(1))
    assert(targets("segment").isEmpty)
  }

  test("the wire limit takes the offset off Spark's inclusive limit") {
    assert(PushedWindow.wireLimit(7, 3) == 4)
    assert(PushedWindow.wireLimit(7, 0) == 7)
    assert(PushedWindow.wireLimit(7, -1) == 7, "an unset offset")
    assert(PushedWindow.wireLimit(-1, 3) == -1, "no limit stays no limit")
    assert(PushedWindow.wireLimit(2, 5) == 0, "an offset past the limit reads nothing")
  }

  test("a pushed sort or offset is an ordered window; a bare limit is not") {
    assert(PushedWindow.ordered(sorted = true, 0))
    assert(PushedWindow.ordered(sorted = false, 3))
    assert(!PushedWindow.ordered(sorted = false, 0))
    assert(!PushedWindow.ordered(sorted = false, -1))
  }

  private val rows: Seq[Array[Any]] = Seq(
    Array[Any](1L, 5L), Array[Any](2L, null), Array[Any](3L, 9L),
    Array[Any](4L, null), Array[Any](5L, 1L))
  private def ids(keys: SortKey[Int]*): Seq[Long] =
    rows.sorted(PushedWindow.ordering(keys)((r: Array[Any], i: Int) => r(i)))
      .map(_(0).asInstanceOf[Long])

  test("nulls go where nullsFirst says in both directions") {
    val byId = SortKey(0, desc = false, nullsFirst = true)
    assert(ids(SortKey(1, desc = false, nullsFirst = true), byId) == Seq(2L, 4L, 5L, 1L, 3L))
    assert(ids(SortKey(1, desc = false, nullsFirst = false), byId) == Seq(5L, 1L, 3L, 2L, 4L))
    assert(ids(SortKey(1, desc = true, nullsFirst = true), byId) == Seq(2L, 4L, 3L, 1L, 5L))
    assert(ids(SortKey(1, desc = true, nullsFirst = false), byId) == Seq(3L, 1L, 5L, 2L, 4L))
  }

  test("later keys break ties; incomparable values tie") {
    val v = SortKey(1, desc = false, nullsFirst = false)
    assert(ids(v, SortKey(0, desc = true, nullsFirst = false)) == Seq(5L, 1L, 3L, 4L, 2L))
    // a string and a long do not compare
    val ord = PushedWindow.ordering(Seq(SortKey(0, desc = true, nullsFirst = true)))(
      (r: Array[Any], i: Int) => r(i))
    assert(ord.compare(Array[Any]("b"), Array[Any](1L)) == 0)
    assert(ord.compare(Array[Any]("b"), Array[Any]("a")) < 0)
  }
}
