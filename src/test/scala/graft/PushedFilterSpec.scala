package graft

import org.apache.spark.sql.sources._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.PushedFilter

/** The one pushed-filter contract, driven with hand-built filters: the
  * reference rewrite and its declines, the IS NOT NULL absorption, the
  * key-pinning rule and the DELETE key-set decode — no wire, no Spark
  * session. The builders' decisions are pinned by
  * `FilterPushdownMatrixSpec`. */
class PushedFilterSpec extends AnyFunSuite {

  private val upper: String => Option[String] = a => Some(a.toUpperCase)

  test("every reference in a tree is renamed; literals stay put") {
    val f = Or(And(EqualTo("a", 1), Not(In("b", Array(2, 3)))), StringContains("c", "x"))
    assert(PushedFilter.mapRefs(f)(upper).map(_.references.toSeq).contains(Seq("A", "B", "C")))
    assert(PushedFilter.mapRefs(IsNull("a"))(upper).contains(IsNull("A")))
    assert(PushedFilter.mapRefs(AlwaysFalse())(upper).contains(AlwaysFalse()))
  }

  test("a refused reference declines the whole tree") {
    val noB: String => Option[String] = a => if (a == "b") None else Some(a)
    assert(PushedFilter.mapRefs(And(EqualTo("a", 1), LessThan("b", 2)))(noB).isEmpty)
    assert(PushedFilter.mapRefs(Or(EqualTo("a", 1), IsNotNull("b")))(noB).isEmpty)
  }

  test("raw null tests keep their reference") {
    val none: String => Option[String] = _ => None
    assert(PushedFilter.mapRefs(Not(IsNull("a")), rawNullTests = true)(none)
      .contains(Not(IsNull("a"))))
    assert(PushedFilter.mapRefs(IsNotNull("a"), rawNullTests = true)(upper)
      .contains(IsNotNull("a")))
  }

  test("only IS NOT NULL on a never-null column is absorbed, in filter order") {
    val fs = Seq(IsNotNull("K"), EqualTo("k", 1), IsNotNull("v"), IsNull("k"), IsNotNull("w"))
    assert(PushedFilter.notNulls(fs, Seq("k", "W")) == Seq(IsNotNull("K"), IsNotNull("w")))
    assert(PushedFilter.notNulls(fs, Nil).isEmpty)
  }

  test("equality, null-safe equality, IN and IS NULL pin a key; ranges do not") {
    for (f <- Seq(EqualTo("ID", 1), EqualNullSafe("id", 1), In("id", Array(1)), IsNull("id")))
      assert(PushedFilter.pins(Seq(GreaterThan("v", 0), f), "id"), f)
    for (f <- Seq(GreaterThan("id", 1), IsNotNull("id"), EqualTo("v", 1), Not(EqualTo("id", 1))))
      assert(!PushedFilter.pins(Seq(f), "id"), f)
  }

  private val str: Any => Option[String] = {
    case s: String => Some(s)
    case _ => None
  }

  test("the key set intersects the conjunction's EQ and IN sets") {
    assert(PushedFilter.keySet(Seq(EqualTo("k", "a"), In("K", Array("a", "b")),
      IsNotNull("k")), "k")(str).contains(Set("a")))
    assert(PushedFilter.keySet(Seq(In("k", Array("a", "b", "c")),
      In("k", Array("c", "b"))), "k")(str).contains(Set("b", "c")))
    assert(PushedFilter.keySet(Seq(EqualTo("k", "a"), EqualTo("k", "b")), "k")(str)
      .contains(Set.empty), "a contradiction deletes nothing")
  }

  test("the key set declines other shapes, other columns, bare IS NOT NULL and unrenderable keys") {
    for (fs <- Seq(
        Seq(IsNotNull("k")),
        Seq(EqualTo("k", "a"), GreaterThan("v", 1)),
        Seq(EqualTo("v", "a")),
        Seq(In("k", Array("a", 1))),
        Seq(EqualTo("k", null)),
        Seq(In("k", null)),
        Nil))
      assert(PushedFilter.keySet(fs, "k")(str).isEmpty, fs)
  }
}
