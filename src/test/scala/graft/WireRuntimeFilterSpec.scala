package graft

import org.apache.spark.sql.connector.expressions.{Expression, Expressions, Literal}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.WireRuntimeFilter

/** The shared runtime semi-join filter contract, driven with hand-built
  * DSv2 predicates through a stub scan: the IN shape match, the key cap,
  * the literal decode, the offered-column rule and the ordered-window
  * refusal — no wire, no Spark session. */
class WireRuntimeFilterSpec extends AnyFunSuite {

  /** Offers `cols`, renders Long keys as decimal strings (anything else
    * declines) and records every accepted set it is handed. */
  private class StubScan(cols: Seq[String], window: Boolean = false)
      extends WireRuntimeFilter[String] {
    var applied: Seq[(String, Seq[String])] = Nil
    override def readSchema(): StructType = StructType(cols.map(StructField(_, LongType)))
    override protected def delegatesOrderedWindow: Boolean = window
    override protected def runtimeFilterColumns: Seq[String] = cols
    override protected def renderRuntimeKey(key: Any): Option[String] = key match {
      case l: java.lang.Long => Some(l.toString)
      case _ => None
    }
    override protected def applyRuntimeFilter(sets: Seq[(String, Seq[String])]): String = {
      applied = sets
      sets.map { case (c, ks) => s"$c IN (${ks.mkString(", ")})" }.mkString(" AND ")
    }
  }

  private def col(name: String): Expression = Expressions.column(name)
  private def longs(n: Int): Seq[Expression] =
    (0 until n).map(i => Expressions.literal(java.lang.Long.valueOf(i.toLong)))
  /** A literal carrying `v` as-is, typed `dt` (Catalyst-internal form). */
  private def literal(v: Any, dt: DataType): Expression = new Literal[Any] {
    override def value(): Any = v
    override def dataType(): DataType = dt
  }
  private def in(column: Expression, keys: Seq[Expression]): Predicate =
    new Predicate("IN", (column +: keys).toArray)

  test("keys up to the cap apply; one key past it declines") {
    val cap = WireRuntimeFilter.RuntimeInCap
    assert(cap == 10000)
    val atCap = new StubScan(Seq("id"))
    atCap.filter(Array(in(col("id"), longs(cap))))
    assert(atCap.applied.map(s => s._1 -> s._2.size) == Seq("id" -> cap))
    val pastCap = new StubScan(Seq("id"))
    pastCap.filter(Array(in(col("id"), longs(cap + 1))))
    assert(pastCap.applied.isEmpty && pastCap.runtimeFilterDesc.isEmpty)
  }

  test("a non-IN predicate is ignored") {
    val s = new StubScan(Seq("id"))
    s.filter(Array(new Predicate("=", Array(col("id"), longs(1).head))))
    assert(s.applied.isEmpty && s.runtimeFilterDesc.isEmpty)
    s.filter(Array(new Predicate("=", Array(col("id"), longs(1).head)),
      in(col("id"), longs(2))))
    assert(s.runtimeFilterDesc == "id IN (0, 1)")
  }

  test("a non-literal child declines the predicate") {
    val s = new StubScan(Seq("id", "v"))
    s.filter(Array(in(col("id"), longs(2) :+ col("v"))))
    assert(s.applied.isEmpty && s.runtimeFilterDesc.isEmpty)
  }

  test("a multi-part column name declines the predicate") {
    val s = new StubScan(Seq("id"))
    s.filter(Array(in(Expressions.column("t.id"), longs(2))))
    assert(s.applied.isEmpty && s.runtimeFilterDesc.isEmpty)
  }

  test("a predicate on a column the scan did not offer is ignored") {
    val s = new StubScan(Seq("id"))
    s.filter(Array(in(col("v"), longs(2))))
    assert(s.applied.isEmpty && s.runtimeFilterDesc.isEmpty)
    // the offered-column match is case-insensitive and keeps the
    // predicate's own spelling
    s.filter(Array(in(col("ID"), longs(1))))
    assert(s.applied == Seq("ID" -> Seq("0")))
  }

  test("a failed literal conversion declines only that predicate") {
    val s = new StubScan(Seq("id", "v"))
    val bad = literal("not-a-decimal", DecimalType(10, 2))
    s.filter(Array(in(col("id"), longs(1) :+ bad), in(col("v"), longs(2))))
    assert(s.applied == Seq("v" -> Seq("0", "1")))
    assert(s.runtimeFilterDesc == "v IN (0, 1)")
  }

  test("a key the backend cannot render declines that predicate") {
    val s = new StubScan(Seq("id", "v"))
    val str = literal(UTF8String.fromString("a"), StringType)
    s.filter(Array(in(col("id"), Seq(str)), in(col("v"), longs(1))))
    assert(s.applied == Seq("v" -> Seq("0")))
  }

  test("a delegated ordered window offers nothing and ignores filter()") {
    val s = new StubScan(Seq("id"), window = true)
    assert(s.filterAttributes().isEmpty)
    s.filter(Array(in(col("id"), longs(3))))
    assert(s.applied.isEmpty && s.runtimeFilterDesc.isEmpty)
    val plain = new StubScan(Seq("id", "v"))
    assert(plain.filterAttributes().map(_.fieldNames().mkString(".")).toSeq == Seq("id", "v"))
  }
}
