package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the r16 struct-free moment pass of the q_embed_* family: the
  * flattened upper-triangle product array ([[graft.queries.VectorOps
  * .PairProductsSql]]) must enumerate cells in EXACTLY the order
  * `pairIndex` decodes on the driver — a drift between the two would
  * silently transpose scatter/Gram cells (the cross-engine gate would
  * catch it on the fixture, but only because the fixture's matrix is
  * asymmetric enough; this pins the mapping itself on adversarial input).
  */
class VectorMomentSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  test("pairIndex enumerates exactly the SQL flattening order") {
    import scala.jdk.CollectionConverters._
    val dim = 5
    // q = [1, 10, 100, 1000, 10000]: every product 10^(i-1)·10^(j-1) is a
    // distinct power of ten, so any order drift changes some decoded cell
    val q: Seq[Long] = (0 until dim).map(i => math.pow(10, i).toLong)
    val row = org.apache.spark.sql.Row(q)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("q",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, containsNull = false))))
    val df = spark.createDataFrame(List(row).asJava, schema)
    val got = df
      .select(posexplode(expr(graft.queries.VectorOps.PairProductsSql))
        .as(Seq("pos", "p")))
      .collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val idx = graft.queries.VectorOps.pairIndex(dim)
    assert(got.size == dim * (dim + 1) / 2)
    idx.zipWithIndex.foreach { case ((i, j), k) =>
      assert(got(k) == q(i - 1) * q(j - 1),
        s"pos $k decoded to ($i,$j) but product mismatches: " +
          s"${got(k)} != ${q(i - 1) * q(j - 1)}")
    }
  }

  test("pairIndex covers the full upper triangle exactly once at D = 64") {
    val idx = graft.queries.VectorOps.pairIndex(64)
    assert(idx.size == 64 * 65 / 2)
    assert(idx.distinct.size == idx.size)
    assert(idx.forall { case (i, j) => i >= 1 && i <= j && j <= 64 })
    // spot-pin the corners of the enumeration
    assert(idx.head == (1, 1) && idx(63) == (1, 64) && idx(64) == (2, 2))
    assert(idx.last == (64, 64))
  }
}
