package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Smoke: every registered query runs at sf0.001 and returns rows, so the
  * driver's rows-only checks can never see an empty result. The value-level
  * gate is the DuckDB compare (tools/local_verify.py + driver t2).
  */
class QueriesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private val sfDir = "/root/testdata/sf0.001"

  test("query names are unique and every oracle key exists") {
    val names = SparkEntry.allQueries.map(_.name)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(names.toSet))
  }

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  SparkEntry.allQueries.foreach { q =>
    test(s"${q.name} returns rows at sf0.001") {
      assert(q.fn(spark, sfDir).count() > 0, s"${q.name} returned 0 rows")
    }
  }
}
