package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.HashFunctions

/** term_freqs — the one-pass per-document term-frequency kernel behind the
  * TF-IDF keyword gate (native codegen'd expression, not the interpreted
  * O(distinct×tokens) higher-order-function shape it replaced). */
class TermFreqsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.session

  private def freqs(text: String): Map[String, Long] = {
    import spark.implicits._
    HashFunctions.ensure(spark)
    Seq(text).toDF("t")
      .select(explode(HashFunctions.term_freqs(col("t"))).as("e"))
      .select("e.term", "e.tf").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("counts match tokenize semantics: lowercase, \\s+ split, empties dropped") {
    assert(freqs("The the  THE\tfox") == Map("the" -> 3L, "fox" -> 1L))
    assert(freqs("  a  ") == Map("a" -> 1L))
    assert(freqs("") == Map.empty[String, Long])
    assert(freqs("   \t\n ") == Map.empty[String, Long])
  }

  test("one entry per DISTINCT token; tfs sum to the token count") {
    val f = freqs("a b a c b a")
    assert(f == Map("a" -> 3L, "b" -> 2L, "c" -> 1L))
    assert(f.values.sum == 6L)
  }

  test("null in, null out; SQL registry path resolves") {
    import spark.implicits._
    HashFunctions.ensure(spark)
    val r = Seq[String](null, "x y x").toDF("t")
      .select(HashFunctions.term_freqs(col("t"))).collect()
    assert(r(0).isNullAt(0))
    assert(r(1).getSeq[Any](0).size == 2)
    val sql = spark.sql(
      "SELECT tf.term, tf.tf FROM (SELECT explode(term_freqs('q q z')) AS tf)")
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(sql == Map("q" -> 2L, "z" -> 1L))
  }

  test("term_freqs stays inside WholeStageCodegen") {
    HashFunctions.ensure(spark)
    val df = spark.range(100)
      .selectExpr("concat('w', CAST(id % 7 AS STRING), ' w0 w0') AS t")
      .select(col("t"), HashFunctions.term_freqs(col("t")).as("f"))
      .filter(size(col("f")) > 0)
    val wsc = df.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
    assert(wsc, "term_freqs fell out of codegen:\n" +
      df.queryExecution.executedPlan.treeString.take(2000))
    assert(df.count() == 100)
  }
}
