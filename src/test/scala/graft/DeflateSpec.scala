package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{HashFunctions, TextHash}

/** deflate_len — the zlib compressibility quality signal (Gopher/
  * RefinedWeb-family "compression ratio" filter) as a native codegen'd
  * expression. */
class DeflateSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.session

  test("the signal points the right way: repetition compresses, prose doesn't") {
    val repetitive = "spam " * 400                       // 2000 bytes
    val varied = (0 until 400).map(i => s"w${i * 7919}") // distinct tokens
      .mkString(" ").take(2000)
    val dlRep = TextHash.deflateLen(repetitive.getBytes("UTF-8"))
    val dlVar = TextHash.deflateLen(varied.getBytes("UTF-8"))
    assert(dlRep * 5 < dlVar,
      s"templated text must compress far below distinct text: $dlRep vs $dlVar")
    // zlib worst case: incompressible input grows by a small framing
    // overhead only — the ratio_ok bound the gate asserts
    assert(dlVar <= 2000 + 64)
    assert(dlRep > 0)
  }

  test("expression results match the kernel across parallel tasks") {
    import spark.implicits._
    HashFunctions.ensure(spark)
    val texts = (0 until 200).map(i =>
      if (i % 3 == 0) s"repeat ${i % 5} " * 50
      else (0 until 60).map(j => s"t${i}_${j * 31}").mkString(" "))
    val got = texts.toDF("text").repartition(8)
      .select(col("text"), HashFunctions.deflate_len(col("text")).as("dl"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the per-thread deflater reuse must not bleed state between rows:
    // every parallel result equals a fresh serial computation
    texts.foreach { t =>
      assert(got(t) == TextHash.deflateLen(t.getBytes("UTF-8")),
        s"parallel deflate diverged for: ${t.take(40)}")
    }
  }

  test("null in, null out; SQL registry path resolves") {
    import spark.implicits._
    HashFunctions.ensure(spark)
    val r = Seq[String](null, "abc").toDF("t")
      .select(HashFunctions.deflate_len(col("t"))).collect()
    assert(r(0).isNullAt(0))
    assert(r(1).getLong(0) > 0)
    assert(spark.sql("SELECT deflate_len('abcabcabc')").collect()(0).getLong(0) > 0)
  }

  test("deflate_len stays inside WholeStageCodegen") {
    import spark.implicits._
    HashFunctions.ensure(spark)
    val df = spark.range(100).selectExpr("repeat('x', CAST(id AS INT)) AS t")
      .filter(HashFunctions.deflate_len(col("t")) > 0)
    val wsc = df.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
    assert(wsc, "deflate_len fell out of codegen:\n" +
      df.queryExecution.executedPlan.treeString.take(2000))
    assert(df.count() == 100)
  }
}
