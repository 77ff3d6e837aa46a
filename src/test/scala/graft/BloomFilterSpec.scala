package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{BloomRuntime, HashFunctions}

/** The distributed bloom build/probe pair behind bloom-prefiltered
  * decontamination (q_curation_bloom_decontam): no false negatives ever,
  * measured false-positive rate near the design point, distribution-
  * independent merge (the partial-buffer OR must equal a single-pass
  * build), and the probe staying inside whole-stage codegen.
  */
class BloomFilterSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private val NumBits = 1L << 17
  private val K = 7

  test("runtime: inserted hashes always hit; FPR is near the design point") {
    val words = new Array[Long](BloomRuntime.wordsFor(NumBits))
    val rnd = new scala.util.Random(42)
    val inserted = Array.fill(8192)(rnd.nextLong())
    inserted.foreach(h => BloomRuntime.put(words, NumBits, K, h))
    val bytes = BloomRuntime.serialize(words, NumBits, K)
    // zero false negatives — the bloom contract
    assert(inserted.forall(h => BloomRuntime.mightContain(bytes, h)))
    // 8192 elems in 2^17 bits = 16 bits/elem, k=7 → theoretical FPR ~0.2%;
    // allow a loose 2% ceiling to keep the test un-flaky
    val probes = Array.fill(20000)(rnd.nextLong()).filterNot(inserted.contains)
    val fp = probes.count(h => BloomRuntime.mightContain(bytes, h))
    assert(fp.toDouble / probes.length < 0.02, s"fpr=${fp.toDouble / probes.length}")
  }

  test("distributed build merges partials: 8-partition build == 1-partition build") {
    import spark.implicits._
    HashFunctions.ensure(spark)
    val data = (1L to 5000L).map(i => i * 0x9e3779b97f4a7c15L)
    val wide = data.toDF("h").repartition(8)
      .agg(HashFunctions.bloom_build(col("h"), NumBits, K))
      .collect()(0).getAs[Array[Byte]](0)
    val narrow = data.toDF("h").coalesce(1)
      .agg(HashFunctions.bloom_build(col("h"), NumBits, K))
      .collect()(0).getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(wide, narrow),
      "OR-merge of partial buffers must equal the single-pass build")
  }

  test("bloom_contains probes exactly and nulls propagate") {
    import spark.implicits._
    HashFunctions.ensure(spark)
    val bloom = (1L to 100L).toDF("h")
      .agg(HashFunctions.bloom_build(col("h"), NumBits, K))
      .collect()(0).getAs[Array[Byte]](0)
    val probed = Seq[java.lang.Long](5L, 1000000007L, null).toDF("h")
      .select(col("h"), HashFunctions.bloom_contains(lit(bloom), col("h")).as("hit"))
      .collect()
    assert(probed(0).getBoolean(1) === true)      // inserted → always hits
    assert(probed(2).isNullAt(1))                 // null in → null out
  }

  test("the probe filter stays inside WholeStageCodegen") {
    import spark.implicits._
    HashFunctions.ensure(spark)
    val bloom = (1L to 100L).toDF("h")
      .agg(HashFunctions.bloom_build(col("h"), NumBits, K))
      .collect()(0).getAs[Array[Byte]](0)
    val df = spark.range(1000).toDF("id")
      .filter(HashFunctions.bloom_contains(lit(bloom), col("id")))
    val wsc = df.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
    assert(wsc, "bloom_contains fell out of codegen:\n" +
      df.queryExecution.executedPlan.treeString.take(2000))
    // and it actually evaluates (the generated static call compiles)
    assert(df.count() >= 100) // the 100 inserted ids all pass
  }
}
