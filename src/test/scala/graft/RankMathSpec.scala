package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.RankMath

/** The closed-form NTILE must match Spark's window NTILE for every
  * remainder class n mod k — the uniform floor((rn-1)k/n)+1 formula
  * diverges whenever 1 < n mod k < k (e.g. n=14, k=4: rn=8 belongs to
  * bucket 2, sizes 4,4,3,3). */
class RankMathSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  test("closed-form ntile equals window NTILE for all n mod k classes") {
    import spark.implicits._
    for (n <- Seq(12L, 13L, 14L, 15L, 16L, 5L, 3L, 1L); k <- Seq(4L, 3L)) {
      val df = (1L to n).toDF("rn")
      val viaWindow = df
        .withColumn("nt", ntile(k.toInt).over(Window.orderBy("rn")))
        .orderBy("rn").collect().map(_.getInt(1)).toSeq
      val viaClosed = df
        .withColumn("nt", RankMath.ntile(col("rn"), n, k).cast("int"))
        .orderBy("rn").collect().map(_.getInt(1)).toSeq
      assert(viaClosed == viaWindow, s"n=$n k=$k: $viaClosed vs $viaWindow")
    }
  }
}
