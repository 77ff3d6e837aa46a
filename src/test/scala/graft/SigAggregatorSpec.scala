package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.MinHashUnion

/** The MinHashUnion Aggregator's distributed-merge contract: the result
  * is partitioning-invariant (map-side partials + merges commute), and
  * equals the element-wise min computed serially.
  */
class SigAggregatorSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  import spark.implicits._

  test("group signature is partitioning-invariant and equals the serial min") {
    val rng = new scala.util.Random(7)
    val sigs: Seq[Seq[Long]] =
      Seq.fill(97)(Seq.fill(MinHashUnion.K)(rng.nextLong().abs % 1000000007L))
    val expected = sigs.transpose.map(_.min)
    val mu = udaf(MinHashUnion)
    for (parts <- Seq(1, 7)) {
      val got = sigs.toDF("sig").repartition(parts)
        .agg(mu(col("sig")).as("gs"))
        .head().getSeq[Long](0)
      assert(got == expected, s"parts=$parts")
    }
  }

  test("minhash union property: sig of a unigram-doc concatenation = elementwise min") {
    // with 1-token shingles the concatenation's shingle SET is exactly the
    // union of the two docs' shingle sets, so the signature of the union
    // must equal the element-wise min of the signatures — the mathematical
    // claim MinHashUnion's merge rests on
    import graft.functions.TextHash
    val rng = new scala.util.Random(42)
    def doc(): String =
      Seq.fill(rng.nextInt(20) + 1)("w" + rng.nextInt(50)).mkString(" ")
    for (_ <- 1 to 50) {
      val (a, b) = (doc(), doc())
      val sa = TextHash.minHashSig(a, 64, 1)
      val sb = TextHash.minHashSig(b, 64, 1)
      val su = TextHash.minHashSig(a + " " + b, 64, 1)
      assert(su.toSeq == sa.zip(sb).map { case (x, y) => math.min(x, y) }.toSeq)
    }
  }

  test("reduce tolerates null, rejects length drift") {
    val b = MinHashUnion.reduce(MinHashUnion.zero, null)
    assert(b.forall(_ == Long.MaxValue))
    // a wrong-length signature is a producer bug (K drift): fail loudly
    // instead of silently MaxValue-padding the group signature
    intercept[IllegalArgumentException] {
      MinHashUnion.reduce(MinHashUnion.zero, Seq(3L))
    }
    val full = Seq.tabulate(MinHashUnion.K)(_.toLong)
    val b2 = MinHashUnion.reduce(MinHashUnion.zero, full)
    assert(b2.toSeq == full)
  }
}
