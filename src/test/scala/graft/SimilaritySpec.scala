package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Similarity

/** Unit coverage for the embedding-LSH hot-bucket guard: a duplicate
  * family far larger than ECAP (32) must stay fully connected through the
  * chain rule while the emitted pair count stays O(n), not O(n²) — the
  * scale property the capped candidate join exists for.
  */
class SimilaritySpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  test("120-vector identical-embedding family stays connected under the cap") {
    import spark.implicits._
    // 120 identical vectors (one hot bucket per LSH table, 120 > ECAP=32)
    // plus 10 mutually-orthogonal one-hot vectors (cosine 0 to each other,
    // 1/8 to the family — both far below the 0.45 threshold).
    val family = (0 until 120).map(i => (i.toLong, Array.fill(64)(1.0)))
    val others = (200 until 210).map { i =>
      (i.toLong, Array.tabulate(64)(j => if (j == i - 200) 1.0 else 0.0))
    }
    val emb = (family ++ others).toDF("vec_id", "embedding")
    val pairs = Similarity.embeddingNearDupPairs(spark, emb)
      .collect().map(r => (r.getLong(0), r.getLong(1)))

    // pair volume must be chain-sized: <= T tables x (n-1) chain links for
    // the family (plus nothing else), nowhere near C(120,2) = 7140
    assert(pairs.length < 500, s"pair blow-up: ${pairs.length} pairs emitted")
    assert(pairs.forall { case (a, b) => a < 120 && b < 120 },
      "orthogonal vectors must not appear in near-dup pairs")

    // union-find: the family must come out as ONE connected component
    val parent = Array.tabulate(120)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val roots = (0 until 120).map(find).distinct
    assert(roots == Seq(0), s"family fragmented into ${roots.length} components")
  }
}
