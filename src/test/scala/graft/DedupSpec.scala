package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Dedup

/** Unit coverage for the dedup machinery's scale-hazard fixes:
  *   - a duplicate family larger than the hot-bucket CAP (32) must still
  *     come out as one connected cluster (chain pairs, not bucket drop);
  *   - connectedComponents must converge on a path graph much deeper than
  *     the round budget would allow without path-halving (25-hop chain,
  *     maxIter 20 — plain min-propagation would need 25 rounds).
  */
class DedupSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  test("duplicate family larger than CAP clusters as one component") {
    import spark.implicits._
    val family = (0 until 40).map(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog again and again"))
    val others = (100 until 110).map(i =>
      (i.toLong, s"completely unrelated document number $i with unique words w$i x$i y$i z$i"))
    val docs = (family ++ others).toDF("doc_id", "text")
    val pairs = Dedup.lshPairsFor(spark, docs)
    val clusters = Dedup.connectedComponents(docs.select("doc_id"), pairs)
    val familyClusters = clusters.filter(col("doc_id") < 40)
      .select("cluster_id").distinct().collect()
    assert(familyClusters.length == 1, "40-doc family fragmented")
    assert(familyClusters.head.getLong(0) == 0L)
    // the distinct docs must NOT be absorbed into the family
    val otherOwn = clusters.filter(col("doc_id") >= 100)
      .filter(col("cluster_id") < 40).count()
    assert(otherOwn == 0, "unrelated docs joined the family cluster")
  }

  test("connectedComponents converges on a 25-hop chain within maxIter=20") {
    import spark.implicits._
    val nodes = (0L to 25L).toDF("doc_id")
    val pairs = (0L until 25L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val out = Dedup.connectedComponents(nodes, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.forall(_._2 == 0L), s"chain not fully labeled: ${out.mkString(",")}")
  }

  test("connectedComponents throws rather than returning wrong labels") {
    import spark.implicits._
    val nodes = (0L to 8L).toDF("doc_id")
    val pairs = (0L until 8L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    assertThrows[IllegalStateException] {
      // localThreshold = 0 forces the distributed loop (the local
      // union-find short-circuit is exact and has no iteration cap)
      Dedup.connectedComponents(nodes, pairs, maxIter = 1, localThreshold = 0)
    }
  }

  test("local and distributed connected components agree") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val pairs = Seq.fill(300)((rng.nextInt(120).toLong, rng.nextInt(120).toLong))
      .filter(p => p._1 != p._2).map(p => (p._1 min p._2, p._1 max p._2))
      .distinct.toDF("doc_a", "doc_b")
    val nodes = (0L until 130L).toDF("doc_id")
    val local = Dedup.connectedComponents(nodes, pairs)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val dist = Dedup.connectedComponents(nodes, pairs, localThreshold = 0)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(local == dist)
  }

  test("incremental dedup flags exact and near dups against the old corpus") {
    import spark.implicits._
    val q = Dedup.queries.find(_.name == "q_dedup_incremental").get
    // old corpus: doc_id % 5 != 0; new batch: doc_id % 5 == 0.
    // doc 5 copies old doc 1 (exact), doc 10 nearly copies old doc 2,
    // doc 15 is fresh.
    val oldBase = "the quick brown fox jumps over the lazy dog again and again today"
    val nearBase = "pack my box with five dozen liquor jugs for the long trip home now"
    val dir = java.nio.file.Files.createTempDirectory("incdedup").toString
    Seq(
      (1L, oldBase, "en", "s", 1L),
      (2L, nearBase, "en", "s", 1L),
      (3L, "sphinx of black quartz judge my vow said the old night warden", "en", "s", 1L),
      (5L, oldBase, "en", "s", 1L),
      (10L, nearBase + " extra", "en", "s", 1L),
      (15L, "completely fresh content with unique words qq ww ee rr tt yy uu ii", "en", "s", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = q.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(4))).toMap
    assert(out(5L)._1 == 1L, "verbatim copy must flag exact_dup")
    assert(out(10L)._2 == 1L, "near copy must flag near_dup")
    assert(out(15L) == ((0L, 0L, 1L)), "fresh doc must ingest")
  }

  test("prefix-filter pairs equal the inverted-index exact-Jaccard pairs") {
    // Differential proof of the PPJoin arm: identical result frame to the
    // inverted-index computation on real data (sf0.001 corpus, which
    // plants genuine near-dup families), row for row, jaccard for jaccard.
    val d = "/root/testdata/sf0.001"
    val a = Dedup.exactJaccardPairs(spark, d)
      .orderBy("doc_a", "doc_b").collect().toSeq
    val b = Dedup.prefixFilterPairs(spark, d)
      .orderBy("doc_a", "doc_b").collect().toSeq
    assert(a.nonEmpty, "differential vacuous: no exact pairs at sf0.001")
    assert(a == b, s"prefix-filter diverged: ${a.size} vs ${b.size} rows")
  }

  test("pairSetEval confusion arithmetic on genuinely diverging pair sets") {
    import spark.implicits._
    // pred = {(1,2),(1,3),(2,3)}, truth = {(1,2),(4,5)} ⇒ tp=1 fp=2 fn=1,
    // precision 1/3 → 3333 bp, recall 1/2 → 5000 bp — the live gate's two
    // sets coincide on the corpus, so the divergent case is pinned here
    val pred = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("doc_a", "doc_b")
    val truth = Seq((1L, 2L), (4L, 5L)).toDF("doc_a", "doc_b")
    val r = Dedup.pairSetEval(pred, truth).collect().head
    assert(r.getAs[Long]("n_pred") == 3 && r.getAs[Long]("n_truth") == 2)
    assert(r.getAs[Long]("tp") == 1 && r.getAs[Long]("fp") == 2 &&
      r.getAs[Long]("fn") == 1, r.toString)
    assert(r.getAs[Long]("precision_bp") == 3333 &&
      r.getAs[Long]("recall_bp") == 5000, r.toString)
  }

  test("span dedup invariants: blocks⇒spans, prune⊆detect, keep-one") {
    val d = "/root/testdata/sf0.001"
    def q(name: String) = Dedup.queries.find(_.name == name).get.fn(spark, d)
    val spans = q("q_dedup_spans")
      .select("doc_id", "n_tokens", "n_spans", "dup_tokens").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val prune = q("q_dedup_span_prune")
      .select("doc_id", "n_tokens", "cut_tokens", "kept_tokens").collect()
    val blocks = q("q_dedup_blocks")
      .select("doc_id", "n_shared_blocks").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(spans.exists(_._2._2 > 0), "vacuous: no duplicated spans at sf0.001")
    prune.foreach { r =>
      val (id, n, cut, kept) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      // the rebuild's two independently computed counts must reconcile
      assert(cut + kept == n, s"doc $id: cut $cut + kept $kept != n $n")
      // prune windows (mind < doc) are a subset of duplicated windows
      // (nd >= 2), so pruned coverage can never exceed detected coverage
      assert(cut <= spans(id)._3, s"doc $id: cut $cut > dup ${spans(id)._3}")
    }
    // keep-one rule: the LOWEST doc_id carrying duplicated spans cannot
    // itself be pruned — any gram duplicated there has its min occurrence
    // at or above this doc (a lower min would itself carry spans)
    val lowest = spans.filter(_._2._2 > 0).keys.min
    val lowestCut = prune.find(_.getLong(0) == lowest).get.getLong(2)
    assert(lowestCut == 0, s"lowest dup doc $lowest pruned $lowestCut tokens")
    // a shared aligned block (BlockW=8) contains a shared sliding 6-gram,
    // so block-level sharing implies span-level detection
    blocks.filter(_._2 > 0).keys.foreach { id =>
      assert(spans(id)._2 > 0, s"doc $id has shared blocks but no dup spans")
    }
  }
}
