package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants of the round-8 operators that the cross-engine
  * gate cannot establish: the DuckDB oracle proves Spark computes the
  * SAME value, not that the value has the operator's defining property —
  * a soundness bug present in both arms would still hash-match. These
  * pin the properties themselves.
  */
class OperatorPropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private val sfDir = "/root/testdata/sf0.001"

  test("q_text_cms: the sketch never underestimates (CMS soundness)") {
    val rows = SparkEntry.queries("q_text_cms")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (exact, est) = (r.getAs[Long]("exact_n"), r.getAs[Long]("est_n"))
      assert(est >= exact,
        s"CMS underestimated '${r.getAs[String]("token")}': est=$est < exact=$exact")
    }
  }

  test("q_curation_shards: LPT round-robin bounds shard spread by one document") {
    val rows = SparkEntry.queries("q_curation_shards")(spark, sfDir).collect()
    val totals = rows.map(_.getAs[Long]("total_tokens"))
    val maxDoc = rows.map(_.getAs[Long]("max_tokens")).max
    // descending round-robin: each round's per-shard assignments are
    // sandwiched by the previous round's, so the telescoped spread is at
    // most one maximal document
    assert(totals.max - totals.min <= maxDoc,
      s"shard spread ${totals.max - totals.min} exceeds max doc $maxDoc")
    val counts = rows.map(_.getAs[Long]("n_docs"))
    assert(counts.max - counts.min <= 1, "round-robin doc counts must differ by <= 1")
  }

  test("q_dedup_blocks: shared counts are bounded by block counts") {
    val rows = SparkEntry.queries("q_dedup_blocks")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nb, ns, pct) = (r.getAs[Long]("n_blocks"),
        r.getAs[Long]("n_shared_blocks"), r.getAs[Long]("shared_pct"))
      assert(nb > 0 && ns >= 0 && ns <= nb, r.toString)
      assert(pct == ns * 100 / nb, r.toString)
    }
  }

  test("q_ann_hard_negatives: no returned negative shares the query's label") {
    val df = SparkEntry.queries("q_ann_hard_negatives")(spark, sfDir)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .selectExpr("vec_id AS query_id", "CAST(label AS BIGINT) AS qlabel")
    val bad = df.join(emb, "query_id")
      .filter(org.apache.spark.sql.functions.col("cand_label") ===
        org.apache.spark.sql.functions.col("qlabel"))
    assert(bad.count() == 0, "a hard negative carried the query's own label")
  }

  test("powerIterate recovers the dominant axis of a diagonal scatter matrix") {
    val d = 8
    // diag(10^9, 2·10^9 at axis 5, ...) — dominant eigenvector is axis 5
    val craw = Array.tabulate(d + 1, d + 1) { (i, j) =>
      if (i == 0 || j == 0 || i != j) 0L
      else if (i == 5) 2000000000L else 1000000000L
    }
    val v = graft.queries.VectorOps.powerIterate(craw, d)
    val dominant = (1 to d).maxBy(i => math.abs(v(i)))
    assert(dominant == 5, s"expected axis 5, got $dominant: ${v.mkString(",")}")
    // after 12 halving steps the non-dominant mass decays by 2^-12
    (1 to d).filter(_ != 5).foreach { i =>
      assert(math.abs(v(i)) * 1000 <= math.abs(v(5)),
        s"axis $i failed to decay: ${v.mkString(",")}")
    }
  }

  test("powerIterate is invariant to overall matrix scale (rescale discipline)") {
    val d = 4
    def mat(scale: Long): Array[Array[Long]] = Array.tabulate(d + 1, d + 1) { (i, j) =>
      if (i == 0 || j == 0) 0L
      else (if (i == j) 5L else 1L) * scale
    }
    val a = graft.queries.VectorOps.powerIterate(mat(1000000L), d)
    val b = graft.queries.VectorOps.powerIterate(mat(1000000000L), d)
    // the matrix rescale divides both to the same integer matrix, so the
    // iterates are identical — scale must not leak into the component
    assert(a.toSeq == b.toSeq, s"${a.mkString(",")} vs ${b.mkString(",")}")
  }

  test("q_graph_pagerank: ranks are damped-positive and track degree") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q_graph_pagerank")(spark, sfDir).collect()
    assert(rows.length == 20)
    // every rank carries at least the teleport mass (1−d)·1e9
    rows.foreach(r => assert(r.getAs[Long]("rank_e9") >= 150000000L, r.toString))
    // recompute node degrees from the same derivation; on an undirected
    // graph PageRank mass converges toward degree-proportional, so the
    // top-20 must sit far above the global average degree
    val o = spark.read.parquet(s"$sfDir/orders.parquet").select("o_orderkey", "o_custkey")
    val l = spark.read.parquet(s"$sfDir/lineitem.parquet").select("l_orderkey", "l_suppkey")
    val pairs = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b")).distinct()
    val degByNode = pairs.select(col("a").as("n")).union(pairs.select(col("b").as("n")))
      .groupBy("n").count().collect().map { r =>
        val n = r.getLong(0)
        ((if (n % 2 == 0) "c" else "s") -> n / 2) -> r.getLong(1)
      }.toMap
    val globalAvg = degByNode.values.sum.toDouble / degByNode.size
    val topAvg = rows.map(r =>
      degByNode((r.getAs[String]("node_type"), r.getAs[Long]("node_key")))).sum.toDouble / 20
    assert(topAvg > 3 * globalAvg,
      s"top-20 avg degree $topAvg not above 3x global avg $globalAvg")
  }

  test("probeIterate converges to the closed-form ridge solution on a diagonal Gram") {
    val d = 4
    // diagonal Gram ⇒ the fixed point decouples per coordinate:
    // w*_i = bn_i / (gn_ii + Ridge). The contraction factor per step is
    // 1 − (gn_ii + Ridge)/Step ≈ 0.76, so 16 steps leave ≤ ~1.2% residual.
    val gram = Array.tabulate(d + 1, d + 1) { (i, j) =>
      if (i == j && i > 0) i.toLong * 1000000000000L else 0L
    }
    val b = Array.tabulate(d + 1)(i =>
      if (i == 0) 0L else (if (i % 2 == 0) -1L else 1L) * i * 1000000000L)
    val w = graft.queries.VectorOps.probeIterate(gram, b, d)
    // reproduce the rescales probeIterate applies before iterating
    val dg = math.max(gram.flatten.map(math.abs).max / 1000000L, 1L)
    val mb = b.map(math.abs).max
    val mul = math.max(100000000000000L / mb, 1L)
    (1 to d).foreach { i =>
      val expected = (b(i) * mul).toDouble / (gram(i)(i) / dg + 64000000L)
      assert(math.signum(w(i).toDouble) == math.signum(expected),
        s"axis $i sign: got ${w(i)}, want ~$expected")
      assert(math.abs(w(i) - expected) <= math.abs(expected) * 0.025 + 20,
        s"axis $i: got ${w(i)}, closed form $expected")
    }
  }

  test("probeIterate is invariant to overall moment scale (rescale discipline)") {
    // d = 4 so max|b| = 4·s divides BCap = 1e14 exactly at both scales —
    // the b rescale is multiplicative, so invariance is exact only when
    // BCap/mb has no truncation (the gram rescale divides, always exact)
    val d = 4
    def gm(s: Long) = Array.tabulate(d + 1, d + 1) { (i, j) =>
      if (i == 0 || j == 0) 0L else (if (i == j) 7L else 1L) * s
    }
    def bv(s: Long) = Array.tabulate(d + 1)(i => if (i == 0) 0L else i * s)
    val a = graft.queries.VectorOps.probeIterate(gm(10000000L), bv(1000000L), d)
    val c = graft.queries.VectorOps.probeIterate(gm(10000000000L), bv(1000000000L), d)
    assert(a.toSeq == c.toSeq, s"${a.mkString(",")} vs ${c.mkString(",")}")
  }

  // ---- r11: partition-layout invariance of the new shuffle-bearing ops.
  // The DuckDB gate runs ONE partition layout; a result that depends on
  // how rows happened to land in tasks (non-deterministic tie-breaks,
  // per-partition state bleed) would still hash-match there. These pin
  // layout-independence directly.

  private def collectCanon(name: String, parts: Int): Seq[String] = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    try SparkEntry.queries(name)(spark, sfDir).collect().map(_.toString).toSeq
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("q_curation_epoch_shuffle: the permutation is layout-invariant") {
    // the epoch shuffle's whole contract is seeded reproducibility — the
    // same seed must yield the identical (doc -> shard, pos) assignment
    // on ANY cluster size / shuffle-partition layout
    assert(collectCanon("q_curation_epoch_shuffle", 1) ==
      collectCanon("q_curation_epoch_shuffle", 13))
  }

  test("q_dedup_url: keep-best winners are layout-invariant (deterministic ties)") {
    // the argmax tie-break is (n_chars DESC, doc_id ASC) — fully ordered,
    // so the surviving doc per canonical URL cannot depend on which task
    // saw which rows
    assert(collectCanon("q_dedup_url", 1) == collectCanon("q_dedup_url", 13))
  }

  test("q_text_token_entropy: millinat sums are layout-invariant") {
    // integer millinat terms summed with exact integer arithmetic — no
    // float-order sensitivity may leak in from the aggregation layout
    assert(collectCanon("q_text_token_entropy", 1) ==
      collectCanon("q_text_token_entropy", 13))
  }

  // ---- r12 operators: semantic properties the cross-engine hash cannot
  // establish (a defect present in BOTH arms still hash-matches).

  test("q_text_pii_redact: redaction is idempotent and counts match sentinels") {
    val rows = SparkEntry.queries("q_text_pii_redact")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}".r
    val phone = "\\+\\d{1,2}-\\d{3}-\\d{3}-\\d{4}".r
    val ip = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b".r
    def occurrences(hay: String, needle: String): Int =
      hay.sliding(needle.length).count(_ == needle)
    rows.foreach { r =>
      val c = r.getAs[String]("content")
      // a second redaction pass must be a no-op: no live PII survives
      assert(email.findFirstIn(c).isEmpty, s"residual email in: $c")
      assert(phone.findFirstIn(c).isEmpty, s"residual phone in: $c")
      assert(ip.findFirstIn(c).isEmpty, s"residual IP in: $c")
      // the reported counts are exactly the sentinels actually emitted
      assert(occurrences(c, "<EMAIL>") == r.getAs[Long]("n_emails"), c)
      assert(occurrences(c, "<PHONE>") == r.getAs[Long]("n_phones"), c)
      assert(occurrences(c, "<IP>") == r.getAs[Long]("n_ips"), c)
    }
  }

  test("q_text_repetition: covers are consistent with the flags and token mass") {
    val rows = SparkEntry.queries("q_text_repetition")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // token counts come from the source docs — the operator invariant is
    // about bigram EXISTENCE (>= 2 tokens), which tok_chars can't encode
    // (a single long token has chars > 1 but no bigram)
    val nToks = spark.read.parquet(s"$sfDir/documents.parquet")
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        graft.functions.TextHash.tokenize(r.getAs[String]("text")).length)
      .toMap
    rows.foreach { r =>
      val (chars, top2, dup3) = (r.getAs[Long]("tok_chars"),
        r.getAs[Long]("top2_cover"), r.getAs[Long]("dup3_chars"))
      // any >=2-token doc has at least one bigram, so its best bigram
      // covers a positive number of characters
      assert(top2 >= 0 && dup3 >= 0, r.toString)
      if (nToks(r.getAs[Long]("doc_id")) >= 2)
        assert(top2 > 0, s"doc with >=2 tokens but zero top-2-gram cover: $r")
      // flags ARE the cross-multiplied Gopher thresholds, bit for bit
      assert(r.getAs[Boolean]("flag_top2") == (top2 * 5 <= chars), r.toString)
      assert(r.getAs[Boolean]("flag_dup3") == (dup3 * 50 <= chars * 9), r.toString)
    }
  }

  test("q_text_classifier: scores are weight-bounded and layout-invariant") {
    val rows = SparkEntry.queries("q_text_classifier")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, sc) = (r.getAs[Long]("n_tokens"), r.getAs[Long]("score"))
      // each hashed feature's weight lives in [-1024, 1023]
      assert(sc >= -1024 * n && sc <= 1023 * n, r.toString)
      assert(r.getAs[Boolean]("label") == (sc > 0), r.toString)
    }
    assert(collectCanon("q_text_classifier", 1) ==
      collectCanon("q_text_classifier", 13))
  }

  test("q_text_keywords: ranks are dense, scores non-increasing, terms real") {
    val rows = SparkEntry.queries("q_text_keywords")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    val docText = spark.read.parquet(s"$sfDir/documents.parquet")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").toLowerCase.split("\\s+").filter(_.nonEmpty).toSet)
      .toMap
    byDoc.foreach { case (id, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("rk"))
      assert(sorted.map(_.getAs[Long]("rk")).toSeq == (1L to rs.length),
        s"doc $id ranks not dense: ${sorted.mkString(";")}")
      val scores = sorted.map(_.getAs[Long]("score_millinats"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"doc $id scores increase down the ranks")
      // every extracted keyword is an actual whitespace token of the doc
      sorted.foreach { r =>
        assert(docText(id).contains(r.getAs[String]("term")),
          s"doc $id keyword '${r.getAs[String]("term")}' not in text")
      }
    }
  }

  test("q_events_anomaly: flags match an independent per-user replay") {
    val rows = SparkEntry.queries("q_events_anomaly")(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.exists(_.getAs[Boolean]("is_anomaly")),
      "fixture must contain at least one anomaly for the gate to mean anything")
    // replay the rolling 3-sigma rule in plain Scala off the raw table —
    // a different formulation (explicit sliding buffer vs window frame)
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
      .selectExpr("event_id", "user_id", "CAST(ts AS STRING) AS tsu",
        "CAST(round(value * 100) AS LONG) AS cents")
      .collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
        r.getAs[String]("tsu"), r.getAs[Long]("cents")))
    val expect = raw.groupBy(_._2).iterator.flatMap { case (_, evs) =>
      val ordered = evs.sortBy(e => (e._3, e._1))
      ordered.zipWithIndex.map { case ((id, _, _, x), i) =>
        val prior = ordered.slice(math.max(0, i - 10), i).map(_._4)
        val (n, s, ss) = (prior.length.toLong, prior.sum,
          prior.map(v => v * v).sum)
        id -> (n >= 5 && (n * x - s) * (n * x - s) > 9 * (n * ss - s * s))
      }
    }.toMap
    rows.foreach { r =>
      assert(r.getAs[Boolean]("is_anomaly") ==
        expect(r.getAs[Long]("event_id")), r.toString)
    }
    assert(collectCanon("q_events_anomaly", 1) ==
      collectCanon("q_events_anomaly", 13))
  }

  test("q_text_extract_html: extracted content is tag-free and entity-decoded") {
    val rows = SparkEntry.queries("q_text_extract_html")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val c = r.getAs[String]("content")
      // boilerplate stripping must leave no markup, raw entities, or
      // script/style payload behind
      assert(!c.contains("<") && !c.contains(">"), s"markup survived: $c")
      assert(!c.contains("&amp;") && !c.contains("&#"), s"entity survived: $c")
      assert(!c.contains("var x=1") && !c.contains("color:red"),
        s"script/style payload survived: $c")
      assert(!c.contains("Home") && !c.toLowerCase.startsWith("ad "),
        s"nav/ad boilerplate survived: $c")
    }
  }
}
