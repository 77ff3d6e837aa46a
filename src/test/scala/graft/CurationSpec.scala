package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Curation

/** Unit-level properties of the curation operators that the sf-gate can't
  * show: the corpus fixture contains no PII-shaped strings, so the
  * redaction engine's email/IPv4 behavior is proven here on crafted rows.
  */
class CurationSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  import spark.implicits._

  test("redact masks emails, IPv4s, and blocklist terms; counts match") {
    val df = Seq(
      (1L, "Contact Bob.Smith+x@example.co.uk or 10.0.0.1 about the customer"),
      (2L, "no pii here at all"),
      (3L, "a@b.io b@c.net 192.168.1.255 vector customer")
    ).toDF("doc_id", "text")
    val (ne, ni, nb, scrubbed) = Curation.redact(col("text"))
    val rows = df.select(col("doc_id"), ne, ni, nb, scrubbed.as("t"))
      .orderBy("doc_id").collect()

    assert(rows(0).getLong(1) == 1 && rows(0).getLong(2) == 1 && rows(0).getLong(3) == 1)
    assert(rows(0).getString(4) == "contact [MASKED] or [MASKED] about the [MASKED]")
    assert(rows(1).getLong(1) == 0 && rows(1).getLong(2) == 0 && rows(1).getLong(3) == 0)
    assert(rows(1).getString(4) == "no pii here at all")
    assert(rows(2).getLong(1) == 2 && rows(2).getLong(2) == 1 && rows(2).getLong(3) == 2)
    assert(rows(2).getString(4) == "[MASKED] [MASKED] [MASKED] [MASKED] [MASKED]")
  }

  test("redact leaves blocklist terms embedded in larger words alone") {
    val df = Seq((1L, "vectorized customers accustomed")).toDF("doc_id", "text")
    val (_, _, nb, scrubbed) = Curation.redact(col("text"))
    val r = df.select(nb, scrubbed).head()
    // \b(customer|vector)\b: "customers" does match "customer"? No —
    // the boundary after 'r' is not a word boundary in "customers".
    assert(r.getLong(0) == 0L)
    assert(r.getString(1) == "vectorized customers accustomed")
  }

  test("decontamination flags a verbatim copy of an eval doc") {
    val evalText = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu"
    val q = Curation.queries.find(_.name == "q_curation_decontam").get
    // Stage a tiny documents table: doc 0 (eval, %97==0), doc 1 a verbatim
    // copy (must be contaminated), doc 2 unrelated (0 shared shingles).
    val dir = java.nio.file.Files.createTempDirectory("curation").toString
    Seq(
      (0L, evalText, "en", "s", evalText.length.toLong),
      (1L, evalText, "en", "s", evalText.length.toLong),
      (2L, "one two three four five six seven eight nine ten eleven twelve", "en", "s", 60L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = q.fn(spark, dir).collect()
    assert(out.length == 2)
    val byId = out.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byId(1L)._1 == 11L && byId(1L)._2 == 1L) // 13 tokens → 11 shingles, all shared
    assert(byId(2L) == ((0L, 0L)))
  }

  test("sampling coin is deterministic and stratified rates bound the kept fraction") {
    val q = Curation.queries.find(_.name == "q_curation_sample").get
    val a = q.fn(spark, "/root/testdata/sf0.001").collect().map(_.toSeq)
    val b = q.fn(spark, "/root/testdata/sf0.001").collect().map(_.toSeq)
    assert(a.sameElements(b))
    a.foreach { r => assert(r(2).asInstanceOf[Long] <= r(1).asInstanceOf[Long]) }
  }

  test("mixing never exceeds the token budget per language") {
    val q = Curation.queries.find(_.name == "q_curation_mix").get
    q.fn(spark, "/root/testdata/sf0.001").collect().foreach { r =>
      assert(r.getLong(2) <= 8000L, s"lang ${r.getString(0)} over budget")
    }
  }

  test("sequence packing accounting is consistent") {
    val q = Curation.queries.find(_.name == "q_curation_pack").get
    q.fn(spark, "/root/testdata/sf0.001").collect().foreach { r =>
      val (nDocs, total, nPacks, straddlers, waste) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(nPacks * 512 == total + waste, "packs must cover exactly total+waste")
      assert(waste >= 0 && waste < 512)
      assert(straddlers <= nDocs && straddlers <= ((nPacks - 1) max 0),
        "a straddler consumes a distinct pack boundary")
    }
  }

  test("int8 quantization stays in range and bounds the reconstruction error") {
    val q = graft.queries.VectorOps.queries.find(_.name == "q_embed_quantize").get
    val rows = q.fn(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (scale, minQ, maxQ, l1e9) =
        (r.getDouble(1), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(minQ >= -127 && maxQ <= 127, s"vec ${r.getLong(0)} out of int8 range")
      // round-to-nearest: per-element error <= scale/2 (+1 ulp of fixed-point)
      assert(l1e9 <= (64L * (scale / 2 * 1e9).toLong + 64L),
        s"vec ${r.getLong(0)} error $l1e9 above bound")
    }
  }

  test("group-aware split: planted dup groups never straddle splits") {
    // the adversarial construction: pick doc ids whose PER-DOC coins land
    // in different split bands, then give them identical text — a naive
    // per-doc split WOULD tear this group across train and test
    val P = 1000000007L
    val KP = 2654435761L % P
    def bucket(id: Long): Long = id % P * KP % P % 100
    val trainId = (0L to 1000L).find(bucket(_) < 90).get
    val testId = (0L to 1000L).find(bucket(_) >= 95).get
    val validId = (0L to 1000L).find(b => bucket(b) >= 90 && bucket(b) < 95).get
    assert(bucket(trainId) < 90 && bucket(testId) >= 95)
    val df = Seq(
      (trainId, "the same duplicated document"),
      (testId, "the same duplicated document"),
      (validId, "the same duplicated document"),
      (7777L, "a unique control document")
    ).toDF("doc_id", "text").withColumn("n_chars", length(col("text")).cast("long"))
    val out = Curation.groupSplit(df)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // every dup lands in the REP's split (rep = min doc_id of the group)
    val rep = Seq(trainId, testId, validId).min
    val expected = if (bucket(rep) < 90) "train"
      else if (bucket(rep) < 95) "valid" else "test"
    assert(out(trainId) == expected && out(testId) == expected
      && out(validId) == expected,
      s"dup group torn across splits: $out")
    // the naive per-doc coin WOULD have torn it (ids chosen that way)
    assert(Seq(trainId, testId, validId).map(bucket)
      .map(b => if (b < 90) "train" else if (b < 95) "valid" else "test")
      .distinct.size > 1)
  }

  test("privacy pipeline accounting is internally consistent") {
    val q = Curation.queries.find(_.name == "q_pipeline_privacy").get
    val rows = q.fn(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) > 0 && r.getLong(3) >= r.getLong(1),
        "kept docs should each contribute >= 1 token")
    }
  }
}
