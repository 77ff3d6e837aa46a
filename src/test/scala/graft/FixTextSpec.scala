package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.HashFunctions

/** fix_text — strict double-decode mojibake repair + NFC normalization
  * (native codegen'd expression). The repair must fire on true mojibake
  * and REFUSE everything else: genuine Latin-1, pure ASCII, non-Latin
  * scripts, ill-formed sequences. */
class FixTextSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.session

  private def fix(s: String): (String, Boolean) = {
    import spark.implicits._
    HashFunctions.ensure(spark)
    val r = Seq(s).toDF("t")
      .select(HashFunctions.fix_text(col("t")).as("f"))
      .select("f.fixed", "f.was_mojibake").collect().head
    (r.getString(0), r.getBoolean(1))
  }

  /** UTF-8 bytes of `s` re-read as Latin-1 — the classic mangle. */
  private def mangle(s: String): String =
    new String(s.getBytes("UTF-8"), "ISO-8859-1")

  test("true mojibake repairs exactly; the flag says so") {
    for (s <- Seq("café con leche", "über straße", "naïve — résumé",
        "日本語テキスト", "emoji 😀 tail")) {
      val (fixed, was) = fix(mangle(s))
      assert(was, s"repair must fire on mangled '$s'")
      assert(fixed == java.text.Normalizer.normalize(
        s, java.text.Normalizer.Form.NFC), s"drifted: '$fixed' vs '$s'")
    }
  }

  test("genuine Latin-1 text is NOT repaired (invalid continuations)") {
    val (fixed, was) = fix("café près of the sea")
    assert(!was, "an é followed by a space is not a UTF-8 sequence")
    assert(fixed == "café près of the sea")
  }

  test("pure ASCII passes through untouched, no flag") {
    val (fixed, was) = fix("plain ascii text")
    assert(!was && fixed == "plain ascii text")
  }

  test("non-Latin-1 scripts never narrow, never repair") {
    val (fixed, was) = fix("日本語")
    assert(!was && fixed == "日本語")
  }

  test("ill-formed sequences refuse: overlong, stray continuation, truncation") {
    // C0 AF is the classic overlong '/' — C0 is not a legal lead byte
    assert(!fix("À¯")._2)
    // stray continuation byte
    assert(!fix("ok  tail")._2)
    // truncated two-byte lead at end of string ("Ã" with nothing after)
    assert(!fix("truncated Ã")._2)
    // surrogate range encoded as UTF-8 (ED A0 80) must refuse
    assert(!fix("í ")._2)
  }

  test("NFC composes decomposed marks either way") {
    val (fixed, was) = fix("éclair")
    assert(!was && fixed == "éclair")
    // and after a repair: mangled decomposed text comes back composed
    val (f2, w2) = fix(mangle("éclair"))
    assert(w2 && f2 == "éclair")
  }

  test("null in, null out; SQL registry path resolves; codegen holds") {
    import spark.implicits._
    HashFunctions.ensure(spark)
    val r = Seq[String](null, "ok").toDF("t")
      .select(HashFunctions.fix_text(col("t"))).collect()
    assert(r(0).isNullAt(0))
    assert(spark.sql("SELECT fix_text('abc').fixed").collect()(0).getString(0) == "abc")
    val df = spark.range(50).selectExpr("concat('x', id) AS t")
      .select(HashFunctions.fix_text(col("t")).as("f"))
      .filter(col("f.was_mojibake") === false)
    val wsc = df.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
    assert(wsc, "fix_text fell out of codegen")
    assert(df.count() == 50)
  }
}
