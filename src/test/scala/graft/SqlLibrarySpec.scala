package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{GraftEngine, SqlLibrary}

/** The SQL-text surface of the curation operators: a pure-SQL client
  * (spark.sql or JDBC) must reach the same deterministic results as the
  * Scala operator forms. */
class SqlLibrarySpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private val sfDir = "/root/testdata/sf0.001"

  test("SQL library registers idempotently and is engine-installed") {
    new GraftEngine(spark) // constructor installs the library
    SqlLibrary.ensure(spark) // second registration must not throw
    assert(spark.sql("SELECT graft_coin(42L) AS c").head().getLong(0) ==
      ((42L % 1000000007L) * 654435747L) % 1000000007L % 100L)
  }

  test("LATERAL graft_chunks matches the chunking operator exactly") {
    SqlLibrary.ensure(spark)
    graft.core.Tables.registerAll(spark, sfDir)
    val viaSql = spark.sql(
      """SELECT d.doc_id, c.chunk_id, c.n_tokens, c.chunk_md5
        |FROM documents d, LATERAL graft_chunks(d.text, 64, 48) c
        |ORDER BY doc_id, chunk_id""".stripMargin)
      .collect().map(_.toString).toSeq
    val viaOp = SparkEntry.queries("q_chunk_overlap")(spark, sfDir)
      .collect().map(_.toString).toSeq
    assert(viaSql.nonEmpty && viaSql == viaOp)
  }

  test("graft_redact and graft_tokens match the operator transforms") {
    SqlLibrary.ensure(spark)
    graft.core.Tables.registerAll(spark, sfDir)
    val viaSql = spark.sql(
      """SELECT doc_id, md5(graft_redact(text)) AS h, size(graft_tokens(text)) AS n
        |FROM documents ORDER BY doc_id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    val (_, _, _, scrubbed) = graft.queries.Curation.redact(col("text"))
    val viaOp = spark.table("documents")
      .select(col("doc_id"), md5(scrubbed).as("h"),
        size(filter(split(lower(col("text")), "\\s+"), t => t =!= "")).as("n"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(viaSql == viaOp)
  }
}
