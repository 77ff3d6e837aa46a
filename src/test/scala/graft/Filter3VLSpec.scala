package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources._

/** Differential check of the connector's three-valued filter evaluator:
  * every predicate shape the passthrough profile accepts is pushed into
  * the scan (a pushed filter is a CONTRACT that the scan output already
  * satisfies it — Spark plans no residual), so any divergence from SQL
  * semantics over nulls would silently corrupt results. Each predicate
  * runs against the connector table AND against the identical rows as an
  * in-memory DataFrame, where Spark itself evaluates the predicate.
  */
class Filter3VLSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private lazy val table: String = {
    SourceRegistry.ensureCatalog(spark)
    val root = java.nio.file.Files.createTempDirectory("graft-3vl").toFile
    SourceRegistry.register(SourceDef("tvl", root.getPath, "json", "passthrough"))
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("a", LongType),
      StructField("s", StringType)))
    FileTable.create(SourceRegistry.get("tvl").get, "t", schema, "json")
    memDf.writeTo("graft.tvl.t").append()
    "graft.tvl.t"
  }

  private lazy val memDf = {
    import scala.jdk.CollectionConverters._
    val rows = Seq[(Long, Any, Any)](
      (1L, 1L, "xray"), (2L, 2L, null), (3L, null, "xen"),
      (4L, 4L, "yak"), (5L, null, null), (6L, 6L, "x"),
      (7L, 0L, "zulu")).map { case (i, a, s) =>
      org.apache.spark.sql.Row(i, a, s)
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("id", LongType),
      StructField("a", LongType),
      StructField("s", StringType))))
  }

  private def check(name: String, pred: Column): Unit = {
    val viaScan = spark.table(table).filter(pred)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val viaSpark = memDf.filter(pred)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(viaScan == viaSpark, s"$name: scan=$viaScan spark=$viaSpark")
  }

  test("3VL: null operands under NOT/OR/AND match Spark semantics") {
    check("not-eq", !(col("a") === 1))               // null a ⇒ UNKNOWN ⇒ drop
    check("not-or", !(col("a") > 2 || col("s").startsWith("x")))
    check("or-null", col("a") > 3 || col("s") === "xen")
    check("and-not", col("a") <= 4 && !(col("s") === "yak"))
    check("nested", !(!(col("a") === 2) && col("s").isNull))
  }

  test("3VL: null-safe equality and IS NULL push and match") {
    check("eqns", col("a") <=> lit(4L))
    check("eqns-nulllit", col("a") <=> lit(null).cast("bigint"))
    check("isnull-or", col("a").isNull || col("s").isNull)
    check("isnotnull-not", !(col("s").isNotNull))
  }

  test("3VL: IN, ranges, and string predicates over nulls") {
    check("in", col("a").isin(1L, 4L, 99L))
    check("not-in", !col("a").isin(1L, 4L))          // null a ⇒ UNKNOWN ⇒ drop
    check("range-or", col("a") < 2 || col("a") >= 6)
    check("like-not", !col("s").endsWith("n"))
    check("contains-or", col("s").contains("a") || col("a") === 0)
  }
}
