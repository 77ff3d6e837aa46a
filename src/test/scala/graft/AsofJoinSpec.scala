package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.AsofJoin

class AsofJoinSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private def ts(s: String) = Timestamp.valueOf(s)

  test("asof picks latest right row at-or-before left time, per key") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00"), "l1"),
      (2L, 10L, ts("2024-01-01 12:00:00"), "l2"),
      (3L, 20L, ts("2024-01-01 09:00:00"), "l3") // before any right row
    ).toDF("id", "k", "t", "tag")
    val right = Seq(
      (100L, 10L, ts("2024-01-01 09:30:00"), 1.5),
      (101L, 10L, ts("2024-01-01 11:00:00"), 2.5),
      (102L, 20L, ts("2024-01-01 09:30:00"), 3.5)
    ).toDF("rid", "k", "rt", "v")
    val out = AsofJoin.asof(left, right, "k", "t", "rt",
      rValues = Seq("rid", "v"), tiebreak = "rid")
      .orderBy("id")
      .collect()
    assert(out(0).getAs[Long]("asof_rid") == 100L)
    assert(out(1).getAs[Long]("asof_rid") == 101L)
    assert(out(2).isNullAt(out(2).fieldIndex("asof_rid"))) // no prior match
  }

  test("simultaneous right row is visible; ties resolve to largest tiebreak") {
    import spark.implicits._
    val left = Seq((1L, 5L, ts("2024-01-01 10:00:00"))).toDF("id", "k", "t")
    val right = Seq(
      (7L, 5L, ts("2024-01-01 10:00:00"), 1.0),
      (9L, 5L, ts("2024-01-01 10:00:00"), 2.0) // same instant, larger id wins
    ).toDF("rid", "k", "rt", "v")
    val out = AsofJoin.asof(left, right, "k", "t", "rt",
      rValues = Seq("rid", "v"), tiebreak = "rid").collect()
    assert(out(0).getAs[Long]("asof_rid") == 9L)
    assert(out(0).getAs[Double]("asof_v") == 2.0)
  }

  test("genuinely-null payload fields survive (no skip to older rows)") {
    import spark.implicits._
    val left = Seq((1L, 5L, ts("2024-01-01 10:00:00"))).toDF("id", "k", "t")
    val right = Seq(
      (7L, 5L, ts("2024-01-01 08:00:00"), Some(1.0)),
      (9L, 5L, ts("2024-01-01 09:00:00"), Option.empty[Double])
    ).toDF("rid", "k", "rt", "v")
    val out = AsofJoin.asof(left, right, "k", "t", "rt",
      rValues = Seq("rid", "v"), tiebreak = "rid").collect()
    // latest row (rid=9) matches even though its payload value is null
    assert(out(0).getAs[Long]("asof_rid") == 9L)
    assert(out(0).isNullAt(out(0).fieldIndex("asof_v")))
  }
}
