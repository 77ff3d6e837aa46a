package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Adaptive Query Execution contract: the engine's sessions run with AQE
  * (Spark's default since 3.2) — runtime partition coalescing and skew
  * splitting are part of the 100 TB design — so this spec pins (a) AQE is
  * actually live in the sessions the gates use, (b) adaptive re-planning
  * never perturbs a query result vs the static plan, across one query per
  * major family, and (c) the fixed shuffle.partitions setting really is
  * being coalesced at execution time (the static 32 is a ceiling, not a
  * hand-tuned constant).
  */
class AqeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private val sfDir = "/root/testdata/sf0.01"

  test("AQE is enabled in the engine's sessions") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
  }

  test("adaptive re-planning does not perturb any family's results") {
    // one representative per family: scan+agg, multi-join, salted skew
    // join, global-window rank, two-pass prefix sum (checkpointed)
    val names = Seq("q1_agg", "q3_shipping", "q_skew_join",
      "q_window_rank", "q_curation_mix")
    for (name <- names) {
      val on = SparkEntry.queries(name)(spark, sfDir)
        .collect().map(_.toString).toSeq
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val off = SparkEntry.queries(name)(spark, sfDir)
          .collect().map(_.toString).toSeq
        assert(on == off, s"$name diverges under AQE")
        assert(on.nonEmpty, name)
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.sharedState.cacheManager.clearCache()
    }
  }

  test("AQE coalesces the static shuffle partition count at runtime") {
    val df = SparkEntry.queries("q1_agg")(spark, sfDir)
    df.collect() // final adaptive plan exists only after execution
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AdaptiveSparkPlan isFinalPlan=true"), p)
    assert(p.contains("AQEShuffleRead"), p)
  }
}
