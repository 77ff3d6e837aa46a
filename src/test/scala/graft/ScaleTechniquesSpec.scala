package graft

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SkewJoin

/** The two shuffle-management techniques the 100 TB design leans on,
  * proven executable: bucketed tables eliminate the join shuffle
  * entirely, and salted joins split hot keys across reducers while
  * returning exactly the plain join's rows.
  */
class ScaleTechniquesSpec extends AnyFunSuite {

  // The test JVM shares one SparkSession across suites (getOrCreate),
  // so no builder confs here: anything this suite needs is set at
  // runtime inside the test and restored — builder confs would either
  // be ignored (session already exists) or leak into other suites.
  lazy val spark: SparkSession = TestSpark.session

  private val sfDir = "/root/testdata/sf0.001"

  private def collectAll[A](p: SparkPlan)(pf: PartialFunction[SparkPlan, A]): Seq[A] = {
    val self = if (pf.isDefinedAt(p)) Seq(pf(p)) else Nil
    val below = p match {
      case a: AdaptiveSparkPlanExec => collectAll(a.executedPlan)(pf)
      case q: QueryStageExec => collectAll(q.plan)(pf)
      case other => other.children.flatMap(collectAll(_)(pf))
    }
    self ++ below
  }

  test("bucketed tables join without a shuffle exchange") {
    val wh = new File(sys.props("user.dir"), "target/graft-warehouse")
    val oldThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
      graft.core.Tables.load(spark, sfDir, "orders")
        .write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
        .option("path", new File(wh, "b_orders").getPath)
        .mode("overwrite").saveAsTable("b_orders")
      graft.core.Tables.load(spark, sfDir, "lineitem")
        .write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
        .option("path", new File(wh, "b_lineitem").getPath)
        .mode("overwrite").saveAsTable("b_lineitem")
      val joined = spark.table("b_orders")
        .join(spark.table("b_lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderstatus").count()
      joined.collect()
      val shuffles = collectAll(joined.queryExecution.executedPlan) {
        case s: ShuffleExchangeExec => s
      }
      // the bucket layout co-locates both sides: the only exchange allowed
      // is the one for the final single-key aggregation, never the join
      assert(shuffles.size <= 1,
        s"bucketed join still shuffles:\n${joined.queryExecution.executedPlan}")
      spark.sql("DROP TABLE b_orders")
      spark.sql("DROP TABLE b_lineitem")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldThreshold)
  }

  test("salted join returns exactly the plain join's result") {
    import spark.implicits._
    // hot key: 90% of left rows share key 1
    val left = ((1 to 900).map(i => (1L, i.toLong)) ++
      (1 to 100).map(i => (i.toLong % 7 + 2, 1000L + i))).toDF("k", "lid")
    val right = (1L to 10L).map(k => (k, s"dim_$k")).toDF("k", "payload")
    val salted = SkewJoin.saltedJoin(left, right, "k", "lid", 8)
      .orderBy("lid").collect().map(r => (r.getLong(1), r.getString(2))).toSeq
    val plain = left.join(right, "k")
      .orderBy("lid").collect().map(r => (r.getLong(1), r.getString(2))).toSeq
    assert(salted == plain)
    assert(salted.size == 1000)
  }

  test("grouped two-pass prefix sum equals the per-group window, without its single-task shape") {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.GroupedPrefixSum
    import spark.implicits._
    // skewed groups: one dominant group (the 100 TB failure mode for
    // Window.partitionBy) plus several small ones
    val rows = (1 to 2000).map(i => (if (i % 10 == 0) s"g${i % 4}" else "big",
      i.toLong, (i % 13 + 1).toLong))
    val df = rows.toDF("g", "id", "v").repartition(7)
    val twoPass = GroupedPrefixSum
      .runningSum(df, Seq("g"), Seq(col("id")), col("v"), "run")
      .select("g", "id", "run").orderBy("g", "id").collect().toSeq
    val w = Window.partitionBy("g").orderBy("id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = df.withColumn("run", sum("v").over(w))
      .select("g", "id", "run").orderBy("g", "id").collect().toSeq
    assert(twoPass == naive)
  }

  test("prefix sum and top-N treat a NULL group key as one group (window semantics)") {
    import graft.operators.{GroupedPrefixSum, GroupedTopN}
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // every third row has a NULL group — plain equality in the offset
    // join would silently drop them (NULL != NULL)
    val rows = (1 to 300).map(i =>
      (if (i % 3 == 0) null else s"g${i % 4}", i.toLong, (i % 7 + 1).toLong))
    val df = rows.toDF("g", "id", "v").repartition(5)
    val twoPass = GroupedPrefixSum
      .runningSum(df, Seq("g"), Seq(col("id")), col("v"), "run")
      .select("g", "id", "run").orderBy(col("g").asc_nulls_first, col("id"))
      .collect().toSeq
    val w = Window.partitionBy("g").orderBy("id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = df.withColumn("run", sum("v").over(w))
      .select("g", "id", "run").orderBy(col("g").asc_nulls_first, col("id"))
      .collect().toSeq
    assert(twoPass.size == 300, s"rows with NULL group were dropped: ${twoPass.size}")
    assert(twoPass == naive)
    val capped = GroupedTopN.topN(df, Seq("g"), Seq(col("id")), 7)
    assert(capped.filter(col("g").isNull).count() == 7)
  }

  test("grouped top-N equals the per-group window cap, without its single-task shape") {
    import graft.operators.GroupedTopN
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // dominant group + small groups, unique tiebreaker (id)
    val rows = (1 to 2000).map(i => (if (i % 10 == 0) s"g${i % 4}" else "big", i.toLong))
    val df = rows.toDF("g", "id").repartition(7)
    val twoPhase = GroupedTopN.topN(df, Seq("g"), Seq(col("id").desc), 15)
      .select("g", "id").orderBy("g", "id").collect().toSeq
    val w = Window.partitionBy("g").orderBy(col("id").desc)
    val naive = df.withColumn("r", row_number().over(w)).filter(col("r") <= 15)
      .select("g", "id").orderBy("g", "id").collect().toSeq
    assert(twoPhase == naive)
    assert(twoPhase.count(_.getString(0) == "big") == 15)
  }

  test("CC loop survives losing every cached block mid-run (lineage-backed persist)") {
    import spark.implicits._
    // a chain (converges slowly — multiple label-propagation rounds), a
    // triangle, and implicit singletons from the node frame
    val chain = (0L until 10L).sliding(2).map(s => (s(0), s(1))).toSeq
    val tri = Seq((100L, 101L), (101L, 102L), (100L, 102L))
    val pairs = (chain ++ tri).toDF("doc_a", "doc_b")
    val nodes = ((0L until 10L) ++ Seq(100L, 101L, 102L) ++ Seq(500L, 501L))
      .toDF("doc_id")
    val expected =
      ((0L until 10L).map(_ -> 0L) ++ Seq(100L, 101L, 102L).map(_ -> 100L) ++
        Seq(500L -> 500L, 501L -> 501L)).sortBy(_._1)
    // executor loss == cached blocks vanish: drop EVERY persisted block
    // once several stages into the loop; lineage must recompute the lost
    // rounds instead of failing or corrupting labels
    @volatile var dropped = false
    var stages = 0
    val saboteur = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages += 1
        if (stages == 8 && !dropped) {
          dropped = true
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
        }
      }
    }
    spark.sparkContext.addSparkListener(saboteur)
    try {
      // localThreshold=0 forces the distributed RDD loop (the scale path)
      val got = graft.queries.Dedup
        .connectedComponents(nodes, pairs, maxIter = 20, localThreshold = 0L)
        .as[(Long, Long)].collect().toSeq.sortBy(_._1)
      assert(dropped, s"saboteur never fired (only $stages stages) — test proved nothing")
      assert(got == expected, s"labels corrupted after block loss: $got")
    } finally spark.sparkContext.removeSparkListener(saboteur)
  }
}
