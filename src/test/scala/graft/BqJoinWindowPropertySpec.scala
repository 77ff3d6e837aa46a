package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources._

/** Randomized semantics property for the BigQuery full-statement
  * render: random fact/dim corpora (duplicate join keys on both sides,
  * null keys that must NOT meet under SQL equality, null-extended
  * outer rows) flow through random INNER/LEFT/RIGHT single-key
  * equi-joins composed with a random head — plain projection, an
  * aggregate over the join, or an ordered window over the join — at
  * page sizes small enough that every result pages through pageToken
  * reads of the materialized job. The wire answer must equal the SAME
  * Spark query over local copies of the corpora (engine-as-oracle:
  * identical semantics by construction, no wire), and the join must
  * have LEFT the engine (no Join node) in every iteration — the
  * full-statement identity covers all three compositions. Seeded —
  * deterministic. */
class BqJoinWindowPropertySpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val rnd = new java.util.Random(20260822L)

  private val factSchema = StructType(Seq(
    StructField("uid", LongType), StructField("id", LongType),
    StructField("bal", LongType)))
  private val dimSchema = StructType(Seq(
    StructField("dim_id", LongType), StructField("label", StringType)))

  private def factCorpus(n: Int): Seq[Array[Any]] = (0L until n.toLong).map { i =>
    Array[Any](i,
      if (rnd.nextInt(8) == 0) null else java.lang.Long.valueOf(rnd.nextInt(20).toLong),
      rnd.nextInt(100).toLong)
  }

  /** Unique labels; duplicate and null dim_ids. */
  private def dimCorpus(n: Int): Seq[Array[Any]] = (0L until n.toLong).map { i =>
    Array[Any](
      if (rnd.nextInt(8) == 0) null else java.lang.Long.valueOf(rnd.nextInt(20).toLong),
      s"L$i")
  }

  private def bqTable(name: String, schema: StructType, rows: Seq[Array[Any]],
      pageSize: Int): String = {
    LoopbackRestServer.registerBq(name, schema, rows)
    val baseUrl = LoopbackRestServer.ensureStarted()
    WireEndpoints.register(BqEndpoint("bqtest", name, schema,
      BqEndpointSpec(baseUrl, name,
        HttpRestConfig(pageSize = pageSize, retryBackoffMs = 5))))
    if (SourceRegistry.get("bqtest").isEmpty)
      SourceRegistry.register(SourceDef("bqtest",
        new java.io.File(sys.props("user.dir"), "target/graft-test/bqtest").getPath,
        "json", "bq"))
    SourceRegistry.ensureCatalog(spark)
    s"${SourceRegistry.CatalogName}.bqtest.$name"
  }

  private def local(schema: StructType, rows: Seq[Array[Any]]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row.fromSeq(r.toSeq)): _*), schema)

  private def canon(rows: Array[Row]): Seq[Seq[String]] =
    rows.map(_.toSeq.map(v => if (v == null) "<NULL>" else v.toString)).toSeq

  test("random join compositions equal the engine-as-oracle result") {
    val key = "spark.sql.optimizer.datasourceV2JoinPushdown"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      for (iter <- 1 to 18) {
        val facts = factCorpus(30 + rnd.nextInt(60))
        val dims = dimCorpus(6 + rnd.nextInt(12))
        val pageSize = 4 + rnd.nextInt(13)
        val ft = bqTable(s"bqprop_f$iter", factSchema, facts, pageSize)
        val dt = bqTable(s"bqprop_d$iter", dimSchema, dims, pageSize)
        val joinType = Seq("inner", "left", "right")(rnd.nextInt(3))
        val balCut = rnd.nextInt(100).toLong
        val arm = rnd.nextInt(3)

        // the window draw happens ONCE so wire and oracle see the same n
        val frozenLimit = 1 + rnd.nextInt(25)
        def buildFrozen(fact: DataFrame, dim: DataFrame): DataFrame = {
          val j = fact.filter(col("bal") < balCut)
            .join(dim, col("id") === col("dim_id"), joinType)
          arm match {
            case 0 => j.select("uid", "id", "bal", "label")
            case 1 => j.groupBy("label")
              .agg(count(lit(1)).as("n"), sum("bal").as("s"))
            case 2 => j.orderBy(col("uid").asc, col("label").asc)
              .limit(frozenLimit).select("uid", "label", "bal")
          }
        }

        val wire = buildFrozen(spark.table(ft), spark.table(dt))
        val plan = wire.queryExecution.executedPlan.toString
        assert(!plan.contains("Join"),
          s"iter $iter $joinType arm=$arm: the join must leave the engine:\n$plan")
        val got = canon(wire.collect())
        val want = canon(
          buildFrozen(local(factSchema, facts), local(dimSchema, dims)).collect())
        if (arm == 2) assert(got == want,
          s"iter $iter $joinType arm=$arm: ordered window differs:\n got=$got\nwant=$want")
        else assert(got.sortBy(_.mkString("|")) == want.sortBy(_.mkString("|")),
          s"iter $iter $joinType arm=$arm pageSize=$pageSize:\n" +
            s" got=${got.sortBy(_.mkString("|"))}\nwant=${want.sortBy(_.mkString("|"))}")
      }
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
