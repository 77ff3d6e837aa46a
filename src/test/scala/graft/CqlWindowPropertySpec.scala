package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources._

/** Randomized semantics property for the CQL clustering-order window:
  * random corpora over (partition key, two clustering keys), random
  * window shapes crossing every arm of the single-partition rule —
  * pk-bound clustering-prefix sorts in a uniform direction (pushed as
  * CQL ORDER BY ... LIMIT), mixed-direction sorts (declined: CQL has
  * no mixed-direction ORDER BY over ASC-declared clustering), unbound
  * partition keys (declined: the server refuses ORDER BY without the
  * partition restricted), and residual non-key filters (polyfilled) —
  * asserting the collected window equals a direct model. ck1 is unique
  * within each partition so every tested ordering is total. Page sizes
  * randomize down to a few rows per page, exercising the paging-state
  * resume mid-window. Seeded — deterministic. */
class CqlWindowPropertySpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val rnd = new java.util.Random(20260820L)

  private val schema = StructType(Seq(
    StructField("seg", StringType), StructField("ck1", LongType),
    StructField("ck2", LongType), StructField("v", LongType)))

  private val Parts = Seq("PA", "PB", "PC")

  /** ck1 unique within each partition — every tested sort is total. */
  private def corpus(): Seq[Array[Any]] = {
    val rows = Parts.flatMap { p =>
      val n = 8 + rnd.nextInt(25)
      val ck1s = rnd.ints(0, 200).distinct().limit(n.toLong).toArray
      ck1s.toSeq.map { c1 =>
        Array[Any](p, c1.toLong, rnd.nextInt(10).toLong,
          if (rnd.nextInt(6) == 0) null else java.lang.Long.valueOf(rnd.nextInt(50).toLong))
      }
    }
    // insertion order is NOT clustering order: the server must sort
    rnd.ints(0, rows.size).distinct().limit(rows.size.toLong)
      .toArray.toSeq.map(rows(_))
  }

  private def table(name: String, rows: Seq[Array[Any]], pageSize: Int): String = {
    LoopbackCqlServer.register(name, schema, Seq("seg"), Seq("ck1", "ck2"), rows)
    val (host, port) = LoopbackCqlServer.ensureStarted()
    LoopbackCqlServer.failNext.set(0)
    WireEndpoints.register(CqlEndpoint("cqltest", name, schema,
      Seq("seg"), Seq("ck1", "ck2"),
      CqlEndpointSpec(host, port, name,
        CqlClientConfig(pageSize = pageSize, retryBackoffMs = 5))))
    if (SourceRegistry.get("cqltest").isEmpty)
      SourceRegistry.register(SourceDef("cqltest",
        new java.io.File(sys.props("user.dir"), "target/graft-test/cqltest").getPath,
        "json", "cql"))
    SourceRegistry.ensureCatalog(spark)
    s"${SourceRegistry.CatalogName}.cqltest.$name"
  }

  private case class Key(field: Int, asc: Boolean)

  private def cmpOne(x: Any, y: Any, asc: Boolean): Int = (x, y) match {
    case (p: String, q: String) =>
      val c = p.compareTo(q); if (asc) c else -c
    case (p: java.lang.Long, q: java.lang.Long) =>
      val c = p.compareTo(q); if (asc) c else -c
    case other => sys.error(s"unexpected pair $other")
  }

  private def model(rows: Seq[Array[Any]], keep: Array[Any] => Boolean,
      keys: Seq[Key], limit: Int): Seq[(String, Long)] =
    rows.filter(keep).sortWith { (a, b) =>
      keys.iterator.map(k => cmpOne(a(k.field), b(k.field), k.asc))
        .find(_ != 0).getOrElse(0) < 0
    }.take(limit).map(r => (r(0).asInstanceOf[String], r(1).asInstanceOf[Long]))

  test("random clustering windows equal the model across the rule space") {
    val names = Seq("seg", "ck1", "ck2", "v")
    for (iter <- 1 to 24) {
      val rows = corpus()
      val tbl = table(s"cqlwprop$iter", rows, 4 + rnd.nextInt(29))
      val limit = 1 + rnd.nextInt(15)
      val part = Parts(rnd.nextInt(Parts.size))
      val inPart: Array[Any] => Boolean = _(0) == part

      def run(df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row])
          : Seq[(String, Long)] =
        df.limit(limit).select("seg", "ck1").collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq

      def ord(k: Key): Column = {
        val c = col(names(k.field)); if (k.asc) c.asc else c.desc
      }

      val arm = rnd.nextInt(4)
      val (got, want) = arm match {
        case 0 =>
          // pushed: pk bound, clustering prefix, uniform direction
          val asc = rnd.nextBoolean()
          val keys =
            if (rnd.nextBoolean()) Seq(Key(1, asc))
            else Seq(Key(1, asc), Key(2, asc))
          (run(spark.table(tbl).filter(col("seg") === part)
             .orderBy(keys.map(ord): _*)),
           model(rows, inPart, keys, limit))
        case 1 =>
          // declined: mixed direction over the clustering pair
          val keys = Seq(Key(1, asc = true), Key(2, asc = false))
          (run(spark.table(tbl).filter(col("seg") === part)
             .orderBy(keys.map(ord): _*)),
           model(rows, inPart, keys, limit))
        case 2 =>
          // declined: unbound partition key (server would refuse)
          val asc = rnd.nextBoolean()
          val keys = Seq(Key(1, asc), Key(0, asc = true))
          (run(spark.table(tbl).orderBy(keys.map(ord): _*)),
           model(rows, _ => true, keys, limit))
        case 3 =>
          // residual non-key filter polyfills; window stays engine-side
          val c = rnd.nextInt(50).toLong
          val asc = rnd.nextBoolean()
          val keys = Seq(Key(1, asc))
          val keep: Array[Any] => Boolean = r => inPart(r) && r(3) != null &&
            r(3).asInstanceOf[java.lang.Long] > c
          (run(spark.table(tbl).filter(col("seg") === part && col("v") > c)
             .orderBy(keys.map(ord): _*)),
           model(rows, keep, keys, limit))
      }
      assert(got == want,
        s"iter $iter arm=$arm part=$part limit=$limit:\n got=$got\nwant=$want")
    }
  }
}
