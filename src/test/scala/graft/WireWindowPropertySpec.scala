package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources._

/** Randomized semantics property for the ordered windows the wire scans
  * delegate, one descriptor per backend. For arbitrary null-bearing
  * corpora, page or cursor-batch sizes small enough that a window spans
  * several pages, random pushed filters, 1-2 sort keys and a random
  * OFFSET and LIMIT, the collected window must equal a direct model
  * (filter → total-order sort → drop(offset) → take(limit)). A unique
  * non-null id rides every sort as the tiebreak so the window is
  * deterministic.
  *
  * Per backend:
  *  - Mongo and Datastore draw 3 of 4 keys in their native nulls-lowest
  *    pairing (ASC NULLS FIRST / DESC NULLS LAST: fully delegated on a
  *    single-stream scan) and 1 of 4 in a declining one (Spark
  *    poly-fills). Datastore's inequality filters also constrain the
  *    FIRST sort key, so iterations that lead with another property
  *    exercise the decline arm.
  *  - ES and BigQuery serve all four direction × null-order combos (ES by
  *    an explicit `missing`, BigQuery by `NULLS FIRST|LAST`) and draw
  *    them uniformly. ES pushes no offset.
  *
  * The connector specs pin the wire shape; this pins the window
  * semantics across the rule space around it. Seeded per backend —
  * deterministic. */
class WireWindowPropertySpec extends AnyFunSuite {
  import WireWindowPropertySpec._

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("seg", StringType),
    StructField("v", LongType)))

  /** Registers the connector's source in the catalog once. */
  private def catalogTable(source: String, kind: String, name: String): String = {
    if (SourceRegistry.get(source).isEmpty)
      SourceRegistry.register(SourceDef(source,
        new java.io.File(sys.props("user.dir"), s"target/graft-test/$source").getPath,
        "json", kind))
    SourceRegistry.ensureCatalog(spark)
    s"${SourceRegistry.CatalogName}.$source.$name"
  }

  private def http(page: Int) = HttpRestConfig(pageSize = page, retryBackoffMs = 5)

  private val backends = Seq(
    Backend("mongo", 20260818L, "mongowprop", pageMin = 8, pageSpread = 57, filters = 4,
      nullsLowestKey, offsets = true, limitMax = 20, (name, rows, batch) => {
        LoopbackMongoServer.register(name, schema, rows)
        val (host, port) = LoopbackMongoServer.ensureStarted()
        LoopbackMongoServer.failNext.set(0)
        LoopbackMongoServer.delayMs.set(0)
        WireEndpoints.register(MongoEndpoint("mongotest", name, schema,
          MongoEndpointSpec(host, port, LoopbackMongoServer.Db, name,
            MongoClientConfig(batchSize = batch, retryBackoffMs = 5))))
        catalogTable("mongotest", "mongo", name)
      }),
    Backend("ds", 20260819L, "dswprop", pageMin = 8, pageSpread = 57, filters = 4,
      nullsLowestKey, offsets = true, limitMax = 20, (name, rows, page) => {
        LoopbackRestServer.register(name, schema, rows)
        val baseUrl = LoopbackRestServer.ensureStarted()
        LoopbackRestServer.failNext.set(0)
        WireEndpoints.register(DsEndpoint("dstest", name, schema,
          DsEndpointSpec(baseUrl, name, http(page))))
        catalogTable("dstest", "ds", name)
      }),
    Backend("es", 20260821L, "essortprop", pageMin = 4, pageSpread = 13, filters = 3,
      anyKey, offsets = false, limitMax = 40, (name, rows, page) => {
        LoopbackRestServer.register(name, schema, rows)
        val base = LoopbackRestServer.ensureStarted()
        WireEndpoints.register(EsEndpoint("estest", name, schema,
          EsEndpointSpec(base, name, http(page))))
        catalogTable("estest", "es", name)
      }),
    Backend("bq", 20260828L, "bqwprop", pageMin = 8, pageSpread = 57, filters = 4,
      anyKey, offsets = true, limitMax = 20, (name, rows, page) => {
        LoopbackRestServer.registerBq(name, schema, rows)
        val baseUrl = LoopbackRestServer.ensureStarted()
        LoopbackRestServer.failNext.set(0)
        WireEndpoints.register(BqEndpoint("bqtest", name, schema,
          BqEndpointSpec(baseUrl, name, http(page))))
        catalogTable("bqtest", "bq", name)
      }))

  private def sortCol(k: Key): Column = (k: @unchecked) match {
    case Key(c, true, true) => col(c).asc_nulls_first
    case Key(c, true, false) => col(c).asc_nulls_last
    case Key(c, false, true) => col(c).desc_nulls_first
    case Key(c, false, false) => col(c).desc_nulls_last
  }

  private def cmpOne(x: Any, y: Any, k: Key): Int = (x, y) match {
    case (null, null) => 0
    case (null, _) => if (k.nullsFirst) -1 else 1
    case (_, null) => if (k.nullsFirst) 1 else -1
    case (p: String, q: String) =>
      val c = p.compareTo(q); if (k.asc) c else -c
    case (p: java.lang.Long, q: java.lang.Long) =>
      val c = p.compareTo(q); if (k.asc) c else -c
    case other => sys.error(s"unexpected pair $other")
  }

  private val fieldOf = Map("id" -> 0, "seg" -> 1, "v" -> 2)

  for (b <- backends)
    test(s"${b.name}: random windows equal the model") {
      val rnd = new java.util.Random(b.seed)
      def corpus(n: Int): Seq[Array[Any]] = (0L until n.toLong).map { i =>
        Array[Any](i,
          if (rnd.nextInt(5) == 0) null else ("S" + ('A' + rnd.nextInt(4)).toChar),
          if (rnd.nextInt(6) == 0) null else java.lang.Long.valueOf(rnd.nextInt(50).toLong))
      }
      for (iter <- 1 to 30) {
        val rows = corpus(60 + rnd.nextInt(120))
        val tbl = b.register(s"${b.tablePrefix}$iter", rows,
          b.pageMin + rnd.nextInt(b.pageSpread))

        // random pushed filter (all compile to the wire; 3VL: null drops);
        // an inequality on v makes Datastore require v to lead the sort
        val (filt, keep): (Option[Column], Array[Any] => Boolean) =
          rnd.nextInt(b.filters) match {
            case 0 => (None, _ => true)
            case 1 =>
              val c = rnd.nextInt(50).toLong
              (Some(col("v") > c), r => r(2) != null &&
                r(2).asInstanceOf[java.lang.Long] > c)
            case 2 => (Some(col("seg") === "SA"), r => r(1) == "SA")
            case 3 =>
              val c = rnd.nextInt(150).toLong
              (Some(col("id") <= c), r => r(0).asInstanceOf[Long] <= c)
          }

        // 1-2 sort keys over seg/v; id asc tiebreaks
        val keys = (rnd.nextInt(3) match {
          case 0 => Seq(b.randKey("seg", rnd))
          case 1 => Seq(b.randKey("v", rnd))
          case 2 => Seq(b.randKey("seg", rnd), b.randKey("v", rnd))
        }) :+ Key("id", asc = true, nullsFirst = true)

        val offset = if (b.offsets) rnd.nextInt(9) else 0
        val limit = 1 + rnd.nextInt(b.limitMax)

        var df = spark.table(tbl)
        filt.foreach(f => df = df.filter(f))
        df = df.orderBy(keys.map(sortCol): _*)
        if (offset > 0) df = df.offset(offset)
        df = df.limit(limit).select("id")

        val got = df.collect().map(_.getLong(0)).toSeq
        val want = rows.filter(keep)
          .sortWith { (a, b) =>
            keys.iterator
              .map(k => cmpOne(a(fieldOf(k.col)), b(fieldOf(k.col)), k))
              .find(_ != 0).getOrElse(0) < 0
          }
          .slice(offset, offset + limit)
          .map(_(0).asInstanceOf[Long])
        assert(got == want,
          s"${b.name} iter $iter keys=$keys offset=$offset limit=$limit filt=$filt:\n" +
            s" got=$got\nwant=$want")
      }
    }
}

object WireWindowPropertySpec {

  /** (column, ascending, nullsFirst) */
  final case class Key(col: String, asc: Boolean, nullsFirst: Boolean)

  /** 3 of 4 draws in the nulls-lowest pairing (nullsFirst == asc), 1 of 4
    * in the other. */
  val nullsLowestKey: (String, java.util.Random) => Key = (c, rnd) => {
    val asc = rnd.nextBoolean()
    Key(c, asc, if (rnd.nextInt(4) > 0) asc else !asc)
  }

  /** All four direction × null-order combos, uniformly. */
  val anyKey: (String, java.util.Random) => Key =
    (c, rnd) => Key(c, rnd.nextBoolean(), rnd.nextBoolean())

  /** One wire backend under the property: its seed, its tables' name
    * prefix, the page (or cursor-batch) size range `pageMin +
    * nextInt(pageSpread)`, how many of the filter shapes it draws from,
    * its key draw, whether it draws an offset, the limit range and how it
    * registers a table (name, rows, page size → catalog name). */
  final case class Backend(name: String, seed: Long, tablePrefix: String,
      pageMin: Int, pageSpread: Int, filters: Int,
      randKey: (String, java.util.Random) => Key, offsets: Boolean, limitMax: Int,
      register: (String, Seq[Array[Any]], Int) => String)
}
