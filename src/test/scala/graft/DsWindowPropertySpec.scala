package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources._

/** Randomized semantics property for the Datastore ordered window: for
  * arbitrary null-bearing corpora, random pushed filters (including
  * inequality properties, which constrain the FIRST sort key under the
  * public single-inequality rule), random sort pairings — delegable
  * nulls-lowest ones and declining ones — plus random OFFSET/LIMIT, the
  * collected window must equal a direct filter→sort→slice model with a
  * unique-id tiebreak. Iterations where the sort leads with a
  * non-inequality property exercise the DECLINE arm (Spark polyfills);
  * the rest fully delegate order+offset+limit on the single-stream
  * scan. DsSourceSpec pins the wire shape; this pins the semantics
  * across the rule space. Seeded — deterministic. */
class DsWindowPropertySpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val rnd = new java.util.Random(20260819L)

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("seg", StringType),
    StructField("v", LongType)))

  private def corpus(n: Int): Seq[Array[Any]] = (0L until n.toLong).map { i =>
    Array[Any](i,
      if (rnd.nextInt(5) == 0) null else ("S" + ('A' + rnd.nextInt(4)).toChar),
      if (rnd.nextInt(6) == 0) null else java.lang.Long.valueOf(rnd.nextInt(50).toLong))
  }

  private def table(name: String, rows: Seq[Array[Any]], pageSize: Int): String = {
    LoopbackRestServer.register(name, schema, rows)
    val baseUrl = LoopbackRestServer.ensureStarted()
    LoopbackRestServer.failNext.set(0)
    WireEndpoints.register(DsEndpoint("dstest", name, schema,
      DsEndpointSpec(baseUrl, name, HttpRestConfig(pageSize = pageSize,
        retryBackoffMs = 5))))
    if (SourceRegistry.get("dstest").isEmpty)
      SourceRegistry.register(SourceDef("dstest",
        new java.io.File(sys.props("user.dir"), "target/graft-test/dstest").getPath,
        "json", "ds"))
    SourceRegistry.ensureCatalog(spark)
    s"${SourceRegistry.CatalogName}.dstest.$name"
  }

  private case class Key(col: String, asc: Boolean, nullsFirst: Boolean)

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

  test("random ordered windows equal the model across the inequality rule") {
    for (iter <- 1 to 30) {
      val rows = corpus(60 + rnd.nextInt(120))
      // page sizes down to 8 force result-set paging mid-window
      val tbl = table(s"dswprop$iter", rows, 8 + rnd.nextInt(57))
      val fieldOf = Map("id" -> 0, "seg" -> 1, "v" -> 2)

      val (filt, keep): (Option[Column], Array[Any] => Boolean) =
        rnd.nextInt(4) match {
          case 0 => (None, _ => true)
          case 1 => // inequality on v: delegation then requires v to lead
            val c = rnd.nextInt(50).toLong
            (Some(col("v") > c), r => r(2) != null &&
              r(2).asInstanceOf[java.lang.Long] > c)
          case 2 => (Some(col("seg") === "SA"), r => r(1) == "SA")
          case 3 =>
            val c = rnd.nextInt(150).toLong
            (Some(col("id") <= c), r => r(0).asInstanceOf[Long] <= c)
        }

      def randKey(c: String): Key = {
        val asc = rnd.nextBoolean()
        val nullsFirst = if (rnd.nextInt(4) > 0) asc else !asc
        Key(c, asc, nullsFirst)
      }
      val keys = (rnd.nextInt(3) match {
        case 0 => Seq(randKey("seg"))
        case 1 => Seq(randKey("v"))
        case 2 => Seq(randKey("seg"), randKey("v"))
      }) :+ Key("id", asc = true, nullsFirst = true)

      val offset = rnd.nextInt(9)
      val limit = 1 + rnd.nextInt(20)

      var df = spark.table(tbl)
      filt.foreach(f => df = df.filter(f))
      df = df.orderBy(keys.map(sortCol): _*)
      if (offset > 0) df = df.offset(offset)
      df = df.limit(limit).select("id")

      val got = df.collect().map(_.getLong(0)).toSeq
      val want = rows.filter(keep)
        .sortWith { (a, b) =>
          val c = keys.iterator
            .map(k => cmpOne(a(fieldOf(k.col)), b(fieldOf(k.col)), k))
            .find(_ != 0).getOrElse(0)
          c < 0
        }
        .slice(offset, offset + limit)
        .map(_(0).asInstanceOf[Long])
      assert(got == want,
        s"iter $iter keys=$keys offset=$offset limit=$limit filt=$filt:\n" +
          s" got=$got\nwant=$want")
    }
  }
}
