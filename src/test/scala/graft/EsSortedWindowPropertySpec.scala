package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources._

/** Randomized semantics property for the ES sorted-search window (the
  * plain-scan TopN arm, distinct from the composite aggregate arm):
  * random null-bearing corpora, random pushed filters, 1-2 sort keys
  * in ANY of the four direction x null-placement combos (ES serves all
  * four exactly via explicit `missing` `_first`/`_last`), and page
  * sizes small enough that the window spans several sorted-search
  * pages — the collected window must equal a direct
  * filter→sort→take model with a unique-id tiebreak. Seeded —
  * deterministic. */
class EsSortedWindowPropertySpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val rnd = new java.util.Random(20260821L)

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
    val base = LoopbackRestServer.ensureStarted()
    WireEndpoints.register(EsEndpoint("estest", name, schema,
      EsEndpointSpec(base, name,
        HttpRestConfig(pageSize = pageSize, retryBackoffMs = 5))))
    if (SourceRegistry.get("estest").isEmpty)
      SourceRegistry.register(SourceDef("estest",
        new java.io.File(sys.props("user.dir"), "target/graft-test/estest").getPath,
        "json", "es"))
    SourceRegistry.ensureCatalog(spark)
    s"${SourceRegistry.CatalogName}.estest.$name"
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

  test("random sorted-search windows equal the model in all four combos") {
    for (iter <- 1 to 30) {
      val rows = corpus(60 + rnd.nextInt(120))
      // pages far smaller than the window force multi-page sorted reads
      val tbl = table(s"essortprop$iter", rows, 4 + rnd.nextInt(13))
      val fieldOf = Map("id" -> 0, "seg" -> 1, "v" -> 2)

      val (filt, keep): (Option[Column], Array[Any] => Boolean) =
        rnd.nextInt(3) match {
          case 0 => (None, _ => true)
          case 1 =>
            val c = rnd.nextInt(50).toLong
            (Some(col("v") > c), r => r(2) != null &&
              r(2).asInstanceOf[java.lang.Long] > c)
          case 2 => (Some(col("seg") === "SA"), r => r(1) == "SA")
        }

      def randKey(c: String): Key = Key(c, rnd.nextBoolean(), rnd.nextBoolean())
      val keys = (rnd.nextInt(3) match {
        case 0 => Seq(randKey("seg"))
        case 1 => Seq(randKey("v"))
        case 2 => Seq(randKey("seg"), randKey("v"))
      }) :+ Key("id", asc = true, nullsFirst = true)
      val limit = 1 + rnd.nextInt(40)

      var df = spark.table(tbl)
      filt.foreach(f => df = df.filter(f))
      val got = df.orderBy(keys.map(sortCol): _*).limit(limit).select("id")
        .collect().map(_.getLong(0)).toSeq
      val want = rows.filter(keep)
        .sortWith { (a, b) =>
          keys.iterator
            .map(k => cmpOne(a(fieldOf(k.col)), b(fieldOf(k.col)), k))
            .find(_ != 0).getOrElse(0) < 0
        }
        .take(limit)
        .map(_(0).asInstanceOf[Long])
      assert(got == want,
        s"iter $iter keys=$keys limit=$limit filt=$filt:\n got=$got\nwant=$want")
    }
  }
}
