package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources._

/** Randomized property for the ordered-window soundness rule of
  * [[WireRuntimeFilter]], on every wire scan that takes runtime
  * semi-join keys: a broadcast dim join above a plain fact scan may ship
  * the build-side keys into the request (the 100 TB fact-scan reducer),
  * but above a DELEGATED window (`ORDER BY ... LIMIT` / `OFFSET` pushed
  * to the server) the scan must REFUSE runtime filtering — a server that
  * applies the join keys before the window returns top-n of the filtered
  * subset, which joins into rows the true result cannot contain. Random
  * dim key sets (some matching rows inside the window, some outside it,
  * some matching nothing) drive every arm; every result must equal the
  * same query over a local copy of the corpus (engine-as-oracle: window
  * FIRST, then join). Backends with a static key-range arm also check
  * that runtime keys INTERSECT the static row set rather than widen it.
  * Seeded per backend — deterministic. */
class WireRuntimeFilterPropertySpec extends AnyFunSuite {
  import WireRuntimeFilterPropertySpec._

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def seg(rnd: java.util.Random): Any =
    if (rnd.nextInt(5) == 0) null else "S" + ('A' + rnd.nextInt(4)).toChar

  private val idSegV = StructType(Seq(
    StructField("id", LongType), StructField("seg", StringType),
    StructField("v", LongType)))
  private val idSegVRow: (Long, java.util.Random) => Array[Any] =
    (i, rnd) => Array[Any](i, seg(rnd), rnd.nextInt(50).toLong)

  private def windowsBy(by: String, pin: Boolean = false): Seq[Arm] =
    Seq(Plain, Window(by, offset = false, pin), Window(by, offset = true, pin))

  /** Registers the connector's source in the catalog once. */
  private def catalogTable(source: String, kind: String, name: String): String = {
    if (SourceRegistry.get(source).isEmpty)
      SourceRegistry.register(SourceDef(source,
        new java.io.File(sys.props("user.dir"), s"target/graft-test/$source").getPath,
        "json", kind))
    SourceRegistry.ensureCatalog(spark)
    s"${SourceRegistry.CatalogName}.$source.$name"
  }

  private val backends = Seq(
    Backend("mongo", 20260823L, 14, idSegV, idSegVRow, "id", identity,
      windowsBy("id"), staticCut = false, (name, schema, rows) => {
        LoopbackMongoServer.register(name, schema, rows)
        val (host, port) = LoopbackMongoServer.ensureStarted()
        LoopbackMongoServer.failNext.set(0)
        LoopbackMongoServer.delayMs.set(0)
        WireEndpoints.register(MongoEndpoint("mongotest", name, schema,
          MongoEndpointSpec(host, port, LoopbackMongoServer.Db, name,
            MongoClientConfig(batchSize = 64, retryBackoffMs = 5))))
        catalogTable("mongotest", "mongo", name)
      }),
    Backend("es", 20260824L, 14, idSegV, idSegVRow, "id", identity,
      windowsBy("id"), staticCut = false, (name, schema, rows) => {
        LoopbackRestServer.register(name, schema, rows)
        val base = LoopbackRestServer.ensureStarted()
        WireEndpoints.register(EsEndpoint("estest", name, schema,
          EsEndpointSpec(base, name, HttpRestConfig(pageSize = 16, retryBackoffMs = 5))))
        catalogTable("estest", "es", name)
      }),
    Backend("bigtable", 20260825L, 14,
      StructType(Seq(StructField("k", StringType), StructField("id", LongType),
        StructField("seg", StringType))),
      (i, rnd) => Array[Any](f"row#$i%05d", i, seg(rnd)),
      "k", c => format_string("row#%05d", c), windowsBy("k"), staticCut = true,
      (name, schema, rows) => {
        LoopbackRestServer.registerBt(name, schema, "k", rows)
        val baseUrl = LoopbackRestServer.ensureStarted()
        LoopbackRestServer.failNext.set(0)
        WireEndpoints.register(BtEndpoint("bttest", name, schema, "k",
          BtEndpointSpec(baseUrl, name, "k",
            HttpRestConfig(pageSize = 16, retryBackoffMs = 5))))
        catalogTable("bttest", "bt", name)
      }),
    // partition key id (three rows per partition), clustering key ck
    Backend("cql", 20260826L, 14,
      StructType(Seq(StructField("id", LongType), StructField("ck", LongType),
        StructField("seg", StringType))),
      (i, rnd) => Array[Any](i / 3, i, seg(rnd)),
      "id", identity, windowsBy("ck", pin = true), staticCut = true,
      (name, schema, rows) => {
        LoopbackCqlServer.register(name, schema, Seq("id"), Seq("ck"), rows)
        val (host, port) = LoopbackCqlServer.ensureStarted()
        LoopbackCqlServer.failNext.set(0)
        WireEndpoints.register(CqlEndpoint("cqltest", name, schema, Seq("id"), Seq("ck"),
          CqlEndpointSpec(host, port, name,
            CqlClientConfig(pageSize = 16, retryBackoffMs = 5))))
        catalogTable("cqltest", "cql", name)
      }),
    Backend("bq", 20260827L, 14, idSegV, idSegVRow, "id", identity,
      windowsBy("id"), staticCut = true, (name, schema, rows) => {
        LoopbackRestServer.registerBq(name, schema, rows)
        val baseUrl = LoopbackRestServer.ensureStarted()
        WireEndpoints.register(BqEndpoint("bqtest", name, schema,
          BqEndpointSpec(baseUrl, name, HttpRestConfig(pageSize = 16, retryBackoffMs = 5))))
        catalogTable("bqtest", "bq", name)
      }))

  private def canon(rows: Array[Row]): Seq[String] =
    rows.map(_.toSeq.map(v => if (v == null) "<NULL>" else v.toString)
      .mkString("|")).toSeq.sorted

  for (b <- backends)
    test(s"${b.name}: runtime keys compose with windows by windowing first") {
      val rnd = new java.util.Random(b.seed)
      for (iter <- 1 to b.iters) {
        val n = 40 + rnd.nextInt(80)
        val rows = (0L until n.toLong).map(b.row(_, rnd))
        val tbl = b.register(s"${b.name}rfprop$iter", b.schema, rows)

        // random selective dim over range() so the filter survives
        // optimization and the broadcast side carries live keys
        val keyCount = 1 + rnd.nextInt(6)
        val keys = Seq.fill(keyCount)(rnd.nextInt(n + 10).toLong).distinct
        def dim() = spark.range(0, (n + 10).toLong)
          .filter(col("id").isin(keys: _*))
          .select(b.keyOf(col("id")).as("dk"))

        val arm = b.arms(rnd.nextInt(b.arms.size))
        val k = 1 + rnd.nextInt(15)
        val off = 1 + rnd.nextInt(6)
        val desc = rnd.nextBoolean()
        val lowCut: Option[Long] =
          if (b.staticCut && arm == Plain && rnd.nextBoolean()) Some(rnd.nextInt(n).toLong)
          else None

        def build(fact: DataFrame): DataFrame = {
          val base = lowCut.fold(fact)(c => fact.filter(col(b.key) >= b.keyOf(lit(c))))
          val sub = arm match {
            case Plain => base
            case Window(by, offset, pin) =>
              val part =
                if (pin) base.filter(col(b.key) === b.keyOf(lit(keys.head))) else base
              val sorted = part.orderBy(if (desc) col(by).desc else col(by))
              if (offset) sorted.offset(off).limit(k) else sorted.limit(k)
          }
          sub.join(broadcast(dim()), col(b.key) === col("dk"))
            .select(b.schema.fieldNames.toSeq.map(col): _*)
        }

        val local = spark.createDataFrame(
          java.util.Arrays.asList(rows.map(r => Row.fromSeq(r.toSeq)): _*), b.schema)
        val got = canon(build(spark.table(tbl)).collect())
        val want = canon(build(local).collect())
        assert(got == want,
          s"${b.name} iter $iter arm=$arm keys=$keys k=$k off=$off desc=$desc " +
            s"lowCut=$lowCut:\n got=$got\nwant=$want")
      }
    }
}

object WireRuntimeFilterPropertySpec {

  /** A fact-side subquery the dim joins onto. */
  sealed trait Arm
  case object Plain extends Arm
  /** `ORDER BY by [OFFSET] LIMIT`, delegated to the server; `pin` first
    * EQ-binds the join key to one dim key (CQL pushes an ORDER BY only
    * inside one partition). */
  final case class Window(by: String, offset: Boolean, pin: Boolean = false)
    extends Arm

  /** One wire backend under the property. `keyOf` maps a dim id to the
    * fact's join-key value; `staticCut` adds a random static lower bound
    * on the key to some plain-arm iterations. */
  final case class Backend(name: String, seed: Long, iters: Int,
      schema: StructType, row: (Long, java.util.Random) => Array[Any],
      key: String, keyOf: Column => Column, arms: Seq[Arm], staticCut: Boolean,
      register: (String, StructType, Seq[Array[Any]]) => String)
}
