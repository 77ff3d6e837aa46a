package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources._

/** Randomized window properties of the wire scans, one descriptor per
  * backend: a seed and the named properties drawn, in order, from that
  * one seeded stream — deterministic.
  *
  * Mongo, Datastore, ES and BigQuery share one semantics property. For
  * arbitrary null-bearing corpora, page or cursor-batch sizes small
  * enough that a window spans several pages, random pushed filters, 1-2
  * sort keys and a random OFFSET and LIMIT, the collected window must
  * equal a direct model (filter → total-order sort → drop(offset) →
  * take(limit)). A unique non-null id rides every sort as the tiebreak
  * so the window is deterministic.
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
  * CQL's clustering-order window: random corpora over (partition key,
  * two clustering keys), random window shapes crossing every arm of the
  * single-partition rule — pk-bound clustering-prefix sorts in a uniform
  * direction (pushed as CQL ORDER BY ... LIMIT), mixed-direction sorts
  * (declined: CQL has no mixed-direction ORDER BY over ASC-declared
  * clustering), unbound partition keys (declined: the server refuses
  * ORDER BY without the partition restricted), and residual non-key
  * filters (polyfilled) — the collected window equals a direct model.
  * ck1 is unique within each partition so every tested ordering is
  * total. Page sizes randomize down to a few rows per page, exercising
  * the paging-state resume mid-window.
  *
  * BigTable's windowed scan, at the protocol level: for arbitrary key
  * universes, row sets (ranges or explicit keys), page caps, window
  * sizes and scan directions, the CLIENT resume loop (requestJson with
  * the last received key, re-select server-side, re-cap) must drain to
  * EXACTLY the window a one-shot evaluation of the row set would produce
  * — first n keys ascending forward, last n keys descending reversed —
  * regardless of where the per-response cap slices the stream. This is
  * the invariant the reversed-resume contract (exclusive END at the last
  * key) exists to preserve; an off-by-one in either bound duplicates or
  * drops a row at some page boundary.
  *
  * BigQuery's pushed joins: random fact/dim corpora (duplicate join keys
  * on both sides, null keys that must NOT meet under SQL equality,
  * null-extended outer rows) flow through random INNER/LEFT/RIGHT
  * single-key equi-joins composed with a random head — plain
  * projection, an aggregate over the join, or an ordered window over the
  * join — at page sizes small enough that every result pages through
  * pageToken reads of the materialized job. The wire answer must equal
  * the SAME Spark query over local copies of the corpora
  * (engine-as-oracle), and the join must have LEFT the engine (no Join
  * node) in every iteration.
  *
  * ES's composite-aggregation pager: for arbitrary null-bearing corpora,
  * composite page sizes down to a single bucket per response (an
  * after_key resume per bucket), sort directions and null placements,
  * the reader's after_key drain must produce exactly the grouped result
  * a direct model computes — every group once, NULL groups via
  * missing_bucket — and under a pushed ordered window the
  * early-terminated page walk must still surface the complete top-n
  * prefix. COMPLETE pushdown is asserted per iteration (no engine
  * aggregate), so a pager defect cannot hide behind an engine-side
  * re-aggregation.
  *
  * The connector specs pin the wire shape; this pins the window
  * semantics across the rule space around it. */
class WireWindowPropertySpec extends AnyFunSuite {
  import WireWindowPropertySpec._

  private lazy val spark: SparkSession = TestSpark.session

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

  private def http(page: Int) = WireClientConfig(pageSize = page, retryBackoffMs = 5)

  private val windowDraws = Seq(
    ("mongo", 20260818L, WindowDraw("mongowprop", pageMin = 8, pageSpread = 57, filters = 4,
      nullsLowestKey, offsets = true, limitMax = 20, (name, rows, batch) => {
        LoopbackMongoServer.register(name, schema, rows)
        val (host, port) = LoopbackMongoServer.ensureStarted()
        LoopbackMongoServer.failNext.set(0)
        LoopbackMongoServer.delayMs.set(0)
        WireEndpoints.register(MongoEndpoint("mongotest", name, schema,
          MongoEndpointSpec(host, port, LoopbackMongoServer.Db, name,
            WireClientConfig(pageSize = batch, retryBackoffMs = 5))))
        catalogTable("mongotest", "mongo", name)
      })),
    ("ds", 20260819L, WindowDraw("dswprop", pageMin = 8, pageSpread = 57, filters = 4,
      nullsLowestKey, offsets = true, limitMax = 20, (name, rows, page) => {
        LoopbackRestServer.register(name, schema, rows)
        val baseUrl = LoopbackRestServer.ensureStarted()
        LoopbackRestServer.failNext.set(0)
        WireEndpoints.register(DsEndpoint("dstest", name, schema,
          DsEndpointSpec(baseUrl, name, http(page))))
        catalogTable("dstest", "ds", name)
      })),
    ("es", 20260821L, WindowDraw("essortprop", pageMin = 4, pageSpread = 13, filters = 3,
      anyKey, offsets = false, limitMax = 40, (name, rows, page) => {
        LoopbackRestServer.register(name, schema, rows)
        val base = LoopbackRestServer.ensureStarted()
        WireEndpoints.register(EsEndpoint("estest", name, schema,
          EsEndpointSpec(base, name, http(page))))
        catalogTable("estest", "es", name)
      })),
    ("bq", 20260828L, WindowDraw("bqwprop", pageMin = 8, pageSpread = 57, filters = 4,
      anyKey, offsets = true, limitMax = 20, (name, rows, page) => {
        LoopbackRestServer.registerBq(name, schema, rows)
        val baseUrl = LoopbackRestServer.ensureStarted()
        LoopbackRestServer.failNext.set(0)
        WireEndpoints.register(BqEndpoint("bqtest", name, schema,
          BqEndpointSpec(baseUrl, name, http(page))))
        catalogTable("bqtest", "bq", name)
      })))

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

  /** One iteration of the shared window property. */
  private def windowCase(d: WindowDraw)(rnd: java.util.Random, iter: Int): Case = {
    def corpus(n: Int): Seq[Array[Any]] = (0L until n.toLong).map { i =>
      Array[Any](i,
        if (rnd.nextInt(5) == 0) null else ("S" + ('A' + rnd.nextInt(4)).toChar),
        if (rnd.nextInt(6) == 0) null else java.lang.Long.valueOf(rnd.nextInt(50).toLong))
    }
    val rows = corpus(60 + rnd.nextInt(120))
    val tbl = d.register(s"${d.tablePrefix}$iter", rows,
      d.pageMin + rnd.nextInt(d.pageSpread))

    // random pushed filter (all compile to the wire; 3VL: null drops);
    // an inequality on v makes Datastore require v to lead the sort
    val (filt, keep): (Option[Column], Array[Any] => Boolean) =
      rnd.nextInt(d.filters) match {
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
      case 0 => Seq(d.randKey("seg", rnd))
      case 1 => Seq(d.randKey("v", rnd))
      case 2 => Seq(d.randKey("seg", rnd), d.randKey("v", rnd))
    }) :+ Key("id", asc = true, nullsFirst = true)

    val offset = if (d.offsets) rnd.nextInt(9) else 0
    val limit = 1 + rnd.nextInt(d.limitMax)

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
    Case(got, want, s"keys=$keys offset=$offset limit=$limit filt=$filt")
  }

  // ---- CQL: the single-partition clustering window ------------------------

  private val cqlSchema = StructType(Seq(
    StructField("seg", StringType), StructField("ck1", LongType),
    StructField("ck2", LongType), StructField("v", LongType)))

  private val Parts = Seq("PA", "PB", "PC")

  /** ck1 unique within each partition — every tested sort is total. */
  private def cqlCorpus(rnd: java.util.Random): Seq[Array[Any]] = {
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

  private def cqlTable(name: String, rows: Seq[Array[Any]], pageSize: Int): String = {
    LoopbackCqlServer.register(name, cqlSchema, Seq("seg"), Seq("ck1", "ck2"), rows)
    val (host, port) = LoopbackCqlServer.ensureStarted()
    LoopbackCqlServer.failNext.set(0)
    WireEndpoints.register(CqlEndpoint("cqltest", name, cqlSchema,
      Seq("seg"), Seq("ck1", "ck2"),
      CqlEndpointSpec(host, port, name,
        WireClientConfig(pageSize = pageSize, retryBackoffMs = 5))))
    catalogTable("cqltest", "cql", name)
  }

  /** A clustering sort key: schema position, direction. */
  private case class CqlKey(field: Int, asc: Boolean)

  private def cqlModel(rows: Seq[Array[Any]], keep: Array[Any] => Boolean,
      keys: Seq[CqlKey], limit: Int): Seq[(String, Long)] =
    rows.filter(keep).sortWith { (a, b) =>
      keys.iterator.map { k =>
        val c = (a(k.field), b(k.field)) match {
          case (p: String, q: String) => p.compareTo(q)
          case (p: java.lang.Long, q: java.lang.Long) => p.compareTo(q)
          case other => sys.error(s"unexpected pair $other")
        }
        if (k.asc) c else -c
      }.find(_ != 0).getOrElse(0) < 0
    }.take(limit).map(r => (r(0).asInstanceOf[String], r(1).asInstanceOf[Long]))

  private def cqlCase(rnd: java.util.Random, iter: Int): Case = {
    val names = Seq("seg", "ck1", "ck2", "v")
    val rows = cqlCorpus(rnd)
    val tbl = cqlTable(s"cqlwprop$iter", rows, 4 + rnd.nextInt(29))
    val limit = 1 + rnd.nextInt(15)
    val part = Parts(rnd.nextInt(Parts.size))
    val inPart: Array[Any] => Boolean = _(0) == part

    def run(df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row])
        : Seq[(String, Long)] =
      df.limit(limit).select("seg", "ck1").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq

    def ord(k: CqlKey): Column = {
      val c = col(names(k.field)); if (k.asc) c.asc else c.desc
    }

    val arm = rnd.nextInt(4)
    val (got, want) = arm match {
      case 0 =>
        // pushed: pk bound, clustering prefix, uniform direction
        val asc = rnd.nextBoolean()
        val keys =
          if (rnd.nextBoolean()) Seq(CqlKey(1, asc))
          else Seq(CqlKey(1, asc), CqlKey(2, asc))
        (run(spark.table(tbl).filter(col("seg") === part)
           .orderBy(keys.map(ord): _*)),
         cqlModel(rows, inPart, keys, limit))
      case 1 =>
        // declined: mixed direction over the clustering pair
        val keys = Seq(CqlKey(1, asc = true), CqlKey(2, asc = false))
        (run(spark.table(tbl).filter(col("seg") === part)
           .orderBy(keys.map(ord): _*)),
         cqlModel(rows, inPart, keys, limit))
      case 2 =>
        // declined: unbound partition key (server would refuse)
        val asc = rnd.nextBoolean()
        val keys = Seq(CqlKey(1, asc), CqlKey(0, asc = true))
        (run(spark.table(tbl).orderBy(keys.map(ord): _*)),
         cqlModel(rows, _ => true, keys, limit))
      case 3 =>
        // residual non-key filter polyfills; window stays engine-side
        val c = rnd.nextInt(50).toLong
        val asc = rnd.nextBoolean()
        val keys = Seq(CqlKey(1, asc))
        val keep: Array[Any] => Boolean = r => inPart(r) && r(3) != null &&
          r(3).asInstanceOf[java.lang.Long] > c
        (run(spark.table(tbl).filter(col("seg") === part && col("v") > c)
           .orderBy(keys.map(ord): _*)),
         cqlModel(rows, keep, keys, limit))
    }
    Case(got, want, s"arm=$arm part=$part limit=$limit")
  }

  // ---- BigTable: the resume loop against a one-shot evaluation ------------

  private val M = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Simulated service: evaluate the request body over `rows`, cap the
    * response, report the resume key — the loopback's exact shape. */
  private def btServe(body: String, rows: Seq[String], cap: Int)
      : (Seq[String], Boolean) = {
    val selected = BtQuery.select(M.readTree(body), r => r(0).asInstanceOf[String],
      rows.map(k => Array[Any](k)))
    val page = selected.take(cap)
    (page.map(_._1), selected.size > page.size)
  }

  /** The reader's drain loop (BtReaderFactory's shape): resume with the
    * last received key, subtract received from the remaining limit. */
  private def btDrain(rs: BtQuery.RowSet, rows: Seq[String], cap: Int,
      limit: Int, reversed: Boolean): Seq[String] = {
    var out = Vector.empty[String]
    var resume = ""
    var done = false
    var guard = 0
    while (!done && (limit < 0 || out.size < limit)) {
      guard += 1
      require(guard <= rows.size + 8, s"drain loop did not terminate: $out")
      val lim = if (limit > 0) limit - out.size else -1
      val body = BtQuery.requestJson(rs, lim, resume, reversed)
      val (page, more) = btServe(body, rows, cap)
      if (page.isEmpty) done = true
      else {
        out ++= page
        resume = page.last
        if (!more) done = true
      }
    }
    out
  }

  /** Reference model: evaluate the row set directly, order, window. */
  private def btModel(rs: BtQuery.RowSet, rows: Seq[String], limit: Int,
      reversed: Boolean): Seq[String] = {
    val keys = rows.sorted
    val sel =
      if (rs.keys.nonEmpty) { val want = rs.keys.toSet; keys.filter(want) }
      else keys.filter(k => rs.ranges.exists { case (s, e) =>
        (s.isEmpty || k >= s) && (e.isEmpty || k < e)
      })
    val ordered = if (reversed) sel.reverse else sel
    if (limit > 0) ordered.take(limit) else ordered
  }

  private def btKey(rnd: java.util.Random): String = f"k${rnd.nextInt(500)}%04d"

  private def btWindowCase(rnd: java.util.Random, iter: Int): Case = {
    val n = 1 + rnd.nextInt(60)
    val rows = Seq.fill(n)(btKey(rnd)).distinct
    val rs =
      if (rnd.nextBoolean()) {
        // 1-2 ranges, possibly unbounded on either side
        val ranges = (1 to (1 + rnd.nextInt(2))).map { _ =>
          val a = if (rnd.nextBoolean()) btKey(rnd) else ""
          val b = if (rnd.nextBoolean()) btKey(rnd) else ""
          if (a.nonEmpty && b.nonEmpty && a > b) (b, a) else (a, b)
        }
        BtQuery.RowSet(ranges, Nil)
      } else BtQuery.RowSet(Nil,
        Seq.fill(1 + rnd.nextInt(12))(btKey(rnd)).distinct)
    val cap = 1 + rnd.nextInt(7) // small caps force many resumes
    val limit = if (rnd.nextBoolean()) -1 else 1 + rnd.nextInt(20)
    val reversed = rnd.nextBoolean()
    Case(btDrain(rs, rows, cap, limit, reversed), btModel(rs, rows, limit, reversed),
      s"rs=$rs cap=$cap limit=$limit reversed=$reversed rows=${rows.sorted}")
  }

  private def btMirrorCase(rnd: java.util.Random, iter: Int): Case = {
    val rows = Seq.fill(1 + rnd.nextInt(40))(btKey(rnd)).distinct
    val rs = BtQuery.RowSet(Seq(("", "")), Nil)
    val cap = 1 + rnd.nextInt(5)
    val fwd = btDrain(rs, rows, cap, -1, reversed = false)
    val rev = btDrain(rs, rows, cap, -1, reversed = true)
    Case(Seq(fwd, rev), Seq(rows.sorted, rows.sorted.reverse), s"cap=$cap")
  }

  // ---- BigQuery: pushed joins against the engine as oracle ----------------

  private val factSchema = StructType(Seq(
    StructField("uid", LongType), StructField("id", LongType),
    StructField("bal", LongType)))
  private val dimSchema = StructType(Seq(
    StructField("dim_id", LongType), StructField("label", StringType)))

  private def factCorpus(rnd: java.util.Random, n: Int): Seq[Array[Any]] =
    (0L until n.toLong).map { i =>
      Array[Any](i,
        if (rnd.nextInt(8) == 0) null else java.lang.Long.valueOf(rnd.nextInt(20).toLong),
        rnd.nextInt(100).toLong)
    }

  /** Unique labels; duplicate and null dim_ids. */
  private def dimCorpus(rnd: java.util.Random, n: Int): Seq[Array[Any]] =
    (0L until n.toLong).map { i =>
      Array[Any](
        if (rnd.nextInt(8) == 0) null else java.lang.Long.valueOf(rnd.nextInt(20).toLong),
        s"L$i")
    }

  private def bqTable(name: String, schema: StructType, rows: Seq[Array[Any]],
      pageSize: Int): String = {
    LoopbackRestServer.registerBq(name, schema, rows)
    val baseUrl = LoopbackRestServer.ensureStarted()
    WireEndpoints.register(BqEndpoint("bqtest", name, schema,
      BqEndpointSpec(baseUrl, name, http(pageSize))))
    catalogTable("bqtest", "bq", name)
  }

  private def local(schema: StructType, rows: Seq[Array[Any]]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row.fromSeq(r.toSeq)): _*), schema)

  private def canon(rows: Array[Row]): Seq[Seq[String]] =
    rows.map(_.toSeq.map(v => if (v == null) "<NULL>" else v.toString)).toSeq

  private def bqJoinCase(rnd: java.util.Random, iter: Int): Case = {
    val key = "spark.sql.optimizer.datasourceV2JoinPushdown"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      val facts = factCorpus(rnd, 30 + rnd.nextInt(60))
      val dims = dimCorpus(rnd, 6 + rnd.nextInt(12))
      val pageSize = 4 + rnd.nextInt(13)
      val ft = bqTable(s"bqprop_f$iter", factSchema, facts, pageSize)
      val dt = bqTable(s"bqprop_d$iter", dimSchema, dims, pageSize)
      val joinType = Seq("inner", "left", "right")(rnd.nextInt(3))
      val balCut = rnd.nextInt(100).toLong
      val arm = rnd.nextInt(3)

      // the window draw happens ONCE so wire and oracle see the same n
      val frozenLimit = 1 + rnd.nextInt(25)
      def build(fact: DataFrame, dim: DataFrame): DataFrame = {
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

      val wire = build(spark.table(ft), spark.table(dt))
      val plan = wire.queryExecution.executedPlan.toString
      assert(!plan.contains("Join"),
        s"iter $iter $joinType arm=$arm: the join must leave the engine:\n$plan")
      val got = canon(wire.collect())
      val want = canon(build(local(factSchema, facts), local(dimSchema, dims)).collect())
      // only the ordered window (arm 2) has a defined row order
      def order(rows: Seq[Seq[String]]) =
        if (arm == 2) rows else rows.sortBy(_.mkString("|"))
      Case(order(got), order(want), s"$joinType arm=$arm pageSize=$pageSize")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  // ---- ES: the composite-aggregation pager ---------------------------------

  private val compSchema = StructType(Seq(
    StructField("seg", StringType), StructField("cat", LongType),
    StructField("v", LongType)))

  /** One group row the model and the collected result both reduce to. */
  private case class G(seg: String, cat: java.lang.Long,
      n: Long, sumV: java.lang.Long, nV: Long)

  private def compTable(name: String, rows: Seq[Array[Any]], pageSize: Int): String = {
    LoopbackRestServer.register(name, compSchema, rows)
    val base = LoopbackRestServer.ensureStarted()
    WireEndpoints.register(EsEndpoint("estest", name, compSchema,
      EsEndpointSpec(base, name, WireClientConfig(retryBackoffMs = 5),
        compositePageSize = pageSize)))
    catalogTable("estest", "es", name)
  }

  private def compCorpus(rnd: java.util.Random, n: Int): Seq[Array[Any]] = Seq.fill(n) {
    Array[Any](
      if (rnd.nextInt(6) == 0) null else ("A" + ('A' + rnd.nextInt(4)).toChar),
      if (rnd.nextInt(6) == 0) null else java.lang.Long.valueOf(rnd.nextInt(4).toLong),
      if (rnd.nextInt(8) == 0) null else java.lang.Long.valueOf(rnd.nextInt(100).toLong))
  }

  private def compModel(rows: Seq[Array[Any]]): Seq[G] =
    rows.groupBy(r => (r(0).asInstanceOf[String], r(1).asInstanceOf[java.lang.Long]))
      .map { case ((s, c), grp) =>
        val vs = grp.map(_(2)).collect { case v: java.lang.Long => v.longValue() }
        G(s, c, grp.size.toLong,
          if (vs.isEmpty) null else java.lang.Long.valueOf(vs.sum), vs.size.toLong)
      }.toSeq

  /** The comparator Spark's ORDER BY applies to the group keys. */
  private def compCmp(a: G, b: G, dirs: Seq[(Boolean, Boolean)]): Int = {
    val c0 = cmpOne(a.seg, b.seg, Key("seg", dirs(0)._1, dirs(0)._2))
    if (c0 != 0) c0 else cmpOne(a.cat, b.cat, Key("cat", dirs(1)._1, dirs(1)._2))
  }

  private def compOrd(c: String, d: (Boolean, Boolean)): Column =
    sortCol(Key(c, d._1, d._2))

  /** Collects a grouped result as groups. */
  private def compGroups(df: DataFrame): Seq[G] =
    df.collect().map(r => G(
      if (r.isNullAt(0)) null else r.getString(0),
      if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1)),
      r.getLong(2),
      if (r.isNullAt(3)) null else java.lang.Long.valueOf(r.getLong(3)),
      r.getLong(4))).toSeq

  private def compGrouped(tbl: String): DataFrame =
    spark.table(tbl).groupBy("seg", "cat")
      .agg(count(lit(1)).as("n"), sum("v").as("sum_v"), count("v").as("n_v"))

  private def compDrainCase(rnd: java.util.Random, iter: Int): Case = {
    val rows = compCorpus(rnd, 40 + rnd.nextInt(160))
    // page sizes down to 1 force an after_key resume per bucket
    val pageSize = 1 + rnd.nextInt(5)
    val grouped = compGrouped(compTable(s"compprop$iter", rows, pageSize))
    val want = compModel(rows)

    val windowed = rnd.nextBoolean()
    val df =
      if (!windowed) grouped
      else {
        val dirs = Seq.fill(2)((rnd.nextBoolean(), rnd.nextBoolean()))
        val n = 1 + rnd.nextInt(want.size + 2)
        grouped.orderBy(compOrd("seg", dirs(0)), compOrd("cat", dirs(1))).limit(n)
      }
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"iter $iter: COMPLETE pushdown must leave no engine aggregate:\n$plan")
    val got = compGroups(df)
    if (!windowed)
      // exhaustive after_key walk: every group exactly once
      Case(got.sortBy(_.toString), want.sortBy(_.toString), s"pageSize=$pageSize")
    else {
      // aggregates exact and no boundary duplicate: every returned group
      // is a model group, once; the strict ordered-prefix property is the
      // next phase's job
      val model = want.toSet
      Case(got, got.distinct.filter(model), s"windowed pageSize=$pageSize")
    }
  }

  private def compWindowCase(rnd: java.util.Random, iter: Int): Case = {
    val rows = compCorpus(rnd, 60 + rnd.nextInt(100))
    val pageSize = 1 + rnd.nextInt(4)
    val tbl = compTable(s"comppropw$iter", rows, pageSize)
    val dirs = Seq.fill(2)((rnd.nextBoolean(), rnd.nextBoolean()))
    val want = compModel(rows).sortWith((a, b) => compCmp(a, b, dirs) < 0)
    val n = 1 + rnd.nextInt(want.size)
    val got = compGroups(compGrouped(tbl)
      .orderBy(compOrd("seg", dirs(0)), compOrd("cat", dirs(1))).limit(n))
    Case(got, want.take(n), s"pageSize=$pageSize dirs=$dirs n=$n")
  }

  private val backends: Seq[Backend] =
    windowDraws.map { case (name, seed, d) =>
      Backend(name, seed, Seq(Phase("random windows equal the model", 30, windowCase(d))))
    } ++ Seq(
      Backend("cql", 20260820L, Seq(Phase(
        "random clustering windows equal the model across the rule space", 24, cqlCase))),
      Backend("bt", 20260816L, Seq(
        Phase("windowed drains equal the one-shot model at every page boundary", 400,
          btWindowCase),
        Phase("forward and reversed full drains are exact mirrors", 100, btMirrorCase))),
      Backend("bq-join", 20260822L, Seq(Phase(
        "random join compositions equal the engine-as-oracle result", 18, bqJoinCase))),
      Backend("es-composite", 20260817L, Seq(
        Phase("drains equal the grouped model at every page size", 24, compDrainCase),
        Phase("an ordered window never loses a prefix group", 12, compWindowCase))))

  for (b <- backends) {
    val rnd = new java.util.Random(b.seed)
    for (p <- b.phases)
      test(s"${b.name}: ${p.title}") {
        for (iter <- 1 to p.iterations) {
          val c = p.draw(rnd, iter)
          assert(c.got == c.want,
            s"${b.name} iter $iter ${c.what}:\n got=${c.got}\nwant=${c.want}")
        }
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

  /** One backend under the property: its seed and its named properties,
    * which run in order and draw from one stream seeded with `seed`. */
  final case class Backend(name: String, seed: Long, phases: Seq[Phase])

  /** One named property: `iterations` cases, each drawn from the
    * backend's stream (with the 1-based iteration number). */
  final case class Phase(title: String, iterations: Int,
      draw: (java.util.Random, Int) => Case)

  /** One drawn case: what the scan returned, what the model says, and
    * the draw, for the failure message. */
  final case class Case(got: Seq[Any], want: Seq[Any], what: String)

  /** The shared window property's knobs for one backend: its tables'
    * name prefix, the page (or cursor-batch) size range `pageMin +
    * nextInt(pageSpread)`, how many of the filter shapes it draws from,
    * its key draw, whether it draws an offset, the limit range and how it
    * registers a table (name, rows, page size → catalog name). */
  final case class WindowDraw(tablePrefix: String,
      pageMin: Int, pageSpread: Int, filters: Int,
      randKey: (String, java.util.Random) => Key, offsets: Boolean, limitMax: Int,
      register: (String, Seq[Array[Any]], Int) => String)
}
