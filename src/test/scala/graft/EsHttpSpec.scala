package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources._

/** ES-protocol connector: query-DSL compilation (the sqltoes.go
  * translation surface), server-side evaluation equivalence, COMPLETE
  * aggregation pushdown through the socket, paging, and fault injection
  * on the `_search` path. */
class EsHttpSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = TestSpark.session

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("seg", StringType),
    StructField("name", StringType), StructField("bal", DoubleType)))
  private val rows: Seq[Array[Any]] = (0L until 400L).map { i =>
    Array[Any](i, if (i % 3 == 0) "A" else if (i % 3 == 1) "B" else null,
      s"name_${i}_x", i * 1.5)
  }

  private def table(name: String): String = {
    LoopbackRestServer.register(name, schema, rows)
    val base = LoopbackRestServer.ensureStarted()
    LoopbackRestServer.failNext.set(0)
    LoopbackRestServer.delayMs.set(0)
    WireEndpoints.register(EsEndpoint("estest", name, schema,
      EsEndpointSpec(base, name, WireClientConfig(pageSize = 64, retryBackoffMs = 5))))
    if (SourceRegistry.get("estest").isEmpty)
      SourceRegistry.register(SourceDef("estest",
        new java.io.File(sys.props("user.dir"), "target/graft-test/estest").getPath,
        "json", "es"))
    SourceRegistry.ensureCatalog(spark)
    s"${SourceRegistry.CatalogName}.estest.$name"
  }

  // ---- DSL compile + eval equivalence -----------------------------------

  test("every accepted filter round-trips compile -> server eval correctly") {
    val cases: Seq[(Filter, Array[Any] => Boolean)] = Seq(
      (EqualTo("seg", "A"), r => r(1) == "A"),
      (In("id", Array(3L, 5L, 999L)), r => Seq(3L, 5L).contains(r(0))),
      (GreaterThan("bal", 300.0), r => r(3).asInstanceOf[Double] > 300.0),
      (LessThanOrEqual("id", 10L), r => r(0).asInstanceOf[Long] <= 10L),
      (StringStartsWith("name", "name_1"), r => r(2).asInstanceOf[String].startsWith("name_1")),
      (StringEndsWith("name", "0_x"), r => r(2).asInstanceOf[String].endsWith("0_x")),
      (StringContains("name", "_39_"), r => r(2).asInstanceOf[String].contains("_39_")),
      (IsNull("seg"), r => r(1) == null),
      (IsNotNull("seg"), r => r(1) != null),
      // != must NOT match null segments (3VL via the exists conjunct)
      (Not(EqualTo("seg", "A")), r => r(1) != null && r(1) != "A"),
      (And(EqualTo("seg", "B"), GreaterThan("id", 100L)),
        r => r(1) == "B" && r(0).asInstanceOf[Long] > 100L),
      (Or(EqualTo("seg", "A"), LessThan("id", 5L)),
        r => r(1) == "A" || r(0).asInstanceOf[Long] < 5L))
    cases.foreach { case (f, oracle) =>
      val dsl = EsDsl.compile(f).getOrElse(fail(s"$f did not compile"))
      val got = rows.filter(r => EsDsl.eval(dsl, r, schema)).map(_(0))
      val want = rows.filter(oracle).map(_(0))
      assert(got == want, s"filter $f: DSL $dsl")
    }
  }

  test("wildcard semantics: * ? and literal escapes") {
    assert(EsDsl.wildcardMatch("hello_world", "hello*"))
    assert(EsDsl.wildcardMatch("hello", "h?llo"))
    assert(!EsDsl.wildcardMatch("hello", "h?l"))
    assert(EsDsl.wildcardMatch("a*b", "a\\*b"))
    assert(!EsDsl.wildcardMatch("axb", "a\\*b"))
    assert(EsDsl.wildcardMatch("a.b", "a.b"))
    assert(!EsDsl.wildcardMatch("axb", "a.b"), "dot must stay literal")
  }

  test("unsupported filters are declined (polyfilled), not mistranslated") {
    assert(EsDsl.compile(EqualTo("seg", null)).isEmpty)
    assert(EsDsl.compile(Not(GreaterThan("id", 3L))).isEmpty,
      "NOT(range) has no 3VL-safe DSL form here: declined")
    assert(EsDsl.compile(AlwaysTrue()).isEmpty)
  }

  // ---- DSv2 through the socket ------------------------------------------

  test("filters push to the _search body; declined residual polyfills") {
    val t = table("kv1")
    val df = spark.table(t)
      .filter(col("seg") === "A" && col("bal") > 100.0 &&
        (col("id") % 2 === 0)) // modulo: outside the DSL, Spark re-applies
      .select("id", "bal")
    val got = df.collect().map(_.getLong(0)).sorted
    val want = rows.filter(r => r(1) == "A" && r(3).asInstanceOf[Double] > 100.0
      && r(0).asInstanceOf[Long] % 2 == 0).map(_(0).asInstanceOf[Long]).sorted.toArray
    assert(got.toSeq == want.toSeq)
    val body = LoopbackRestServer.lastBody.get()
    assert(body.contains("\"term\"") && body.contains("\"range\""), body)
    assert(!body.contains("%"), s"the modulo residual must not reach the server: $body")
  }

  test("hits page across the wire (pageSize < result size)") {
    val t = table("kv2")
    val served0 = LoopbackRestServer.served.get()
    // a raw projection CANNOT aggregate-push: hits stream back paged
    assert(spark.table(t).select("id", "name").collect().length == 400)
    assert(LoopbackRestServer.served.get() - served0 >= 6,
      "400 hits at size-64 pages must take several requests")
    // count(*) by contrast ships as ONE aggregation request
    val served1 = LoopbackRestServer.served.get()
    assert(spark.table(t).count() == 400)
    assert(LoopbackRestServer.served.get() - served1 == 1,
      "count(*) must ship as a single _search aggregation, not a page walk")
  }

  test("grouped aggregation executes server-side as terms+stats: COMPLETE pushdown") {
    val t = table("kv3")
    // NO not-null filter: SQL GROUP BY keeps the null group, which ES
    // terms buckets omit — the `missing` sibling agg must carry it
    val df = spark.table(t)
      .groupBy("seg")
      .agg(count(lit(1)).as("n"), min("id").as("mn"), max("id").as("mx"),
        sum("id").as("s"), avg("id").as("a"))
      .orderBy(col("seg").asc_nulls_first)
    val got = df.collect()
    // oracle: in-memory, null group first
    val grouped = rows.groupBy(r => Option(r(1)).map(_.toString)).toSeq
      .sortBy { case (k, _) => (k.isDefined, k.getOrElse("")) }
    assert(got.length == grouped.size, s"must include the NULL group: ${got.toSeq}")
    got.zip(grouped).foreach { case (r, (seg, g)) =>
      val ids = g.map(_(0).asInstanceOf[Long])
      assert(Option(r.getString(0)) == seg && r.getLong(1) == ids.size &&
        r.getLong(2) == ids.min && r.getLong(3) == ids.max &&
        r.getLong(4) == ids.sum && r.getDouble(5) == ids.sum.toDouble / ids.size)
    }
    // COMPLETE pushdown: no Spark-side aggregate node anywhere
    val plan = df.queryExecution.executedPlan
    val aggNodes = plan.collect {
      case h: HashAggregateExec => h
      case o: ObjectHashAggregateExec => o
      case s: SortAggregateExec => s
    }
    assert(aggNodes.isEmpty, s"expected server-side aggs only:\n$plan")
    val body = LoopbackRestServer.lastBody.get()
    assert(body.contains("\"terms\"") && body.contains("\"sum\""), body)
  }

  private def aggNodes(df: org.apache.spark.sql.DataFrame): Seq[Any] = {
    // unwrap AQE: AdaptiveSparkPlanExec hides its inner plan from collect
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collect {
      case h: HashAggregateExec => h: Any
      case o: ObjectHashAggregateExec => o: Any
      case s: SortAggregateExec => s: Any
    }
  }

  test("exact COUNT(DISTINCT) DECLINES cardinality pushdown and polyfills exactly") {
    // endpoint whose precision_threshold is far BELOW the distinct counts:
    // past the threshold the loopback perturbs the cardinality value (the
    // stand-in for real ES's HLL regime). A correct guard never lets the
    // perturbation reach an exact COUNT(DISTINCT).
    LoopbackRestServer.register("es_card_ex", schema, rows)
    val base = LoopbackRestServer.ensureStarted()
    WireEndpoints.register(EsEndpoint("estest", "es_card_ex", schema,
      EsEndpointSpec(base, "es_card_ex", WireClientConfig(pageSize = 64, retryBackoffMs = 5),
        cardinalityThreshold = 5)))
    if (SourceRegistry.get("estest").isEmpty)
      SourceRegistry.register(SourceDef("estest",
        new java.io.File(sys.props("user.dir"), "target/graft-test/estest").getPath,
        "json", "es"))
    SourceRegistry.ensureCatalog(spark)
    val t = s"${SourceRegistry.CatalogName}.estest.es_card_ex"
    val df = spark.table(t).groupBy("seg")
      .agg(countDistinct(col("id")).as("n_ids"))
    // the exact spelling polyfills: a Spark-side aggregate MUST exist
    assert(aggNodes(df).nonEmpty,
      s"exact COUNT(DISTINCT) must NOT consume the approximate cardinality agg:\n${df.queryExecution}")
    val got = df.collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    val want = rows.groupBy(r => Option(r(1).asInstanceOf[String]))
      .map { case (k, g) => k -> g.map(_(0)).distinct.size.toLong }
    assert(got == want, "exact even though every group is past the endpoint's threshold")
    assert(!LoopbackRestServer.lastBody.get().contains("cardinality"),
      s"no cardinality agg may ship for the exact spelling: ${LoopbackRestServer.lastBody.get()}")

    // ...and the approximate opt-in on the SAME endpoint sees the HLL
    // regime: the pushed value is the server's perturbed count — visibly
    // approximate, exactly the semantics the opt-in spelling requested
    val approx = spark.read.option(EsTable.ApproxDistinctOption, "true").table(t)
      .groupBy("seg").agg(countDistinct(col("id")).as("n_ids"))
    assert(aggNodes(approx).isEmpty,
      s"opt-in must push COMPLETE:\n${approx.queryExecution}")
    val gotA = approx.collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    val wantA = want.map { case (k, d) => k -> (d + math.max(1L, d / 64L)) }
    assert(gotA == wantA, "past the threshold the pushed value is approximate by construction")
  }

  test("opt-in cardinality pushes COMPLETE and is exact below the threshold") {
    val t = table("es_card")
    val df = spark.read.option(EsTable.ApproxDistinctOption, "true").table(t)
      .groupBy("seg").agg(countDistinct(col("id")).as("n_ids"))
    // COMPLETE pushdown: no Spark-side aggregate survives
    assert(aggNodes(df).isEmpty,
      s"expected the cardinality agg to ship:\n${df.queryExecution}")
    val got = df.collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    val want = rows.groupBy(r => Option(r(1).asInstanceOf[String]))
      .map { case (k, g) => k -> g.map(_(0)).distinct.size.toLong }
    assert(got == want, "below precision_threshold the loopback answers exactly")
    val body = LoopbackRestServer.lastBody.get()
    assert(body.contains("cardinality") && body.contains("precision_threshold"), body)
  }

  test("global (ungrouped) stats aggregate through the wire") {
    val t = table("kv4")
    val r = spark.table(t).agg(count(lit(1)).as("n"), sum("id").as("s")).collect()(0)
    assert(r.getLong(0) == 400 && r.getLong(1) == (0L until 400L).sum)
  }

  test("SUM over zero matching rows is NULL, not ES's 0") {
    val t = table("kv6")
    val r = spark.table(t).filter(col("id") > 10000L)
      .agg(count(lit(1)).as("n"), sum("id").as("s"), min("id").as("mn"))
      .collect()(0)
    assert(r.getLong(0) == 0L)
    assert(r.isNullAt(1), "SQL SUM over no rows is NULL (ES sum is 0.0)")
    assert(r.isNullAt(2))
  }

  // ---- sliced-scroll fan-out --------------------------------------------

  private def slicedTable(name: String, slices: Int,
      paging: String = "pit", pageSize: Int = 64): String = {
    LoopbackRestServer.register(name, schema, rows)
    val base = LoopbackRestServer.ensureStarted()
    WireEndpoints.register(EsEndpoint("estest", name, schema,
      EsEndpointSpec(base, name, WireClientConfig(pageSize = pageSize, retryBackoffMs = 5),
        slices = slices, paging = paging)))
    if (SourceRegistry.get("estest").isEmpty)
      SourceRegistry.register(SourceDef("estest",
        new java.io.File(sys.props("user.dir"), "target/graft-test/estest").getPath,
        "json", "es"))
    SourceRegistry.ensureCatalog(spark)
    s"${SourceRegistry.CatalogName}.estest.$name"
  }

  test("sliced scroll fans hit scans out; union of slices is exact") {
    val t = slicedTable("sl1", 4, paging = "scroll")
    val df = spark.table(t)
    assert(df.rdd.getNumPartitions == 4, "4 slices => 4 scan tasks")
    val got = df.select("id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == rows.map(_(0).asInstanceOf[Long]).sorted,
      "every doc exactly once across slices")
    val perPart = df.rdd.mapPartitions(it => Iterator.single(it.size)).collect()
    assert(perPart.count(_ > 0) == 4 && perPart.sum == rows.size,
      s"all slices served rows: ${perPart.toSeq}")
    // slices compose with a pushed filter
    val f = spark.table(t).filter(col("seg") === "A").select("id")
      .collect().map(_.getLong(0)).sorted
    assert(f.toSeq == rows.filter(_(1) == "A").map(_(0).asInstanceOf[Long]).sorted)
  }

  test("scroll pages until EMPTY hits, not until a short page (uneven shard drain)") {
    val t = slicedTable("sl_short", 2, paging = "scroll")
    LoopbackRestServer.esScrollShortPages.set(1)
    try {
      // continuations now return half-size pages while rows remain — the
      // documented scroll contract says keep paging until hits is empty
      val got = spark.table(t).select("id").collect().map(_.getLong(0)).sorted
      assert(got.toSeq == rows.map(_(0).asInstanceOf[Long]).sorted,
        "a short (but non-empty) batch must not terminate the scroll")
    } finally LoopbackRestServer.esScrollShortPages.set(0)
  }

  test("aggregation pushdown stays single-partition (ES cannot slice aggs)") {
    val t = slicedTable("sl2", 4)
    val agg = spark.table(t).groupBy("seg").count()
    assert(agg.queryExecution.executedPlan.collectLeaves()
      .collect { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.size }.forall(_ == 1),
      "COMPLETE agg pushdown must not slice")
    val got = agg.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == rows.groupBy(r => r(1).asInstanceOf[String])
      .map { case (k, g) => k -> g.size.toLong })
  }

  test("the server rejects malformed slice requests") {
    val name = "sl3"
    LoopbackRestServer.register(name, schema, rows)
    val base = LoopbackRestServer.ensureStarted()
    val client = new HttpRestClient(base, WireClientConfig(maxRetries = 0))
    intercept[Exception](client.postJson(s"/es/$name/_search",
      """{"slice":{"id":5,"max":4},"size":10}"""))
  }

  test("slice outside a scroll context is refused; sliced scroll pages exactly") {
    import scala.jdk.CollectionConverters._
    val name = "sl4"
    LoopbackRestServer.register(name, schema, rows)
    val base = LoopbackRestServer.ensureStarted()
    val client = new HttpRestClient(base, WireClientConfig(maxRetries = 0))
    // real ES 400s `slice` in a plain from/size _search ...
    val e = intercept[Exception](client.postJson(s"/es/$name/_search",
      """{"slice":{"id":0,"max":2},"size":10}"""))
    assert(e.getMessage.contains("[slice] can only be used with [scroll]"))
    // ... and refuses `from` inside a scroll context
    val e2 = intercept[Exception](client.postJson(s"/es/$name/_search",
      """{"from":5,"size":10}""", Map("scroll" -> "1m")))
    assert(e2.getMessage.contains("[from] is not allowed in a scroll context"))
    // open a sliced scroll and walk the cursor: pages cover the slice
    val M = EsDsl.M
    var resp = M.readTree(client.postJson(s"/es/$name/_search",
      """{"slice":{"id":0,"max":2},"size":64}""", Map("scroll" -> "1m")))
    val sid = resp.path("_scroll_id").asText()
    assert(sid.nonEmpty, "scroll open must return a cursor id")
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    def page(r: com.fasterxml.jackson.databind.JsonNode): Int = {
      var n = 0
      r.path("hits").path("hits").elements().asScala.foreach { h =>
        seen += h.path("_source").path("id").asLong(); n += 1
      }
      n
    }
    var n = page(resp)
    var pages = 1
    while (n > 0) {
      resp = M.readTree(client.postJson("/es/_search/scroll",
        s"""{"scroll":"1m","scroll_id":"$sid"}"""))
      n = page(resp); pages += 1
    }
    assert(pages > 2, "64-doc pages over a 200-doc slice must take several requests")
    val want = rows.zipWithIndex.collect {
      case (r, i) if i % 2 == 0 => r(0).asInstanceOf[Long] }.sorted
    assert(seen.sorted.toSeq == want, "the cursor must walk slice 0 exactly once")
    // the drained cursor is gone: continuation answers the real 404 shape
    val e3 = intercept[Exception](client.postJson("/es/_search/scroll",
      s"""{"scroll":"1m","scroll_id":"$sid"}"""))
    assert(e3.getMessage.contains("No search context found"))
    // clear-scroll on a missing id is a clean no-op
    assert(client.deleteJson("/es/_search/scroll",
      s"""{"scroll_id":"$sid"}""").contains("\"num_freed\":0"))
  }

  test("injected 500s on _search retry and recover") {
    val t = table("kv5")
    LoopbackRestServer.failNext.set(2)
    assert(spark.table(t).filter(col("seg") === "B").count() ==
      rows.count(_(1) == "B"))
  }

  // ---- point-in-time + search_after (the default paging) ----------------

  test("PIT + search_after is the default hit-scan path and pages exactly") {
    // tiny pages force many search_after continuations per slice
    val t = slicedTable("pit1", 3, pageSize = 16)
    val df = spark.table(t)
    assert(df.rdd.getNumPartitions == 3, "3 slices => 3 scan tasks")
    val got = df.select("id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == rows.map(_(0).asInstanceOf[Long]).sorted,
      "every doc exactly once across PIT slices")
    // the continuation request shape: index-less /_search naming the PIT,
    // a _shard_doc sort cursor, and NO from (deep from/size is capped at
    // max_result_window on a real cluster — PIT paging never uses it)
    val body = LoopbackRestServer.lastBody.get()
    assert(body.contains("\"pit\""), s"search must ride the PIT: $body")
    assert(body.contains("_shard_doc"), s"sort cursor missing: $body")
    assert(!body.contains("\"from\""), s"PIT paging must not use from: $body")
    // pushed filters compose with PIT paging
    val f = spark.table(t).filter(col("seg") === "A").select("id")
      .collect().map(_.getLong(0)).sorted
    assert(f.toSeq == rows.filter(_(1) == "A").map(_(0).asInstanceOf[Long]).sorted)
  }

  test("a retried search_after continuation is lossless (stateless cursor)") {
    val t = slicedTable("pit2", 1, pageSize = 16)
    LoopbackRestServer.esPitFailSearchAfter.set(2)
    try {
      // two continuations answer 500 once each; the client's retry names
      // the SAME search_after cursor, so nothing is skipped. (The scroll
      // arm cannot do this: its continuation advances a server cursor,
      // which is exactly why it must fail loudly instead of retrying.)
      val got = spark.table(t).select("id").collect().map(_.getLong(0)).sorted
      assert(got.toSeq == rows.map(_(0).asInstanceOf[Long]).sorted,
        "a retried PIT continuation must not lose or duplicate a page")
      assert(LoopbackRestServer.esPitFailSearchAfter.get() == 0,
        "the fault knob must actually have fired")
    } finally LoopbackRestServer.esPitFailSearchAfter.set(0)
  }

  test("a PIT is a snapshot: writes after open are invisible through it") {
    val name = "pit_snap"
    LoopbackRestServer.register(name, schema, rows)
    val base = LoopbackRestServer.ensureStarted()
    val client = new HttpRestClient(base, WireClientConfig(maxRetries = 0))
    val M = EsDsl.M
    val pid = M.readTree(client.postJson(s"/es/$name/_pit", "",
      Map("keep_alive" -> "1m"))).path("id").asText()
    assert(pid.nonEmpty)
    // the index grows AFTER the PIT opened
    LoopbackRestServer.register(name, schema, rows ++ rows.take(10))
    val viaPit = M.readTree(client.postJson("/es/_search",
      s"""{"pit":{"id":"$pid","keep_alive":"1m"},"size":1}"""))
      .path("hits").path("total").path("value").asInt()
    assert(viaPit == rows.size, "the PIT search must see the open-time snapshot")
    val live = M.readTree(client.postJson(s"/es/$name/_search", """{"size":1}"""))
      .path("hits").path("total").path("value").asInt()
    assert(live == rows.size + 10, "a plain search sees the live index")
    // close: first delete frees it, the second is a clean no-op
    assert(client.deleteJson("/es/_pit", s"""{"id":"$pid"}""")
      .contains("\"num_freed\":1"))
    assert(client.deleteJson("/es/_pit", s"""{"id":"$pid"}""")
      .contains("\"num_freed\":0"))
    // a closed context answers the real 404 shape
    val e = intercept[Exception](client.postJson("/es/_search",
      s"""{"pit":{"id":"$pid"},"size":1}"""))
    assert(e.getMessage.contains("No search context found"))
  }

  test("a sliced scan shares ONE point-in-time: the slice union is a snapshot") {
    val t = slicedTable("pit_shared", 3, pageSize = 32)
    LoopbackRestServer.esPitSearchIds.set(Set.empty)
    val got = spark.table(t).select("id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == rows.map(_(0).asInstanceOf[Long]).sorted)
    // opens alone can't prove sharing (Spark may plan the batch twice and
    // the surplus context is never paged) — assert on the ids SEARCHED
    assert(LoopbackRestServer.esPitSearchIds.get().size == 1,
      "3 slice tasks must page ONE shared PIT (per-slice opens would " +
        "snapshot the index at different instants — a torn read)")
  }

  test("the client adopts a renewed pit_id mid-scan (shard relocation)") {
    val t = slicedTable("pit_renew", 1, pageSize = 16)
    LoopbackRestServer.esPitRenewIds.set(3)
    LoopbackRestServer.esPitSearchIds.set(Set.empty)
    try {
      // three early responses renew the context id; the documented
      // contract is to use the most recently returned id from then on
      val got = spark.table(t).select("id").collect().map(_.getLong(0)).sorted
      assert(got.toSeq == rows.map(_(0).asInstanceOf[Long]).sorted,
        "the scan must follow the renewed ids losslessly")
      assert(LoopbackRestServer.esPitRenewIds.get() == 0,
        "the renewal knob must actually have fired")
      // adoption is visible in the ids the SEARCHES named: the open-time
      // id plus each renewed generation (a client that ignored renewals
      // would have used exactly one id for all 13 pages)
      assert(LoopbackRestServer.esPitSearchIds.get().size == 4,
        s"expected 4 id generations, saw ${LoopbackRestServer.esPitSearchIds.get()}")
    } finally LoopbackRestServer.esPitRenewIds.set(0)
  }

  test("renewals under a SLICED scan: sibling slices on older ids survive") {
    val t = slicedTable("pit_renew_sl", 3, pageSize = 16)
    LoopbackRestServer.esPitRenewIds.set(2)
    try {
      // a renewal triggered by one slice must not kill the shared
      // context under its siblings: the old id stays a valid alias of
      // the same snapshot (the real contract — renewed ids are for
      // longevity, earlier generations don't die instantly)
      val got = spark.table(t).select("id").collect().map(_.getLong(0)).sorted
      assert(got.toSeq == rows.map(_(0).asInstanceOf[Long]).sorted,
        "slices holding pre-renewal ids must keep paging losslessly")
    } finally LoopbackRestServer.esPitRenewIds.set(0)
  }

  test("a PIT expires after keep_alive lapses; searches refresh the deadline") {
    val name = "pit_ttl"
    LoopbackRestServer.register(name, schema, rows)
    val base = LoopbackRestServer.ensureStarted()
    val client = new HttpRestClient(base, WireClientConfig(maxRetries = 0))
    val M = EsDsl.M
    // 2s: wide enough that open->first-search can't spuriously lapse
    // under CI load (GC/JIT pauses), short enough to test expiry fast
    val pid = M.readTree(client.postJson(s"/es/$name/_pit", "",
      Map("keep_alive" -> "2s"))).path("id").asText()
    // within keep_alive: alive (and the search refreshes the deadline)
    assert(M.readTree(client.postJson("/es/_search",
      s"""{"pit":{"id":"$pid"},"size":1}"""))
      .path("hits").path("total").path("value").asInt() == rows.size)
    Thread.sleep(2600)
    // lapsed: the context answers exactly like a missing one
    val e = intercept[Exception](client.postJson("/es/_search",
      s"""{"pit":{"id":"$pid"},"size":1}"""))
    assert(e.getMessage.contains("No search context found"))
  }

  test("paging is validated at construction, not at first failing scan") {
    val base = LoopbackRestServer.ensureStarted()
    val e = intercept[IllegalArgumentException](
      EsEndpointSpec(base, "whatever", WireClientConfig(), paging = "PIT"))
    assert(e.getMessage.contains("paging must be one of"))
  }

  test("the server enforces the real PIT request contract") {
    val name = "pit_contract"
    LoopbackRestServer.register(name, schema, rows)
    val base = LoopbackRestServer.ensureStarted()
    val client = new HttpRestClient(base, WireClientConfig(maxRetries = 0))
    val M = EsDsl.M
    // open requires keep_alive
    val e0 = intercept[Exception](client.postJson(s"/es/$name/_pit", ""))
    assert(e0.getMessage.contains("[keep_alive] is required"))
    val pid = M.readTree(client.postJson(s"/es/$name/_pit", "",
      Map("keep_alive" -> "1m"))).path("id").asText()
    // index-less _search without a pit body is refused
    val e1 = intercept[Exception](client.postJson("/es/_search", """{"size":1}"""))
    assert(e1.getMessage.contains("point in time"))
    // search_after requires an explicit sort
    val e2 = intercept[Exception](client.postJson("/es/_search",
      s"""{"pit":{"id":"$pid"},"search_after":[3],"size":1}"""))
    assert(e2.getMessage.contains("[search_after] requires [sort]"))
    // from is illegal with search_after
    val e3 = intercept[Exception](client.postJson("/es/_search",
      s"""{"pit":{"id":"$pid"},"sort":[{"_shard_doc":"asc"}],"search_after":[3],"from":5,"size":1}"""))
    assert(e3.getMessage.contains("[from] is not allowed with [search_after]"))
    client.deleteJson("/es/_pit", s"""{"id":"$pid"}""")
  }

  // ---- text vs keyword (fielddata) ---------------------------------------

  private val txtSchema = StructType(Seq(
    StructField("id", LongType), StructField("title", StringType),
    StructField("body", StringType), StructField("tag", StringType)))
  /** Multi-word values: analyzed (tokenized, lowercased) matching and
    * exact matching DIVERGE on every row, so a broken guard cannot pass
    * by accident. */
  private val txtRows: Seq[Array[Any]] = (0L until 60L).map { i =>
    Array[Any](i, s"Title ${i % 5}", s"Body text ${i % 7}",
      if (i % 2 == 0) "even" else "odd")
  }

  /** Index with `title` text + .keyword multi-field, `body` text with NO
    * sub-field, `tag` plain keyword — endpoint registered through the
    * DISCOVERY walk, so the analyzed metadata comes off the wire. */
  private def textTable(name: String): String = {
    LoopbackRestServer.registerEsText(name, txtSchema, txtRows,
      Map("title" -> true, "body" -> false))
    val base = LoopbackRestServer.ensureStarted()
    val meta = EsDiscovery.mappingMeta(new HttpRestClient(base), name)
    WireEndpoints.register(EsEndpoint("estest", name, meta.schema,
      EsEndpointSpec(base, name, WireClientConfig(pageSize = 64, retryBackoffMs = 5)),
      analyzed = meta.analyzed))
    if (SourceRegistry.get("estest").isEmpty)
      SourceRegistry.register(SourceDef("estest",
        new java.io.File(sys.props("user.dir"), "target/graft-test/estest").getPath,
        "json", "es"))
    SourceRegistry.ensureCatalog(spark)
    s"${SourceRegistry.CatalogName}.estest.$name"
  }

  test("discovery records text vs keyword, incl. the .keyword multi-field") {
    LoopbackRestServer.registerEsText("txt_meta", txtSchema, txtRows,
      Map("title" -> true, "body" -> false))
    val meta = EsDiscovery.mappingMeta(
      new HttpRestClient(LoopbackRestServer.ensureStarted()), "txt_meta")
    assert(meta.analyzed == Map(
      "title" -> Some("title.keyword"), "body" -> None))
    assert(meta.schema("title").dataType == StringType)
    assert(meta.schema("body").dataType == StringType)
    assert(meta.schema("tag").dataType == StringType)
  }

  test("equality on text-with-keyword retargets to .keyword server-side") {
    val t = textTable("txt1")
    val got = spark.table(t).filter(col("title") === "Title 3" && col("tag") === "even")
      .select("id").collect().map(_.getLong(0)).sorted
    val want = txtRows.filter(r => r(1) == "Title 3" && r(3) == "even")
      .map(_(0).asInstanceOf[Long]).sorted
    assert(got.toSeq == want && want.nonEmpty)
    val body = LoopbackRestServer.lastBody.get()
    assert(body.contains("title.keyword"),
      s"the term query must target the keyword sub-field: $body")
    assert(body.contains("\"tag\""), s"plain keyword fields target raw: $body")
    // the hazard is REAL: the same term on the raw text field matches
    // the analyzed tokens, not the value — zero rows, silently
    val raw = EsDsl.M.readTree("""{"term":{"title":"Title 3"}}""")
    assert(!txtRows.exists(r => EsDsl.eval(raw, r, txtSchema,
      Map("title" -> true, "body" -> false))),
      "an unretargeted term query would silently match nothing")
  }

  test("equality on text WITHOUT a sub-field declines and polyfills") {
    val t = textTable("txt2")
    val got = spark.table(t).filter(col("body") === "Body text 4")
      .select("id").collect().map(_.getLong(0)).sorted
    val want = txtRows.filter(_(1 + 1) == "Body text 4")
      .map(_(0).asInstanceOf[Long]).sorted
    assert(got.toSeq == want && want.nonEmpty)
    assert(!LoopbackRestServer.lastBody.get().contains("Body text"),
      s"the filter value must never ship: ${LoopbackRestServer.lastBody.get()}")
  }

  test("GROUP BY text-with-keyword pushes a terms agg on .keyword") {
    val t = textTable("txt3")
    val got = spark.table(t).groupBy("title").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = txtRows.groupBy(_(1)).map { case (k, g) => k -> g.size.toLong }
    assert(got == want)
    val body = LoopbackRestServer.lastBody.get()
    assert(body.contains("\"terms\"") && body.contains("title.keyword"), body)
  }

  test("GROUP BY text without a sub-field declines the agg (engine polyfill)") {
    val t = textTable("txt4")
    val got = spark.table(t).groupBy("body").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = txtRows.groupBy(_(2)).map { case (k, g) => k -> g.size.toLong }
    assert(got == want)
    assert(!LoopbackRestServer.lastBody.get().contains("\"aggs\""),
      s"no aggregation may ship for a raw text key: ${LoopbackRestServer.lastBody.get()}")
  }

  test("the server enforces the real fielddata 400 on text aggs") {
    LoopbackRestServer.registerEsText("txt5", txtSchema, txtRows,
      Map("title" -> true, "body" -> false))
    val client = new HttpRestClient(LoopbackRestServer.ensureStarted(),
      WireClientConfig(maxRetries = 0))
    val e = intercept[java.io.IOException](client.postJson("/es/txt5/_search",
      """{"size":0,"aggs":{"by":{"terms":{"field":"body"}}}}"""))
    assert(e.getMessage.contains("Text fields are not optimised"), e.getMessage)
    // sorting on a text field is refused the same way
    val e2 = intercept[java.io.IOException](client.postJson("/es/txt5/_search",
      """{"size":1,"sort":[{"body":"asc"}]}"""))
    assert(e2.getMessage.contains("Text fields are not optimised"), e2.getMessage)
    // the .keyword sub-field is the supported target
    val ok = client.postJson("/es/txt5/_search",
      """{"size":0,"aggs":{"by":{"terms":{"field":"title.keyword"}}}}""")
    assert(EsDsl.M.readTree(ok).path("aggregations").path("by")
      .path("buckets").size() == 5)
  }

  // ---- NESTED analyzed fields (repository.name-style text subfields) ----

  private val nestSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("repo", StructType(Seq(
      StructField("name", StringType), StructField("lang", StringType),
      StructField("stars", LongType))))))
  private val nestRows: Seq[Array[Any]] = (0L until 40L).map { i =>
    Array[Any](i, org.apache.spark.sql.Row(
      s"Project Alpha ${i % 4}", if (i % 2 == 0) "scala" else "go", i * 10))
  }

  test("discovery records analyzed NESTED text subfields by dotted path") {
    LoopbackRestServer.registerEsText("nst_meta", nestSchema, nestRows,
      Map("repo.name" -> true))
    val meta = EsDiscovery.mappingMeta(
      new HttpRestClient(LoopbackRestServer.ensureStarted()), "nst_meta")
    assert(meta.analyzed == Map("repo.name" -> Some("repo.name.keyword")),
      s"nested text subfield must surface with its dotted path: ${meta.analyzed}")
    assert(meta.schema("repo").dataType.isInstanceOf[StructType])
  }

  test("server eval: nested text matches analyzed tokens raw, value via .keyword") {
    val tf = Map("repo.name" -> true)
    def n(s: String) = EsDsl.M.readTree(s)
    // raw reference = analyzed terms: the exact value matches NOTHING...
    assert(!nestRows.exists(r => EsDsl.eval(
      n("""{"term":{"repo.name":"Project Alpha 1"}}"""), r, nestSchema, tf)))
    // ...but a lowercased token matches every row (the silent hazard)
    assert(nestRows.forall(r => EsDsl.eval(
      n("""{"term":{"repo.name":"alpha"}}"""), r, nestSchema, tf)))
    // the .keyword multi-field is the exact raw value
    assert(nestRows.count(r => EsDsl.eval(
      n("""{"term":{"repo.name.keyword":"Project Alpha 1"}}"""), r, nestSchema, tf))
      == nestRows.count(_(1).asInstanceOf[org.apache.spark.sql.Row]
        .getString(0) == "Project Alpha 1"))
    // non-analyzed nested keyword subfield targets raw directly
    assert(nestRows.count(r => EsDsl.eval(
      n("""{"term":{"repo.lang":"scala"}}"""), r, nestSchema, tf)) == 20)
    // nested numeric range resolves through the struct
    assert(nestRows.count(r => EsDsl.eval(
      n("""{"range":{"repo.stars":{"gte":100,"lt":200}}}"""), r, nestSchema, tf)) == 10)
    // unmapped nested path matches nothing (no phantom .keyword)
    assert(!nestRows.exists(r => EsDsl.eval(
      n("""{"term":{"repo.lang.keyword":"scala"}}"""), r, nestSchema, tf)))
  }

  test("DSv2 scan: exact value on a nested analyzed field returns right rows") {
    LoopbackRestServer.registerEsText("nst1", nestSchema, nestRows,
      Map("repo.name" -> true))
    val base = LoopbackRestServer.ensureStarted()
    val meta = EsDiscovery.mappingMeta(new HttpRestClient(base), "nst1")
    WireEndpoints.register(EsEndpoint("estest", "nst1", meta.schema,
      EsEndpointSpec(base, "nst1", WireClientConfig(pageSize = 64, retryBackoffMs = 5)),
      analyzed = meta.analyzed))
    if (SourceRegistry.get("estest").isEmpty)
      SourceRegistry.register(SourceDef("estest",
        new java.io.File(sys.props("user.dir"), "target/graft-test/estest").getPath,
        "json", "es"))
    SourceRegistry.ensureCatalog(spark)
    val t = s"${SourceRegistry.CatalogName}.estest.nst1"
    val got = spark.table(t)
      .filter(col("repo.name") === "Project Alpha 1" && col("repo.stars") >= 100)
      .select("id").collect().map(_.getLong(0)).sorted
    val want = nestRows.filter { r =>
      val repo = r(1).asInstanceOf[org.apache.spark.sql.Row]
      repo.getString(0) == "Project Alpha 1" && repo.getLong(2) >= 100
    }.map(_(0).asInstanceOf[Long]).sorted
    assert(got.toSeq == want.toSeq && want.nonEmpty)
    // whether Spark pushed the nested predicate or polyfilled it, the
    // exact VALUE must never ride a raw term on the analyzed path — that
    // query matches analyzed tokens, not values
    val body = LoopbackRestServer.lastBody.get()
    assert(!body.contains(""""repo.name":"Project"""),
      s"raw term on an analyzed nested field shipped: $body")
  }

  // ---- multi-key grouped aggregation (composite) ----------------------------

  test("multi-key GROUP BY pushes as a composite aggregation paged by after_key") {
    val s2 = StructType(Seq(StructField("seg", StringType),
      StructField("cat", StringType), StructField("v", LongType)))
    val rs: Seq[Array[Any]] = (0L until 120L).map { i =>
      Array[Any](
        if (i % 3 == 0) "A" else if (i % 3 == 1) "B" else null,
        if (i % 2 == 0) "x" else "y",
        if (i % 10 == 9) null else i)
    }
    LoopbackRestServer.register("comp1", s2, rs)
    val base = LoopbackRestServer.ensureStarted()
    // page size 2 over 6 groups forces THREE after_key round-trips
    WireEndpoints.register(EsEndpoint("estest", "comp1", s2,
      EsEndpointSpec(base, "comp1", WireClientConfig(retryBackoffMs = 5),
        compositePageSize = 2)))
    SourceRegistry.ensureCatalog(spark)
    val served0 = LoopbackRestServer.served.get()
    val df = spark.table(s"${SourceRegistry.CatalogName}.estest.comp1")
      .groupBy("seg", "cat")
      .agg(count(lit(1)).as("n"), sum("v").as("sum_v"), count("v").as("n_v"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"complete pushdown must leave NO engine aggregate:\n$plan")
    val got = df.collect().map(r => (r.getString(0), r.getString(1)) ->
      ((r.getLong(2), if (r.isNullAt(3)) null else r.getLong(3), r.getLong(4)))).toMap
    val want = rs.groupBy(r => (r(0).asInstanceOf[String], r(1).asInstanceOf[String]))
    assert(got.size == want.size && want.size == 6)
    want.foreach { case (k, grp) =>
      val vs = grp.map(_(2)).filter(_ != null).map(_.asInstanceOf[Long])
      val expSum: Any = if (vs.isEmpty) null else vs.sum
      assert(got(k) == ((grp.size.toLong, expSum, vs.size.toLong)), s"group $k")
    }
    assert(got.keys.exists(_._1 == null),
      "missing_bucket must carry the SQL NULL group")
    assert(LoopbackRestServer.served.get() - served0 >= 3,
      "6 groups at page size 2 must take multiple after_key pages")
    val body = LoopbackRestServer.lastBody.get()
    assert(body.contains("\"composite\"") && body.contains("\"after\""),
      s"the last page must carry the after_key cursor: $body")
    assert(body.contains("missing_bucket"), body)
  }

  test("composite group on analyzed text retargets to .keyword per source") {
    val t = textTable("comp2")
    val df = spark.table(t).groupBy("title", "tag")
      .agg(count(lit(1)).as("n"))
    assert(!df.queryExecution.executedPlan.toString.contains("HashAggregate"))
    val got = df.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val want = txtRows.groupBy(r => (r(1).asInstanceOf[String], r(3).asInstanceOf[String]))
      .view.mapValues(_.size.toLong).toMap
    assert(got == want)
    assert(LoopbackRestServer.lastBody.get().contains("title.keyword"),
      s"analyzed sources must target the keyword subfield: ${LoopbackRestServer.lastBody.get()}")
    // body has NO keyword subfield: the whole aggregate declines
    val poly = spark.table(t).groupBy("body", "tag").agg(count(lit(1)).as("n"))
    assert(poly.queryExecution.executedPlan.toString.contains("Aggregate"),
      "grouping on unretargetable text must polyfill")
    assert(poly.collect().length == 14) // 7 body values x 2 tags
  }

  // ---- TopN over pushed aggregates (ordered composite sources) -------------

  test("TopN over a pushed aggregate rides ordered composite sources, early-terminated") {
    val s2 = StructType(Seq(StructField("seg", StringType),
      StructField("cat", StringType), StructField("v", LongType)))
    val rs: Seq[Array[Any]] = (0L until 120L).map { i =>
      Array[Any](
        if (i % 3 == 0) "A" else if (i % 3 == 1) "B" else null,
        if (i % 2 == 0) "x" else "y",
        if (i % 10 == 9) null else i)
    }
    LoopbackRestServer.register("aggtopn1", s2, rs)
    val base = LoopbackRestServer.ensureStarted()
    WireEndpoints.register(EsEndpoint("estest", "aggtopn1", s2,
      EsEndpointSpec(base, "aggtopn1", WireClientConfig(retryBackoffMs = 5),
        compositePageSize = 2)))
    SourceRegistry.ensureCatalog(spark)
    val served0 = LoopbackRestServer.served.get()
    // 6 groups; window = top 2 by (seg DESC NULLS LAST, cat ASC)
    val df = spark.table(s"${SourceRegistry.CatalogName}.estest.aggtopn1")
      .groupBy("seg", "cat").agg(count(lit(1)).as("n"))
      .orderBy(col("seg").desc, col("cat"))
      .limit(2)
    val wantCounts = rs.groupBy(r => (r(0), r(1))).view.mapValues(_.size.toLong)
    val got = df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq(("B", "x", wantCounts(("B", "x"))),
      ("B", "y", wantCounts(("B", "y")))), got.mkString(", "))
    // sources stream in the REQUESTED order and the window fits one page:
    // exactly ONE composite request, not an exhaustive after_key walk
    assert(LoopbackRestServer.served.get() - served0 == 1,
      "a window that fits one page must stop the cursor")
    val body = LoopbackRestServer.lastBody.get()
    assert(body.contains("\"order\":\"desc\"") &&
      body.contains("\"missing_order\":\"last\""), body)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"the grouped window must not resurrect an engine aggregate:\n$plan")
  }

  test("a single-key ordered grouped window routes through the composite") {
    val t = table("aggtopn2")
    val df = spark.table(t).groupBy("seg").agg(count(lit(1)).as("n"))
      .orderBy(col("seg")) // ASC NULLS FIRST: the null group leads
      .limit(2)
    val want = rows.groupBy(_(1)).view.mapValues(_.size.toLong)
    val got = df.collect().map(r => (Option(r.getString(0)), r.getLong(1)))
    assert(got.toSeq == Seq((None, want(null)), (Some("A"), want("A"))),
      got.mkString(", "))
    val body = LoopbackRestServer.lastBody.get()
    assert(body.contains("\"composite\"") &&
      body.contains("\"missing_order\":\"first\""), body)
    assert(!df.queryExecution.executedPlan.toString.contains("HashAggregate"))
  }

  test("a sort on the aggregate OUTPUT declines (approximate terms order refused)") {
    val t = table("aggtopn3")
    val df = spark.table(t).groupBy("seg").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc).limit(1)
    val want = rows.groupBy(_(1)).view.mapValues(_.size.toLong).values.max
    assert(df.collect().head.getLong(1) == want)
    // the unordered terms body served it; no order ever reached the wire
    assert(!LoopbackRestServer.lastBody.get().contains("\"order\""),
      LoopbackRestServer.lastBody.get())
  }

  test("runtime group-key pruning shuts off under a pushed grouped window") {
    val t = table("aggtopn4")
    val dim = spark.range(0, 3).filter(col("id") === 0L)
      .select(when(col("id") === 0L, "B").otherwise("Z").as("dseg"))
    // the true top-1 group by seg ASC NULLS FIRST is the NULL group,
    // which the equi-join then drops — nothing joins. A runtime seg
    // filter below the window would window the FILTERED set, admit
    // group B, and wrongly answer one row.
    val win = spark.table(t).groupBy("seg").agg(count(lit(1)).as("n"))
      .orderBy(col("seg")).limit(1)
    val df = win.join(broadcast(dim), col("seg") === col("dseg"))
    assert(df.collect().isEmpty,
      "the true top-1 group is NULL — nothing may join through")
    assert(!LoopbackRestServer.lastBody.get().contains("\"seg\":[\"B\"]"),
      s"no runtime terms may reach a sorted grouped scan: ${LoopbackRestServer.lastBody.get()}")
  }

  // ---- runtime semi-join reduction (dynamic filtering) ---------------------

  test("a broadcast dim join ships the build-side keys as a runtime terms filter") {
    val t = table("dyn_es1")
    // range() keeps the selective Filter alive through optimization
    // (Filter-over-LocalRelation folds away, and DPP needs it live)
    val dim = spark.range(0, 31).filter(col("id").isin(5L, 10L, 20L))
      .select(col("id").as("dim_id"))
    val df = spark.table(t)
      .join(broadcast(dim), col("id") === col("dim_id"))
      .select("id", "seg")
    val got = df.collect().map(_.getLong(0)).toSet
    assert(got == Set(5L, 10L, 20L))
    val body = LoopbackRestServer.lastBody.get()
    assert(body.contains("\"terms\"") && body.contains("\"id\":[5,10,20]"),
      s"the build-side keys must ship as a terms filter: $body")
  }

  test("runtime pruning on analyzed text retargets to .keyword; no-subfield text declines") {
    val t = textTable("dyn_es2")
    val dim = spark.range(0, 5).filter(col("id") === 3L)
      .select(concat(lit("Title "), col("id").cast("string")).as("dtitle"))
    val df = spark.table(t).join(broadcast(dim), col("title") === col("dtitle"))
      .select("id")
    val got = df.collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (0L until 60L).filter(_ % 5 == 3).toSeq)
    val body = LoopbackRestServer.lastBody.get()
    assert(body.contains("\"title.keyword\":[\"Title 3\"]"),
      s"runtime terms on analyzed text must target the keyword subfield: $body")

    // `body` has NO keyword subfield: the scan must decline the runtime
    // filter (terms on the raw field would match analyzed tokens, not
    // values — silently dropping every matching row) and stay correct
    val dim2 = spark.range(0, 7).filter(col("id") === 4L)
      .select(concat(lit("Body text "), col("id").cast("string")).as("dbody"))
    val df2 = spark.table(t).join(broadcast(dim2), col("body") === col("dbody"))
      .select("id")
    val got2 = df2.collect().map(_.getLong(0)).sorted.toSeq
    assert(got2 == (0L until 60L).filter(_ % 7 == 4).toSeq)
    assert(!LoopbackRestServer.lastBody.get().contains("Body text 4"),
      s"a non-retargetable runtime key must never ship: ${LoopbackRestServer.lastBody.get()}")
  }

  test("runtime terms AND into the composite multi-key aggregation body") {
    val t = table("dyn_es3")
    val dim = spark.range(0, 3).filter(col("id") === 0L)
      .select(when(col("id") === 0L, "A").otherwise("Z").as("dseg"))
    val agg = spark.table(t).groupBy("seg", "name").agg(count(lit(1)).as("n"))
    val df = agg.join(broadcast(dim), col("seg") === col("dseg"))
    val got = df.collect()
    // every name is unique -> one group per qualifying row
    assert(got.length == rows.count(_(1) == "A"), s"${got.length}")
    assert(got.forall(_.getLong(2) == 1L))
    val body = LoopbackRestServer.lastBody.get()
    assert(body.contains("\"composite\""),
      s"multi-key groups must ride the composite aggregation: $body")
    assert(body.contains("\"terms\"") && body.contains("\"seg\":[\"A\"]"),
      s"the runtime terms must AND into the composite body's query: $body")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"dynamic filtering must compose with COMPLETE composite pushdown:\n$plan")
  }

  // ---- TopN pushdown (sort + size in one coordinated search) --------------

  test("ORDER BY + LIMIT pushes as the body sort with exact null placement") {
    val t = table("topn1")
    val pits0 = LoopbackRestServer.esPitOpens.get()
    val served0 = LoopbackRestServer.served.get()
    val df = spark.table(t).select("id", "bal")
      .orderBy(col("bal").desc, col("id")).limit(3)
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(399L, 398L, 397L))
    assert(LoopbackRestServer.served.get() - served0 == 1,
      "a sorted window is ONE coordinated search")
    assert(LoopbackRestServer.esPitOpens.get() == pits0,
      "no PIT context for a sorted window")
    val body = LoopbackRestServer.lastBody.get()
    assert(body.contains("\"sort\"") && body.contains("\"order\":\"desc\"") &&
      body.contains("\"missing\":\"_last\""), body)
    assert(df.rdd.getNumPartitions == 1, "fan-out collapses under a pushed sort")

    // non-default null placement rides an explicit `missing: _first`;
    // null segs are ids ≡ 2 (mod 3)
    val nf = spark.table(t).select("id", "seg")
      .orderBy(col("seg").desc_nulls_first, col("id")).limit(2)
    assert(nf.collect().map(_.getLong(0)).toSeq == Seq(2L, 5L))
    assert(LoopbackRestServer.lastBody.get().contains("\"missing\":\"_first\""),
      LoopbackRestServer.lastBody.get())
  }

  test("text sorts retarget to .keyword; no sub-field or big windows decline") {
    val t = textTable("topn_txt")
    val df = spark.table(t).select("id", "title")
      .orderBy(col("title"), col("id")).limit(2)
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(0L, 5L))
    assert(LoopbackRestServer.lastBody.get().contains("\"title.keyword\""),
      s"a text sort must target the keyword sub-field: ${LoopbackRestServer.lastBody.get()}")

    // `body` has no keyword sub-field -> decline, engine sorts the
    // stream (the fallback's PIT cursor sort on _shard_doc is fine;
    // a CUSTOM sort always carries the explicit `missing` placement)
    val noKw = spark.table(t).select("id", "body")
      .orderBy(col("body"), col("id")).limit(3)
    assert(noKw.collect().map(_.getLong(0)).toSeq == Seq(0L, 7L, 14L))
    assert(!LoopbackRestServer.lastBody.get().contains("\"missing\""),
      "a raw-text sort must never ship (fielddata is disabled on text)")

    // a window beyond index.max_result_window declines (from+size cap)
    val big = spark.table(t).select("id").orderBy(col("id")).limit(10001)
    assert(big.collect().length == 60)
    assert(!LoopbackRestServer.lastBody.get().contains("\"missing\""),
      "a 10k+ window must decline to the full-stream polyfill")
  }

  test("a pushed sorted window declines runtime semi-join filters (soundness)") {
    val t = table("topn_dyn")
    // the dim keys only the LOWEST-bal row: if the runtime terms leaked
    // beneath the pushed sort, the server would answer top-3 OF THE
    // FILTERED subset (row 0) and the join would emit a row the true
    // top-3-then-join answer cannot contain
    val dim = spark.range(0, 1).select(col("id").as("did"))
    val top = spark.table(t).select("id", "bal")
      .orderBy(col("bal").desc, col("id")).limit(3)
    val joined = top.join(broadcast(dim), col("id") === col("did"))
    assert(joined.collect().isEmpty,
      "top-3 by bal desc excludes id 0 — the join must be empty")
    assert(!LoopbackRestServer.lastBody.get().contains("\"id\":[0]"),
      s"no runtime terms may ride a sorted window: ${LoopbackRestServer.lastBody.get()}")
  }

  test("TopN above a pushed aggregate declines and stays exact") {
    val t = table("topn_agg")
    val df = spark.table(t).groupBy("seg").agg(count(lit(1)).as("n"))
      .orderBy(col("seg").asc_nulls_first).limit(2)
    val got = df.collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toSeq
    assert(got == Seq(None -> 133L, Some("A") -> 134L), s"$got")
    assert(!LoopbackRestServer.lastBody.get().contains("\"sort\""),
      "bucket responses carry no hit sort — the window stays engine-side")
  }
}
