package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources._

/** The REST connector's NETWORK half: a real pooled HTTP client against
  * the loopback socket backend — paging, pushdown-to-query-string,
  * retry/backoff on 5xx and timeouts, fail-fast on 4xx, and live-sample
  * schema inference over the wire. */
class HttpRestSpec extends AnyFunSuite {

  private lazy val spark = org.apache.spark.sql.SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("grp", LongType),
    StructField("name", StringType), StructField("score", DoubleType)))
  private val rows: Seq[Array[Any]] = (0L until 300L).map(i =>
    Array[Any](i, i % 7, s"name_$i", i * 0.5))

  private def freshClient(cfg: HttpRestConfig = HttpRestConfig()) = {
    LoopbackRestServer.register("items", schema, rows)
    val base = LoopbackRestServer.ensureStarted()
    LoopbackRestServer.failNext.set(0)
    LoopbackRestServer.delayMs.set(0)
    LoopbackRestServer.pageCap.set(0)
    new HttpRestClient(base, cfg)
  }

  test("paged scan returns every row across multiple HTTP pages") {
    val client = freshClient(HttpRestConfig(pageSize = 50))
    val served0 = LoopbackRestServer.served.get()
    val lines = client.pagedLines("/t/items", Map.empty).toSeq
    assert(lines.size == 300)
    // 300 rows at size-50 pages: six full + the short terminator page
    assert(LoopbackRestServer.served.get() - served0 >= 6)
    assert(lines.head.contains("\"name\""))
  }

  test("responses ride gzip when large; tiny bodies stay plain") {
    val client = freshClient(HttpRestConfig(pageSize = 200))
    val gz0 = LoopbackRestServer.gzipServed.get()
    // a 200-row JSON page is far above the gzip floor: the server must
    // compress it and the client must inflate it transparently
    val lines = client.pagedLines("/t/items", Map.empty).toSeq
    assert(lines.size == 300)
    assert(lines.head.contains("\"name\""), "inflated content must be the JSON page")
    assert(LoopbackRestServer.gzipServed.get() > gz0,
      "a large page must actually have been served compressed")
    // a 1-row response is under the floor: served uncompressed
    val gz1 = LoopbackRestServer.gzipServed.get()
    assert(client.pagedLines("/t/items", Map("limit" -> "1")).size == 1)
    assert(LoopbackRestServer.gzipServed.get() == gz1,
      "tiny bodies must not pay the gzip overhead")
  }

  test("equality params filter server-side; limit stops fetching early") {
    val client = freshClient(HttpRestConfig(pageSize = 10))
    val lines = client.pagedLines("/t/items", Map("grp" -> "3")).toSeq
    assert(lines.size == rows.count(r => r(1) == 3L))
    assert(LoopbackRestServer.lastParams.get().get("grp").contains("3"))
    val served0 = LoopbackRestServer.served.get()
    assert(client.pagedLines("/t/items", Map("limit" -> "10")).size == 10)
    // one 10-row page satisfies the limit: no second fetch
    assert(LoopbackRestServer.served.get() - served0 == 1)
  }

  test("transient 5xx failures retry with backoff and recover") {
    val client = freshClient(HttpRestConfig(pageSize = 500, retryBackoffMs = 5))
    LoopbackRestServer.failNext.set(2)
    val r0 = client.retries.get()
    assert(client.pagedLines("/t/items", Map.empty).size == 300)
    assert(client.retries.get() - r0 == 2, "two injected 500s = two retries")
  }

  test("persistent failure surfaces after maxRetries; 4xx fails fast") {
    val client = freshClient(HttpRestConfig(maxRetries = 2, retryBackoffMs = 5))
    LoopbackRestServer.failNext.set(10)
    val e = intercept[java.io.IOException](client.get("/t/items", Map.empty))
    assert(e.getMessage.contains("after 3 attempts"))
    LoopbackRestServer.failNext.set(0)
    val req0 = client.requests.get()
    val e4 = intercept[java.io.IOException](client.get("/t/nope", Map.empty))
    assert(e4.getMessage.contains("404"))
    assert(client.requests.get() - req0 == 1, "4xx must not retry")
  }

  test("hung backend times out, retries, then recovers when latency clears") {
    val client = freshClient(HttpRestConfig(
      requestTimeoutMs = 150, maxRetries = 4, retryBackoffMs = 120))
    LoopbackRestServer.delayMs.set(1000)
    // clear the injected latency while the client is backing off: the
    // retry loop must recover instead of failing the scan
    new Thread(() => { Thread.sleep(400); LoopbackRestServer.delayMs.set(0) }).start()
    try {
      val lines = client.pagedLines("/t/items", Map("limit" -> "5")).toSeq
      assert(lines.size == 5)
      assert(client.retries.get() >= 1, "the slow request must have timed out at least once")
    } finally LoopbackRestServer.delayMs.set(0)
  }

  test("live-sample schema inference rides the socket (mongo-style sampling)") {
    val client = freshClient()
    val ep = RestEndpoints.registerSampled(
      "httptest", "items_inferred", Set("grp"),
      q => client.pagedLines("/t/items", q))
    // JSON-sampled types promote through the widen lattice
    assert(ep.schema("id").dataType == LongType)
    assert(ep.schema("name").dataType == StringType)
    assert(ep.schema("score").dataType == DoubleType)
  }

  test("DSv2 scan through the socket: pushdown params reach the server") {
    val client = freshClient()
    LoopbackRestServer.register("kv_api", schema, rows)
    RestEndpoints.registerHttp("api_live", "kv_api", Set("grp"),
      client, "/t/kv_api", Some(schema))
    if (SourceRegistry.get("api_live").isEmpty)
      SourceRegistry.register(SourceDef("api_live",
        new java.io.File(sys.props("user.dir"), "target/graft-test/api_live").getPath,
        "json", "rest"))
    SourceRegistry.ensureCatalog(spark)
    val df = spark.table(s"${SourceRegistry.CatalogName}.api_live.kv_api")
      .filter(col("grp") === 2 && col("score") > 10.0)
      .select("id", "name")
    val got = df.collect()
    assert(got.length == rows.count(r => r(1) == 2L && r(3).asInstanceOf[Double] > 10.0))
    // the equality pushed to the API; the range predicate was declined
    // and polyfilled by Spark — the server never saw it
    val seen = LoopbackRestServer.lastParams.get()
    assert(seen.get("grp").contains("2"))
    assert(!seen.contains("score"))
  }

  test("filterql endpoint: the WHOLE predicate tree ships; residual is empty") {
    val client = freshClient()
    LoopbackRestServer.registerRestApi("seg_items", schema, Set.empty,
      rows, filterQl = true)
    RestEndpoints.registerHttp("api_live", "seg_items", Set.empty,
      client, "/t/seg_items", Some(schema), filterQl = true)
    if (SourceRegistry.get("api_live").isEmpty)
      SourceRegistry.register(SourceDef("api_live",
        new java.io.File(sys.props("user.dir"), "target/graft-test/api_live").getPath,
        "json", "rest"))
    SourceRegistry.ensureCatalog(spark)
    val df = spark.table(s"${SourceRegistry.CatalogName}.api_live.seg_items")
      .filter((col("grp").isin(2, 3) || col("score") > 140.0) &&
        col("id") < 250 && col("name").endsWith("7"))
      .select("id", "name", "score")
    val got = df.collect()
    val expect = rows.count { r =>
      (Set(2L, 3L)(r(1).asInstanceOf[Long]) || r(3).asInstanceOf[Double] > 140.0) &&
        r(0).asInstanceOf[Long] < 250 && r(2).asInstanceOf[String].endsWith("7")
    }
    assert(got.length == expect && expect > 0)
    // the server applied it: one filterql statement arrived and held
    // every conjunct — range, IN, OR tree, LIKE
    val stmt = LoopbackRestServer.lastParams.get().getOrElse("filterql", "")
    assert(stmt.contains("IN") && stmt.contains("OR") && stmt.contains("LIKE")
      && stmt.contains("id < 250"), s"incomplete statement: $stmt")
    // ...and Spark planned NO residual filter above the scan
    val residual = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FilterExec => f
    }
    assert(residual.isEmpty,
      s"residual filter survived full pushdown:\n${df.queryExecution.executedPlan}")
  }

  test("filterql: EXISTS + NOT ship through the DSv2 path with 3VL; residual empty") {
    val client = freshClient()
    val nschema = StructType(Seq(
      StructField("id", LongType), StructField("tag", StringType)))
    val nrows: Seq[Array[Any]] = (1L to 30L).map { i =>
      Array[Any](i, if (i % 3 == 0) null else s"tag-${i % 7}")
    }
    LoopbackRestServer.registerRestApi("seg_opt", nschema, Set.empty,
      nrows, filterQl = true)
    RestEndpoints.registerHttp("api_live", "seg_opt", Set.empty,
      client, "/t/seg_opt", Some(nschema), filterQl = true)
    if (SourceRegistry.get("api_live").isEmpty)
      SourceRegistry.register(SourceDef("api_live",
        new java.io.File(sys.props("user.dir"), "target/graft-test/api_live").getPath,
        "json", "rest"))
    SourceRegistry.ensureCatalog(spark)
    val df = spark.table(s"${SourceRegistry.CatalogName}.api_live.seg_opt")
      .filter(!(col("tag") === "tag-3") && col("id") <= 25)
    val got = df.collect().map(_.getLong(0)).sorted.toSeq
    // SQL 3VL on the wire: NULL-tag rows stay UNKNOWN under the NOT and
    // are dropped by the SERVER; a two-valued evaluator would keep them
    val expect = (1L to 25L).filter(i => i % 3 != 0 && i % 7 != 3)
    assert(got == expect, s"3VL drift: got ${got.mkString(",")}")
    val stmt = LoopbackRestServer.lastParams.get().getOrElse("filterql", "")
    // Catalyst infers IsNotNull from the null-intolerant NOT-equality,
    // so the statement carries BOTH dialect forms
    assert(stmt.contains("EXISTS tag") && stmt.contains("NOT ("),
      s"statement must carry EXISTS and NOT: $stmt")
    val residual = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FilterExec => f
    }
    assert(residual.isEmpty,
      s"residual filter survived full pushdown:\n${df.queryExecution.executedPlan}")
  }

  test("filterql server enforces: 3VL on the wire, 400s on bad statements") {
    val client = freshClient(HttpRestConfig(maxRetries = 1))
    val nullable = StructType(Seq(
      StructField("id", LongType), StructField("tag", StringType)))
    val nrows: Seq[Array[Any]] = Seq(
      Array[Any](1L, "x"), Array[Any](2L, "y"), Array[Any](3L, null))
    LoopbackRestServer.registerRestApi("seg_null", nullable, Set.empty,
      nrows, filterQl = true)
    // NOT(tag = "x") under SQL 3VL: the NULL row stays UNKNOWN → dropped
    val kept = client.pagedLines("/t/seg_null",
      Map("filterql" -> """NOT ( tag = "x" )""")).toSeq
    assert(kept.size == 1 && kept.head.contains("\"y\""),
      s"3VL violated: $kept")
    // malformed statement → 400, fail fast (no retry storm)
    intercept[Exception](client.pagedLines("/t/seg_null",
      Map("filterql" -> "tag == 5")).toSeq)
    // unknown field → 400
    intercept[Exception](client.pagedLines("/t/seg_null",
      Map("filterql" -> "nope = 1")).toSeq)
    // a listing that never declared the capability treats "filterql" as
    // an ordinary param (a genuine column of that name keeps its
    // param-equality meaning — r13 advice); /t/items has no such column,
    // so the param matches nothing rather than 400ing
    assert(client.pagedLines("/t/items",
      Map("filterql" -> "id = 1")).toSeq.isEmpty)
    // and a plain listing WITH a column literally named "filterql" still
    // filters on it as a param equality
    val qlCol = StructType(Seq(
      StructField("id", LongType), StructField("filterql", StringType)))
    val qlRows: Seq[Array[Any]] =
      Seq(Array[Any](1L, "keep"), Array[Any](2L, "drop"))
    LoopbackRestServer.registerRestApi("seg_qlcol", qlCol, Set("filterql"),
      qlRows)
    val byCol = client.pagedLines("/t/seg_qlcol",
      Map("filterql" -> "keep")).toSeq
    assert(byCol.size == 1 && byCol.head.contains("\"keep\""), s"$byCol")
  }

  test("sliced scan over a filterql listing tiles the FILTERED rows exactly once") {
    val client = freshClient(HttpRestConfig(pageSize = 16))
    LoopbackRestServer.registerRestApi("seg_sliced", schema, Set.empty,
      rows, filterQl = true)
    val q = Map("filterql" -> """AND ( grp >= 2, grp <= 4, id < 200 )""")
    val slices = (0 until 4).map(i =>
      client.pagedLinesSliced("/t/seg_sliced", q, i, 4).toSeq)
    val all = slices.flatten
    val expect = rows.filter(r => r(1).asInstanceOf[Long] >= 2 &&
      r(1).asInstanceOf[Long] <= 4 && r(0).asInstanceOf[Long] < 200)
    assert(all.size == expect.size, s"${all.size} vs ${expect.size}")
    // no row lost or duplicated across the stride
    assert(all.distinct.size == all.size)
    // every slice saw the same statement (the filter rides each request)
    assert(LoopbackRestServer.lastParams.get().get("filterql").contains(q("filterql")))
  }

  test("catalog route advertises filterql; discovery carries it through") {
    val client = freshClient()
    LoopbackRestServer.registerRestApi("seg_items", schema, Set.empty,
      rows, filterQl = true)
    LoopbackRestServer.registerRestApi("plain_items", schema, Set("grp"), rows)
    val apis = graft.sources.RestDiscovery.listApis(client)
    assert(apis.exists(a => a._1 == "seg_items" && a._3),
      s"seg_items must advertise filterql: $apis")
    assert(apis.exists(a => a._1 == "plain_items" && !a._3 && a._2 == Set("grp")))
  }

  test("sliced paging covers every row exactly once; limit caps per slice") {
    val client = freshClient(HttpRestConfig(pageSize = 32))
    // 300 rows over 4 strided slices of 32-row pages
    val slices = (0 until 4).map(i =>
      client.pagedLinesSliced("/t/items", Map.empty, i, 4).toSeq)
    assert(slices.map(_.size).sum == 300)
    val ids = slices.flatten.map(l =>
      EsDsl.M.readTree(l).path("id").asLong()).sorted
    assert(ids == (0L until 300L), "slices must tile the listing exactly once")
    assert(slices.forall(_.nonEmpty), "a 300-row listing feeds all 4 slices")
    // a pushed (partial) limit caps each slice independently
    assert(client.pagedLinesSliced("/t/items", Map("limit" -> "10"), 1, 4).size == 10)
  }

  test("server page caps: sequential paging resumes losslessly, sliced fails loudly") {
    val client = freshClient(HttpRestConfig(pageSize = 32))
    LoopbackRestServer.pageCap.set(10)
    try {
      // sequential paging advances by the RECEIVED count: a server that
      // caps every page at 10 rows still yields all 300, never a loss
      val lines = client.pagedLines("/t/items", Map.empty).toSeq
      assert(lines.size == 300)
      // strided slicing cannot tolerate capped pages (offsets would
      // misalign) — it must detect the cap and fail loudly, not drop rows
      val e = intercept[java.io.IOException](
        client.pagedLinesSliced("/t/items", Map.empty, 0, 4).toSeq)
      assert(e.getMessage.contains("caps page sizes"))
      // ...unless a pushed limit is already satisfied by the received
      // rows — then the short page is moot and no spurious error fires
      assert(client.pagedLinesSliced("/t/items", Map("limit" -> "5"), 0, 4)
        .size == 5)
    } finally LoopbackRestServer.pageCap.set(0)
  }

  test("REST scan fan-out: slices tile the scan, node_ct hint overrides") {
    val client = freshClient(HttpRestConfig(pageSize = 32))
    LoopbackRestServer.register("kv_fan", schema, rows)
    RestEndpoints.registerHttp("api_live", "kv_fan", Set("grp"),
      client, "/t/kv_fan", Some(schema), slices = 3)
    if (SourceRegistry.get("api_live").isEmpty)
      SourceRegistry.register(SourceDef("api_live",
        new java.io.File(sys.props("user.dir"), "target/graft-test/api_live").getPath,
        "json", "rest"))
    SourceRegistry.ensureCatalog(spark)
    val t = s"${SourceRegistry.CatalogName}.api_live.kv_fan"

    def scanParts(df: org.apache.spark.sql.DataFrame): Seq[Int] = {
      def unwrap(p: org.apache.spark.sql.execution.SparkPlan)
          : org.apache.spark.sql.execution.SparkPlan = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case other => other
      }
      unwrap(df.queryExecution.executedPlan).collectLeaves().collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputPartitions.size
      }
    }

    val df = spark.table(t).select("id")
    assert(scanParts(df) == Seq(3), "endpoint default slices plan 3 partitions")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == (0L until 300L),
      "fan-out must not change the result")
    // a pushed equality still filters server-side in every slice
    val filtered = spark.table(t).filter(col("grp") === 2).select("id")
    assert(filtered.collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 300L).filter(_ % 7 == 2))
    // the statement-level node_ct hint (engine WITH clause) overrides
    val hinted = spark.read.option(WireFanout.OptionKey, "5")
      .table(t).select("id")
    assert(scanParts(hinted) == Seq(5))
    assert(hinted.count() == 300L)
  }

  // ---- Kubernetes-shaped tables ------------------------------------------

  private def kubeFixture(): String = {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    LoopbackKubeServer.register("pods", (0L until 30L).map { k =>
      Array[Any]("Pod", s"pod-$k", if (k % 2 == 0) "default" else "prod",
        s"uid-$k", s"""{"app":"app-${k % 3}"}""", t0,
        if (k % 4 == 0) "Pending" else "Running", s"192.168.0.${k % 5}",
        if (k % 4 == 0) null else s"10.0.0.$k", s"node-${k % 3}",
        "Always", Boolean.box(k % 5 == 0))
    })
    LoopbackKubeServer.register("nodes", (0L until 3L).map { k =>
      Array[Any]("Node", s"node-$k", null, s"uid-n$k", s"""{"region":"r0"}""",
        t0, Boolean.box(false), s"10.$k.0.0/16", "amd64", "v1.28.0")
    })
    LoopbackKubeServer.register("services", (0L until 4L).map { k =>
      Array[Any]("Service", s"svc-$k", "default", s"uid-s$k",
        s"""{"tier":"t${k % 2}"}""", t0, s"172.20.0.$k",
        if (k % 2 == 0) "ClusterIP" else "NodePort", "None", null)
    })
    val baseUrl = LoopbackRestServer.ensureStarted()
    Seq("pods", "nodes", "services").foreach(res =>
      WireEndpoints.register(KubeEndpoint("k8stest", res,
        KubeEndpointSpec(baseUrl, res, HttpRestConfig(retryBackoffMs = 5)))))
    if (SourceRegistry.get("k8stest").isEmpty)
      SourceRegistry.register(SourceDef("k8stest",
        new java.io.File(sys.props("user.dir"), "target/graft-test/k8stest").getPath,
        "json", "kube"))
    SourceRegistry.ensureCatalog(spark)
    s"${SourceRegistry.CatalogName}.k8stest"
  }

  test("pods list: fieldSelector pushdown, nested-document flattening") {
    val ns = kubeFixture()
    val df = spark.table(s"$ns.pods")
      .filter(col("namespace") === "default" && col("phase") === "Running")
      .select("name", "nodename", "podip")
    val got = df.collect()
    assert(got.length == (0L until 30L).count(k => k % 2 == 0 && k % 4 != 0))
    assert(got.forall(r => r.getString(2) != null))
    // both equalities rode the API's own selector surface
    val sel = LoopbackRestServer.lastParams.get().getOrElse("fieldSelector", "")
    assert(sel.contains("metadata.namespace=default") &&
      sel.contains("status.phase=Running"), sel)
  }

  test("non-selector predicates polyfill; nodes and services read typed") {
    val ns = kubeFixture()
    // hostnetwork has no fieldSelector form: declined, Spark polyfills
    val hn = spark.table(s"$ns.pods").filter(col("hostnetwork") === true)
    assert(hn.count() == (0L until 30L).count(_ % 5 == 0))
    assert(!LoopbackRestServer.lastParams.get().contains("fieldSelector"))
    val nodes = spark.table(s"$ns.nodes").orderBy("name").collect()
    assert(nodes.length == 3 && nodes(0).getAs[String]("podcidr") == "10.0.0.0/16")
    val svc = spark.table(s"$ns.services").filter(col("type") === "NodePort")
    assert(svc.count() == 2)
  }

  test("labels flatten to a JSON column; labelSelector filters server-side") {
    val ns = kubeFixture()
    val labeled = spark.table(s"$ns.pods")
      .filter(col("labels").contains(""""app":"app-1"""")) // engine-side JSON poke
    assert(labeled.count() == (0L until 30L).count(_ % 3 == 1))
    // the server's own selector surface (what a deployment's controller
    // sends): equality labelSelector filters before the response
    val client = freshClient()
    val resp = new com.fasterxml.jackson.databind.ObjectMapper().readTree(client.get("/k8s/api/v1/pods",
      Map("labelSelector" -> "app=app-2")))
    assert(resp.path("items").size() == (0L until 30L).count(_ % 3 == 2))
  }

  test("selector values containing commas/equals survive the wire (escaped)") {
    val ns = kubeFixture()
    // register a pod whose name contains selector metacharacters
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    LoopbackKubeServer.register("pods", Seq(
      Array[Any]("Pod", "a,b=c", "default", "uid-x", "{}", t0,
        "Running", "192.168.0.1", "10.0.0.1", "node-0", "Always",
        Boolean.box(false)),
      Array[Any]("Pod", "plain", "default", "uid-y", "{}", t0,
        "Running", "192.168.0.2", "10.0.0.2", "node-0", "Always",
        Boolean.box(false))))
    // the real API escapes \, and \= in selector values; a naive comma
    // join would make the server see a bogus term and answer 400
    val got = spark.table(s"$ns.pods").filter(col("name") === "a,b=c")
      .select("name", "podip").collect()
    assert(got.map(_.getString(0)).toSeq == Seq("a,b=c"))
    val sel = LoopbackRestServer.lastParams.get().getOrElse("fieldSelector", "")
    assert(sel.contains("metadata.name=a\\,b\\=c"), sel)
    // and a value that matches nothing returns empty, not an error
    assert(spark.table(s"$ns.pods").filter(col("name") === "x,y").count() == 0)
  }

  test("the API rejects unsupported fieldSelector keys with a 400") {
    kubeFixture()
    val client = freshClient()
    val e = intercept[Exception](client.get("/k8s/api/v1/pods",
      Map("fieldSelector" -> "spec.restartPolicy=Always")))
    assert(e.getMessage.contains("field label not supported"), e.getMessage)
    // and the limit parameter caps the listing (the real list API knob)
    val resp = new com.fasterxml.jackson.databind.ObjectMapper().readTree(client.get("/k8s/api/v1/pods",
      Map("limit" -> "7")))
    assert(resp.path("items").size() == 7)
  }
}
