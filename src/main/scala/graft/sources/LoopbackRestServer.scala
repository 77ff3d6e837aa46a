package graft.sources

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, AtomicReference}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** In-process loopback HTTP backend for tests and benchmarks: a real socket
  * listener (JDK HttpServer on 127.0.0.1) serving registered tables as
  * paged JSON lines — the stand-in for the live service a deployment
  * points [[HttpRestClient]] at. Equality params filter server-side
  * (the reference Lytics/ES shape), `from`/`size` window the listing,
  * and the fault-injection knobs (`failNext`, `delayMs`) let specs force
  * the client's retry/timeout paths over a genuine connection. */
object LoopbackRestServer extends FaultGate {

  final case class TableData(schema: StructType, rows: Seq[Array[Any]])

  private val tables = TrieMap.empty[String, TableData]
  private val serverRef = new AtomicReference[HttpServer](null)

  /** When > 0, the plain /t/ listing serves at most this many rows per
    * request regardless of the requested `size` — models real APIs that
    * cap page sizes (drives the clients' short-page contracts). */
  val pageCap = new AtomicInteger(0)
  /** The last query-string params seen (pushdown assertions). */
  val lastParams = new AtomicReference[Map[String, String]](Map.empty)

  /** Live ES scroll cursors (sliced-scroll reads): id -> the matched
    * rows not yet returned. Fixture-bounded (the registered tables live
    * in memory anyway) and capped, so an abandoned cursor — a reader
    * that stopped at a pushed LIMIT — cannot accumulate past the cap. */
  private final case class EsScroll(schema: StructType, total: Int,
      remaining: Seq[Array[Any]], size: Int)
  private val esScrolls = TrieMap.empty[String, EsScroll]
  private val esScrollSeq = new AtomicLong(0)
  private val EsScrollCap = 256
  /** Fault knob: when set, scroll CONTINUATIONS return short (half-size)
    * pages even though more results remain — the real cluster's uneven
    * shard-drain shape. A client that stops paging on a short batch
    * (instead of on the documented empty-hits signal) drops rows here. */
  val esScrollShortPages = new AtomicInteger(0)

  /** Live ES point-in-time contexts: id -> an immutable SNAPSHOT of the
    * index taken at open (a real PIT pins the segments it was opened
    * against, so a search through it never sees later writes). Unlike a
    * scroll the server holds NO paging cursor — `search_after` is client
    * state — so a retried continuation re-reads the same page and is
    * safe by construction.
    *
    * Lifetime is keep_alive-bounded like a real cluster's: clients that
    * die mid-scan never clean up, so every open sweeps contexts whose
    * keep_alive lapsed since their last touch (each search refreshes
    * the deadline). The hard cap is a backstop only — expiry is the
    * mechanism, so a live scan's context is never evicted by load.
    *
    * `matchedCache` memoizes the (slice, query)-filtered row list: the
    * snapshot is immutable, so continuations are a positional drop on a
    * precomputed vector instead of an O(snapshot) re-filter per page. */
  private final case class EsPit(index: String, schema: StructType,
      rows: IndexedSeq[Array[Any]], keepAliveMs: Long,
      lastTouch: AtomicLong,
      matchedCache: TrieMap[String, IndexedSeq[(Array[Any], Int)]] =
        TrieMap.empty)
  private val esPits = TrieMap.empty[String, EsPit]
  private val esPitSeq = new AtomicLong(0)
  private val EsPitCap = 1024
  /** PIT opens served (spec assertions: a sliced scan shares ONE pit). */
  val esPitOpens = new AtomicLong(0)
  /** Distinct pit ids NAMED BY SEARCHES since the last reset (spec
    * assertions: every slice task of one scan pages the same shared
    * context — opens alone can't prove it, Spark may plan a batch more
    * than once and the extra context is opened but never paged). */
  val esPitSearchIds = new AtomicReference[Set[String]](Set.empty)

  /** Parse ES duration literals ("30s", "1m", "100ms", "2h"). */
  private def parseKeepAlive(s: String): Long = {
    val m = "^(\\d+)(ms|s|m|h)$".r.findFirstMatchIn(s.trim).getOrElse(
      throw new IllegalArgumentException(s"bad keep_alive '$s'"))
    val n = m.group(1).toLong
    m.group(2) match {
      case "ms" => n
      case "s" => n * 1000L
      case "m" => n * 60000L
      case "h" => n * 3600000L
    }
  }

  private def sweepExpiredPits(): Unit = {
    val now = System.currentTimeMillis()
    esPits.foreach { case (id, pit) =>
      if (now - pit.lastTouch.get() > pit.keepAliveMs) esPits.remove(id)
    }
  }
  /** Fault knob: the next N `_search` requests carrying a non-empty
    * `search_after` answer 500 (one each). A client whose continuations
    * ride the retrying exchange recovers losslessly — the retried
    * request names the same page; the spec asserts value completeness. */
  val esPitFailSearchAfter = new AtomicInteger(0)
  /** Fault knob: the next N PIT searches RENEW the context id (the
    * shard-relocation shape — the response's pit_id differs and the old
    * id dies). The documented client contract is to use the most
    * recently returned pit_id; a client that keeps the open-time id
    * 404s on its next continuation. */
  val esPitRenewIds = new AtomicInteger(0)

  def register(name: String, schema: StructType, rows: Seq[Array[Any]]): Unit = {
    tablesVersion.incrementAndGet()
    tables.put(name.toLowerCase, TableData(schema, rows))
  }

  /** Bumped on every table registration/mutation — the BQ job-result
    * cache key component that keeps paged reads consistent with DML. */
  private val tablesVersion = new java.util.concurrent.atomic.AtomicLong(0)

  /** BigQuery jobs MATERIALIZE their result and `pageToken` pages the
    * stored rows — re-executing the statement per page (the naive
    * loopback shape) turns an N-page join read into N full joins. This
    * small cache IS the service semantics: key = (statement, table
    * version), capped and cleared wholesale when it grows past a test
    * run's working set. */
  private val bqJobCache = TrieMap.empty[(String, Long),
    (Seq[String], Seq[org.apache.spark.sql.types.DataType], Seq[Seq[Any]])]

  /** ES indices (served by `_aliases` and `/{index}/_mapping`): the
    * subset of registered tables that are Elasticsearch indices. */
  private val esIndices = TrieMap.empty[String, Boolean]
  /** Per-index ANALYZED (text-typed) string fields: field (lowercase) ->
    * whether the mapping declares a `.keyword` multi-field. Real ES
    * disables fielddata on text fields — sorts/aggs on them answer 400 —
    * and term-level queries run against the ANALYZED tokens, not the raw
    * value; the loopback models both so a client that fails to decline
    * or retarget fails its spec, not production. */
  private val esTextFields = TrieMap.empty[String, Map[String, Boolean]]
  def registerEs(name: String, schema: StructType, rows: Seq[Array[Any]]): Unit =
    registerEsText(name, schema, rows, Map.empty)

  /** Like [[registerEs]] with some string fields mapped as `text` (value
    * = whether a `.keyword` sub-field rides along, the default-dynamic-
    * mapping shape). */
  def registerEsText(name: String, schema: StructType, rows: Seq[Array[Any]],
      textFields: Map[String, Boolean]): Unit = {
    val tf = textFields.map { case (k, v) => k.toLowerCase -> v }
    tf.keys.foreach { f =>
      // dotted paths address nested struct subfields (the reference's
      // `repository.name` fixture shape)
      val dt = f.split('.').foldLeft(Option(schema: org.apache.spark.sql.types.DataType)) {
        case (Some(st: StructType), part) =>
          st.fields.find(_.name.equalsIgnoreCase(part)).map(_.dataType)
        case _ => None
      }
      require(dt.contains(org.apache.spark.sql.types.StringType),
        s"text field $f must be a string column (or struct subfield) of $name")
    }
    esMappingProps(schema, tf) // every field must be mapping-representable — fail HERE
    register(name, schema, rows)
    esIndices.put(name.toLowerCase, true)
    esTextFields.put(name.toLowerCase, tf)
  }

  /** ES index ALIASES (alias -> index): served inside `_aliases`, and
    * `/{alias}/_search` + `/{alias}/_mapping` resolve through them like
    * a real cluster. */
  private val esAliases = TrieMap.empty[String, String]
  def registerEsAlias(alias: String, index: String): Unit = {
    require(esIndices.contains(index.toLowerCase), s"no such index $index")
    esAliases.put(alias.toLowerCase, index.toLowerCase)
  }
  private def esResolve(name: String): String =
    esAliases.getOrElse(name.toLowerCase, name.toLowerCase)

  /** REST listing APIs (served by the catalog route `GET /t/`): the
    * subset of registered tables that are REST-shaped listing APIs, each
    * with its declared filterable params — the discovery surface a
    * Lytics-shaped API exposes so a client can enumerate its listings
    * and learn which query parameters each applies server-side. */
  private val restApis = TrieMap.empty[String, Set[String]]
  /** Listings accepting a SegmentQL `filterql` statement (the Lytics
    * ad-hoc segment scan shape) — advertised on the catalog route and
    * ENFORCED: a malformed statement or unknown field answers 400. */
  private val restFilterQl = TrieMap.empty[String, Boolean]
  def registerRestApi(name: String, schema: StructType, params: Set[String],
      rows: Seq[Array[Any]], filterQl: Boolean = false): Unit = {
    register(name, schema, rows)
    restApis.put(name.toLowerCase, params.map(_.toLowerCase))
    restFilterQl.put(name.toLowerCase, filterQl)
  }

  /** BigQuery dataset tables (served by the tables.list/tables.get
    * shaped GETs on /bq/): the subset that are BQ tables. */
  private val bqDatasets = TrieMap.empty[String, Boolean]
  def registerBq(name: String, schema: StructType, rows: Seq[Array[Any]]): Unit = {
    register(name, schema, rows)
    bqDatasets.put(name.toLowerCase, true)
  }

  /** Render a Spark field type as the ES mapping `properties` entry the
    * real cluster's GET /{index}/_mapping answers: scalar types map to
    * ES field types (keyword/long/integer/short/double/float/boolean/
    * date), struct columns render as nested `properties` objects. */
  private def esMappingProps(schema: StructType,
      textFields: Map[String, Boolean] = Map.empty,
      prefix: String = ""): com.fasterxml.jackson.databind.node.ObjectNode = {
    val M = EsDsl.M
    val props = M.createObjectNode()
    schema.fields.foreach { f =>
      val o = props.putObject(f.name)
      val path =
        (if (prefix.isEmpty) f.name else s"$prefix.${f.name}").toLowerCase
      f.dataType match {
        case org.apache.spark.sql.types.StringType
            if textFields.contains(path) =>
          o.put("type", "text")
          if (textFields(path))
            o.putObject("fields").putObject("keyword")
              .put("type", "keyword").put("ignore_above", 256)
        case st: StructType =>
          o.set[com.fasterxml.jackson.databind.JsonNode]("properties",
            esMappingProps(st, textFields, path))
        case LongType => o.put("type", "long")
        case IntegerType => o.put("type", "integer")
        case ShortType => o.put("type", "short")
        case org.apache.spark.sql.types.DoubleType => o.put("type", "double")
        case org.apache.spark.sql.types.FloatType => o.put("type", "float")
        // ES has no decimal field type: real clusters store these as
        // double (scaled_float is still float-backed)
        case _: org.apache.spark.sql.types.DecimalType => o.put("type", "double")
        case org.apache.spark.sql.types.BooleanType => o.put("type", "boolean")
        // ES date is epoch millis — an instant; NTZ has no wire
        // representation, so it maps (and discovers back) as date/
        // TimestampType — the wire's truth, same as the Mongo arm
        case org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.TimestampNTZType => o.put("type", "date")
        case org.apache.spark.sql.types.DateType =>
          o.put("type", "date"); o.put("format", "yyyy-MM-dd")
        case org.apache.spark.sql.types.StringType => o.put("type", "keyword")
        case other => throw new IllegalArgumentException(
          s"ES fixture field ${f.name}: no mapping representation for " +
            s"$other — a silent keyword fallback would discover it as " +
            "string and break every typed predicate on it")
      }
    }
    props
  }

  /** Atomic table mutation (write endpoints are hit concurrently by
    * Spark tasks; a lost update would drop a batch). */
  private val mutateLock = new Object
  private def mutateTable(name: String)(
      f: (StructType, Seq[Array[Any]]) => Seq[Array[Any]]): Int =
    mutateLock.synchronized {
      val t = tables.getOrElse(name,
        throw new IllegalArgumentException(s"no such table $name"))
      val next = f(t.schema, t.rows)
      tablesVersion.incrementAndGet() // stale job results must not page on
      tables.put(name, TableData(t.schema, next))
      next.size
    }

  /** Datastore kinds additionally declare their KEY property (the
    * stand-in for the real entity key path) — writes address rows by it. */
  private val dsKeyCols = TrieMap.empty[String, String]
  def registerDs(name: String, schema: StructType, keyCol: String,
      rows: Seq[Array[Any]]): Unit = {
    register(name, schema, rows)
    dsKeyCols.put(name.toLowerCase, keyCol)
  }

  /** Start (once) and return the base URL. */
  def ensureStarted(): String = {
    val cur = serverRef.get()
    if (cur != null) return s"http://127.0.0.1:${cur.getAddress.getPort}"
    // TCP_NODELAY on the fixture's response sockets, matching the
    // setTcpNoDelay(true) every raw-socket loopback in this repo already
    // sets (Mongo/CQL/MySQL servers and clients). com.sun.net.httpserver
    // only exposes it through this property, read by its ServerConfig
    // static init — set before the first create(). Without it, Nagle on
    // the server side interacts with the client's delayed ACK to stall
    // EVERY response ~40 ms on loopback (measured: a 1-row PIT page cost
    // 45 ms, the same page 1.7 ms with nodelay), so paged wire scans
    // were benchmarking a transport artifact instead of data movement —
    // real HTTP servers (and real ES) disable Nagle.
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val srv = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    if (!serverRef.compareAndSet(null, srv)) {
      srv.stop(0)
      return s"http://127.0.0.1:${serverRef.get().getAddress.getPort}"
    }
    srv.createContext("/t/", route(handle))
    srv.createContext("/es/", route(handleEs))
    srv.createContext("/bq/", route(handleBq))
    srv.createContext("/ds/", route(handleDs))
    srv.createContext("/bt/", route(handleBt))
    srv.createContext("/k8s/", route(LoopbackKubeServer.handle))
    // daemon workers: the loopback fixture must never keep a JVM alive
    srv.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4, r => {
      val t = new Thread(r, "graft-loopback-rest"); t.setDaemon(true); t
    }))
    // The JDK HttpServer's internal HTTP-Dispatcher thread is created in
    // start() and INHERITS the calling thread's daemon flag — started from
    // a driver main it is non-daemon and keeps the JVM alive after main
    // returns (observed: graft.Verify at sf0.1 wrote all outputs, then
    // hung in DestroyJavaVM behind "HTTP-Dispatcher"). Start from a
    // short-lived daemon thread so the dispatcher inherits daemon=true.
    val starter = new Thread(() => srv.start(), "graft-loopback-rest-start")
    starter.setDaemon(true)
    starter.start()
    starter.join()
    s"http://127.0.0.1:${srv.getAddress.getPort}"
  }

  // shared with the kube handler mounted on this server (it answers
  // application/json like the real API; the ndjson default is ours)
  private[sources] def parseQuery(raw: String): Map[String, String] =
    Option(raw).filter(_.nonEmpty).map(_.split("&").toSeq.flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(URLDecoder.decode(k, UTF_8) -> URLDecoder.decode(v, UTF_8))
        case _ => None
      }
    }.toMap).getOrElse(Map.empty)

  /** Responses above this size gzip when the request accepts it (tiny
    * bodies don't repay the header+deflate cost — real servers set the
    * same kind of floor). */
  private val GzipFloor = 512
  /** Gzipped responses served (spec assertions: the data path really
    * rides compressed). */
  val gzipServed = new AtomicLong(0)

  private[sources] def respond(ex: HttpExchange, code: Int, body: String,
      contentType: String = "application/x-ndjson"): Unit = {
    var bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    val acceptsGzip = Option(ex.getRequestHeaders.getFirst("Accept-Encoding"))
      .exists(_.toLowerCase.contains("gzip"))
    if (acceptsGzip && bytes.length >= GzipFloor) {
      val bos = new java.io.ByteArrayOutputStream(bytes.length / 4 + 64)
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(bytes); gz.close()
      bytes = bos.toByteArray
      ex.getResponseHeaders.set("Content-Encoding", "gzip")
      gzipServed.incrementAndGet()
    }
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length.toLong)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** Every context runs behind the fault gate, and any exception a
    * route throws answers 500 with its message. */
  private def route(h: HttpExchange => Unit): HttpHandler = ex =>
    try { if (admit()) h(ex) else respond(ex, 500, "injected failure") }
    catch { case e: Throwable => respond(ex, 500, s"server error: $e") }

  /** Rows [from, from + size) of `it`: skips `from` rows and stops at the
    * end of the page, so a page never walks the rest of the table. */
  private def pageOf[A](it: Iterator[A], from: Long, size: Long): Iterator[A] = {
    var skip = from
    while (skip > 0 && it.hasNext) { it.next(); skip -= 1 }
    it.take(math.min(size, Int.MaxValue.toLong).toInt)
  }

  private def handle(ex: HttpExchange): Unit = {
    val name = ex.getRequestURI.getPath.stripPrefix("/t/").toLowerCase
    val q = parseQuery(ex.getRequestURI.getRawQuery)
    lastParams.set(q)
    if (name.isEmpty) {
      // catalog route: one JSON document per listing API with its name
      // and declared filterable params (the discovery surface)
      val M = EsDsl.M
      val lines = restApis.toSeq.sortBy(_._1).map { case (n, ps) =>
        val o = M.createObjectNode()
        o.put("name", n)
        val arr = o.putArray("params")
        ps.toSeq.sorted.foreach(arr.add)
        if (restFilterQl.getOrElse(n, false)) o.put("filterql", true)
        o.toString
      }
      respond(ex, 200, lines.mkString("\n")); return
    }
    tables.get(name) match {
      case None => respond(ex, 404, s"no such table $name")
      case Some(TableData(schema, rows)) =>
        val from = q.get("from").map(_.toLong).getOrElse(0L)
        val cap = pageCap.get()
        val size0 = q.get("size").map(_.toLong).getOrElse(Long.MaxValue)
        val size = if (cap > 0) math.min(size0, cap.toLong) else size0
        val limit = q.get("limit").map(_.toLong)
        // "filterql" is reserved ONLY on listings that declared the
        // capability — elsewhere it stays an ordinary filterable param,
        // so a listing with a genuine column named filterql keeps its
        // param-equality meaning instead of a surprise 400 (r13 advice)
        val qlCapable = restFilterQl.getOrElse(name, false)
        val reserved =
          if (qlCapable) Set("from", "size", "limit", "filterql")
          else Set("from", "size", "limit")
        // SegmentQL statement: parsed + applied SERVER-SIDE with proper
        // 3VL; a statement the dialect rejects answers 400 (loud refusal,
        // the same fail-to-the-client discipline as the ES text guard)
        val ql: Option[Filter] =
          if (!qlCapable) None
          else q.get("filterql") match {
            case Some(stmt) =>
              try Some(SegmentQl.parse(stmt, schema))
              catch { case e: IllegalArgumentException =>
                respond(ex, 400, e.getMessage); return
              }
            case None => None
          }
        val qlMatch = ql.map(FilterEval.compile(_, schema))
        var out = rows.iterator.filter { row =>
          qlMatch.forall(_(row)) &&
          q.forall { case (k, v) =>
            reserved(k) || {
              val i = schema.fieldNames.indexWhere(_.equalsIgnoreCase(k))
              i >= 0 && row(i) != null &&
                FilterEval.cmp(row(i), LineCodec.parse(v, schema.fields(i).dataType))
                  .contains(0)
            }
          }
        }
        limit.foreach(n => out = out.take(math.min(n, Int.MaxValue.toLong).toInt))
        val page = pageOf(out, from, size)
          .map { row =>
            val w = new java.io.StringWriter()
            JsonCodec.write(w, row, schema)
            w.toString.stripLineEnd
          }
        respond(ex, 200, page.mkString("\n"))
    }
  }

  /** `_search` endpoint (POST /es/<table>/_search): executes the query
    * DSL [[EsDsl.eval]] over the registered rows and answers the ES
    * response shape — paged `hits[]._source`, `hits.total.value`, and
    * `aggregations` with single-key terms buckets carrying value_count/
    * min/max/sum/avg metrics. Integral sums accumulate in Long and
    * render as JSON integers, so a pushed SUM(BIGINT) stays exact. */
  private def handleEs(ex: HttpExchange): Unit = {
    import scala.jdk.CollectionConverters._
    val M = EsDsl.M
    val path = ex.getRequestURI.getPath.stripPrefix("/es/")
    if (path == "_search/scroll") { handleEsScroll(ex); return }
    // point-in-time surface: open (POST /{index}/_pit?keep_alive=...),
    // close (DELETE /_pit {"id":...}), and the index-less POST /_search
    // whose body names the PIT — the documented deep-pagination API
    if (path == "_pit") {
      val body = M.readTree(ex.getRequestBody)
      if (!ex.getRequestMethod.equalsIgnoreCase("DELETE")) {
        respond(ex, 400, "{\"error\":\"POST a pit open to /{index}/_pit; " +
          "/_pit only serves DELETE\"}")
        return
      }
      val freed = esPits.remove(body.path("id").asText("")).isDefined
      respond(ex, 200,
        s"""{"succeeded":true,"num_freed":${if (freed) 1 else 0}}""",
        "application/json")
      return
    }
    if (path.endsWith("/_pit")) {
      val name = esResolve(path.stripSuffix("/_pit"))
      // real ES requires keep_alive on open (it bounds the snapshot's
      // server-side lifetime) — enforce, so a client that forgets it
      // breaks here instead of leaking contexts in production
      val keepAlive = parseQuery(ex.getRequestURI.getRawQuery).get("keep_alive")
      if (keepAlive.isEmpty) {
        respond(ex, 400, "{\"error\":{\"type\":\"action_request_validation_exception\"," +
          "\"reason\":\"Validation Failed: 1: [keep_alive] is required;\"}}")
        return
      }
      // any table _search serves is PIT-openable (esIndices gates only
      // the discovery listing surface, not the data path)
      tables.get(name) match {
        case None => respond(ex, 404, s"no such index $name")
        case Some(TableData(schema, rows)) =>
          sweepExpiredPits() // expiry is the cleanup mechanism, not the cap
          val id = s"graft-pit-${esPitSeq.incrementAndGet()}"
          if (esPits.size >= EsPitCap)
            // backstop only (possible in theory under cap-many CONCURRENT
            // live scans): shed the longest-idle context
            esPits.toSeq.sortBy(_._2.lastTouch.get()).headOption
              .foreach(kv => esPits.remove(kv._1))
          esPits.put(id, EsPit(name, schema, rows.toIndexedSeq,
            parseKeepAlive(keepAlive.get),
            new AtomicLong(System.currentTimeMillis())))
          esPitOpens.incrementAndGet()
          respond(ex, 200, s"""{"id":"$id"}""", "application/json")
      }
      return
    }
    if (path == "_search") { handleEsPitSearch(ex, M.readTree(ex.getRequestBody)); return }
    // discovery surface (the reference reads tables from GET /_aliases
    // and fields from GET /{index}/_mapping, elasticsearch/source.go:
    // 107-152,154-255): indices list + per-index mapping document
    if (path == "_aliases") {
      val resp = M.createObjectNode()
      esIndices.keys.toSeq.sorted.foreach { idx =>
        val aliases = resp.putObject(idx).putObject("aliases")
        esAliases.toSeq.filter(_._2 == idx).map(_._1).sorted
          .foreach(aliases.putObject)
      }
      respond(ex, 200, resp.toString, "application/json")
      return
    }
    if (path.endsWith("/_mapping")) {
      // aliases resolve; the response keys by the INDEX name (real ES)
      val name = esResolve(path.stripSuffix("/_mapping"))
      tables.get(name).filter(_ => esIndices.contains(name)) match {
        case None => respond(ex, 404, s"no such index $name")
        case Some(TableData(schema, _)) =>
          val resp = M.createObjectNode()
          resp.putObject(name).putObject("mappings")
            .set[com.fasterxml.jackson.databind.JsonNode]("properties",
              esMappingProps(schema, esTextFields.getOrElse(name, Map.empty)))
          respond(ex, 200, resp.toString, "application/json")
      }
      return
    }
    if (!path.endsWith("/_search")) { respond(ex, 400, "only _search is served"); return }
    val name = esResolve(path.stripSuffix("/_search"))
    tables.get(name) match {
      case None => respond(ex, 404, s"no such index $name")
      case Some(TableData(schema, rows)) =>
        val body = M.readTree(ex.getRequestBody)
        lastBody.set(body.toString)
        val tf = esTextFields.getOrElse(name, Map.empty)
        fielddataViolation(body, tf) match {
          case Some(f) => respondFielddata400(ex, f); return
          case None => ()
        }
        val scrollTtl = parseQuery(ex.getRequestURI.getRawQuery).get("scroll")
        // sliced scroll: each slice is a stable, query-independent
        // partition of the index (real ES hashes _id; here the doc's
        // registration index), applied BEFORE the query filter so the
        // union over id=0..max-1 is exactly the full hit set. Real ES
        // only accepts `slice` inside a scroll (or PIT) context and
        // refuses `from` there — enforce both, so a client that pages
        // sliced reads the lazy way breaks HERE, not only in production.
        val sliceNode = body.path("slice")
        if (!sliceNode.isMissingNode && scrollTtl.isEmpty) {
          respond(ex, 400, "{\"error\":{\"type\":\"action_request_validation_exception\"," +
            "\"reason\":\"Validation Failed: 1: [slice] can only be used with [scroll] or [point-in-time] requests;\"}}")
          return
        }
        if (scrollTtl.isDefined && body.path("from").asLong(0L) > 0L) {
          respond(ex, 400, "{\"error\":{\"type\":\"action_request_validation_exception\"," +
            "\"reason\":\"Validation Failed: 1: using [from] is not allowed in a scroll context;\"}}")
          return
        }
        val sliced =
          if (sliceNode.isMissingNode) rows
          else {
            val id = sliceNode.path("id").asInt()
            val max = sliceNode.path("max").asInt()
            if (max < 2 || id < 0 || id >= max)
              throw new IllegalArgumentException(
                s"slice id must be in [0, max) and max > 1: id=$id max=$max")
            // index-stepped: O(rows/max) per open, so the total slicing
            // work across all N opens stays linear in the table (a
            // zipWithIndex copy per open would make it N x rows)
            val rv = rows.toIndexedSeq
            (id until rv.length by max).map(rv)
          }
        val query = body.path("query")
        val matched =
          if (query.isMissingNode) sliced
          else sliced.filter(r => EsDsl.eval(query, r, schema, tf))
        if (scrollTtl.isDefined) {
          // scroll open: first page + a cursor for the rest
          val size = math.max(1, body.path("size").asInt(10))
          val id = s"graft-scroll-${esScrollSeq.incrementAndGet()}"
          if (esScrolls.size >= EsScrollCap)
            // evict the OLDEST (lowest seq) cursor — an abandoned one —
            // never a live recent slice (lexicographic sort would put
            // "...-1000" before "...-999" and kill a fresh cursor)
            esScrolls.keys.toSeq
              .sortBy(_.stripPrefix("graft-scroll-").toLong)
              .headOption.foreach(esScrolls.remove)
          esScrolls.put(id, EsScroll(schema, matched.size, matched.drop(size), size))
          respond(ex, 200, renderEsHits(schema, matched.take(size), matched.size, Some(id)))
          return
        }
        val resp = M.createObjectNode()
        resp.putObject("hits").putObject("total").put("value", matched.size)
        val aggsReq = body.path("aggs")
        if (!aggsReq.isMissingNode && !aggsReq.isNull && aggsReq.properties().asScala.nonEmpty) {
          val aggsOut = resp.putObject("aggregations")
          // `f.keyword` resolves to the raw value of the text field f
          // when the mapping declares the multi-field (fielddataViolation
          // already refused raw text references above)
          def fieldIdx(f: String): Int = {
            val lc = f.toLowerCase
            val target =
              if (lc.endsWith(".keyword") &&
                  tf.get(lc.stripSuffix(".keyword")).contains(true))
                lc.stripSuffix(".keyword")
              else f
            schema.fieldNames.indexWhere(_.equalsIgnoreCase(target))
          }
          def metric(out: com.fasterxml.jackson.databind.node.ObjectNode,
              mName: String, spec: com.fasterxml.jackson.databind.JsonNode,
              group: Seq[Array[Any]]): Unit = {
            val e0 = spec.properties().asScala.head
            val (kind, ms) = (e0.getKey, e0.getValue)
            val i = fieldIdx(ms.path("field").asText())
            val vals = group.iterator.map(_(i)).filter(_ != null).toSeq
            val o = out.putObject(mName)
            def num(a: Any): Double = a match {
              case n: Number => n.doubleValue(); case _ => 0.0
            }
            val integral = schema.fields(i).dataType match {
              case ShortType | IntegerType | LongType => true; case _ => false
            }
            kind match {
              case "value_count" => o.put("value", vals.size.toLong)
              // real ES cardinality is HLL++-backed: "close to accurate"
              // below precision_threshold, approximate beyond it. The
              // loopback makes the beyond-threshold regime VISIBLE by
              // perturbing the count deterministically — a client that
              // pushes cardinality only for explicitly-approximate
              // spellings (the EsScanBuilder guard) never lets this
              // perturbation reach an exact COUNT(DISTINCT) result.
              case "cardinality" =>
                val d = vals.distinct.size.toLong
                val thr = ms.path("precision_threshold").asInt(3000) // ES default
                o.put("value", if (d <= thr) d else d + math.max(1L, d / 64L))
              case "sum" =>
                if (integral) o.put("value", vals.iterator.map(_.asInstanceOf[Number].longValue()).sum)
                else o.put("value", vals.iterator.map(num).sum)
              case "min" =>
                if (vals.isEmpty) o.putNull("value")
                else if (integral) o.put("value", vals.iterator.map(_.asInstanceOf[Number].longValue()).min)
                else o.put("value", vals.iterator.map(num).min)
              case "max" =>
                if (vals.isEmpty) o.putNull("value")
                else if (integral) o.put("value", vals.iterator.map(_.asInstanceOf[Number].longValue()).max)
                else o.put("value", vals.iterator.map(num).max)
              case "avg" =>
                if (vals.isEmpty) o.putNull("value")
                else o.put("value", vals.iterator.map(num).sum / vals.size)
              case other => throw new IllegalArgumentException(s"unsupported metric $other")
            }
          }
          // a bucket key value as its native JSON type (composite keys)
          def setJson(o: com.fasterxml.jackson.databind.node.ObjectNode,
              k: String, v: Any): Unit = v match {
            case null => o.putNull(k)
            case b: java.lang.Boolean => o.put(k, b.booleanValue())
            case n: java.lang.Double => o.put(k, n.doubleValue())
            case n: java.lang.Float => o.put(k, n.doubleValue())
            case n: Number => o.put(k, n.longValue())
            case other => o.put(k, other.toString)
          }
          val byNode = aggsReq.path("by")
          val compNode = byNode.path("composite")
          if (!compNode.isMissingNode) {
            // the real composite aggregation: multi-source terms buckets
            // in SOURCE order — each source's `order` (asc default) and
            // `missing_order` (default: missing first under asc, last
            // under desc — the documented placement) — paged by
            // after/after_key
            val sources = compNode.path("sources").elements().asScala.toSeq.map { s =>
              val e = s.properties().asScala.head
              val t = e.getValue.path("terms")
              require(!t.isMissingNode, "composite sources must be terms")
              val desc = t.path("order").asText("asc") == "desc"
              val missingFirst = t.path("missing_order").asText("") match {
                case "first" => true
                case "last" => false
                case _ => !desc // the documented default placement
              }
              (e.getKey, fieldIdx(t.path("field").asText()),
                t.path("missing_bucket").asBoolean(false), desc, missingFirst)
            }
            val size = compNode.path("size").asInt(10)
            val rows2 = matched.filter(r =>
              sources.forall { case (_, i, mb, _, _) => mb || r(i) != null })
            def cmpKey(a: Seq[Any], b: Seq[Any]): Int = {
              var r = 0
              var i = 0
              while (r == 0 && i < a.size) {
                val (_, _, _, desc, missingFirst) = sources(i)
                r = (a(i), b(i)) match {
                  case (null, null) => 0
                  case (null, _) => if (missingFirst) -1 else 1
                  case (_, null) => if (missingFirst) 1 else -1
                  case (x, y) =>
                    val c = FilterEval.cmp(x, y).getOrElse(
                      throw new IllegalArgumentException(s"incomparable key $x/$y"))
                    if (desc) -c else c
                }
                i += 1
              }
              r
            }
            val sorted = rows2.groupBy(r => sources.map(s => r(s._2)))
              .toSeq.sortWith((x, y) => cmpKey(x._1, y._1) < 0)
            val afterNode = compNode.path("after")
            val remaining =
              if (afterNode.isMissingNode || afterNode.isNull) sorted
              else {
                val after: Seq[Any] = sources.map { case (name, i, _, _, _) =>
                  val v = afterNode.path(name)
                  if (v.isNull || v.isMissingNode) null
                  else schema.fields(i).dataType match {
                    case LongType => v.asLong(): java.lang.Long
                    case IntegerType => v.asInt(): java.lang.Integer
                    case ShortType => v.asInt().toShort: java.lang.Short
                    case DoubleType => v.asDouble(): java.lang.Double
                    case FloatType => v.asDouble().toFloat: java.lang.Float
                    case BooleanType => v.asBoolean(): java.lang.Boolean
                    case _ => v.asText()
                  }
                }
                sorted.dropWhile(g => cmpKey(g._1, after) <= 0)
              }
            val page = remaining.take(size)
            val byOut = aggsOut.putObject("by")
            page.lastOption.foreach { case (key, _) =>
              val ak = byOut.putObject("after_key")
              sources.zip(key).foreach { case ((name, _, _, _, _), v) => setJson(ak, name, v) }
            }
            val buckets = byOut.putArray("buckets")
            val subAggs = byNode.path("aggs")
            page.foreach { case (key, group) =>
              val b = buckets.addObject()
              val ko = b.putObject("key")
              sources.zip(key).foreach { case ((name, _, _, _, _), v) => setJson(ko, name, v) }
              b.put("doc_count", group.size.toLong)
              if (!subAggs.isMissingNode)
                subAggs.properties().asScala.foreach(e => metric(b, e.getKey, e.getValue, group))
            }
          } else if (!byNode.isMissingNode && !byNode.path("terms").isMissingNode) {
            val keyIdx = fieldIdx(byNode.path("terms").path("field").asText())
            val subAggs = byNode.path("aggs")
            val buckets = aggsOut.putObject("by").putArray("buckets")
            matched.filter(_(keyIdx) != null).groupBy(_(keyIdx)).toSeq
              .sortBy(-_._2.size) // ES default: doc_count desc
              .foreach { case (k, group) =>
                val b = buckets.addObject()
                k match {
                  case n: Number if n.isInstanceOf[java.lang.Long] ||
                    n.isInstanceOf[Integer] || n.isInstanceOf[java.lang.Short] =>
                    b.put("key", n.longValue())
                  case n: Number => b.put("key", n.doubleValue())
                  case other => b.put("key", other.toString)
                }
                b.put("doc_count", group.size.toLong)
                if (!subAggs.isMissingNode)
                  subAggs.properties().asScala.foreach(e => metric(b, e.getKey, e.getValue, group))
              }
            // the `missing` sibling aggregation: docs whose bucket field
            // is absent/null, with the same sub-metrics
            val nullsReq = aggsReq.path("nulls")
            if (!nullsReq.isMissingNode && !nullsReq.path("missing").isMissingNode) {
              val mIdx = fieldIdx(nullsReq.path("missing").path("field").asText())
              val group = matched.filter(_(mIdx) == null)
              val out = aggsOut.putObject("nulls")
              out.put("doc_count", group.size.toLong)
              val subs = nullsReq.path("aggs")
              if (!subs.isMissingNode)
                subs.properties().asScala.foreach(e => metric(out, e.getKey, e.getValue, group))
            }
          } else {
            aggsReq.properties().asScala.foreach(e =>
              metric(aggsOut, e.getKey, e.getValue, matched))
          }
        }
        // "sort": [{f: {"order": asc|desc, "missing": "_first"|"_last"}}]
        // applies to the matched hits BEFORE from/size windowing — the
        // real coordinated-search sort (fielddataViolation already
        // refused raw text fields; `.keyword` resolves like agg targets;
        // the real default missing placement is `_last`)
        val sortNode = body.path("sort")
        val ordered =
          if (sortNode.isMissingNode || !sortNode.isArray || sortNode.isEmpty) matched
          else {
            val keys = sortNode.elements().asScala.toSeq.map { s =>
              val e = s.properties().asScala.head
              val lc = e.getKey.toLowerCase
              val target =
                if (lc.endsWith(".keyword") &&
                    tf.get(lc.stripSuffix(".keyword")).contains(true))
                  lc.stripSuffix(".keyword")
                else e.getKey
              val i = schema.fieldNames.indexWhere(_.equalsIgnoreCase(target))
              require(i >= 0, s"unknown sort field ${e.getKey}")
              SortKey(i, e.getValue.path("order").asText("asc") == "desc",
                e.getValue.path("missing").asText("_last") == "_first")
            }
            matched.sorted(PushedWindow.ordering(keys)((r: Array[Any], i: Int) => r(i)))
          }
        val from = body.path("from").asLong(0L)
        val size = body.path("size").asLong(10L)
        val hitsArr = resp.path("hits").asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          .putArray("hits")
        pageOf(ordered.iterator, from, size).foreach { row =>
          val w = new java.io.StringWriter()
          JsonCodec.write(w, row, schema)
          hitsArr.addObject().set[com.fasterxml.jackson.databind.JsonNode](
            "_source", M.readTree(w.toString))
        }
        respond(ex, 200, resp.toString)
    }
  }

  /** First agg/sort field in the request body that targets a RAW text
    * field, if any. Real ES disables fielddata on text fields: any
    * aggregation or sort naming one answers 400 (the `.keyword`
    * sub-field is the supported target) — the loopback enforces the
    * same refusal so a client that fails to decline or retarget fails
    * its spec here, not in production. */
  private def fielddataViolation(body: com.fasterxml.jackson.databind.JsonNode,
      tf: Map[String, Boolean]): Option[String] = {
    if (tf.isEmpty) return None
    val fields = scala.collection.mutable.ArrayBuffer.empty[String]
    def walkAggs(n: com.fasterxml.jackson.databind.JsonNode): Unit = if (n.isObject)
      n.properties().asScala.foreach { e =>
        if (e.getKey == "field") {
          if (e.getValue.isTextual) fields += e.getValue.asText()
        } else walkAggs(e.getValue)
      }
    walkAggs(body.path("aggs"))
    body.path("sort").elements().asScala.foreach { s =>
      if (s.isObject) s.properties().asScala.foreach(e => fields += e.getKey)
      else if (s.isTextual) fields += s.asText()
    }
    fields.find(f => tf.contains(f.toLowerCase))
  }

  /** Answer the real fielddata-disabled 400 for `field`. */
  private def respondFielddata400(ex: HttpExchange, field: String): Unit = {
    val M = EsDsl.M
    val err = M.createObjectNode()
    val eo = err.putObject("error")
    eo.put("type", "illegal_argument_exception")
    eo.put("reason", "Text fields are not optimised for operations that " +
      "require per-document field data like aggregations and sorting, so " +
      s"these operations are disabled by default. Set fielddata=true on " +
      s"[$field] or use a keyword field instead.")
    respond(ex, 400, err.toString, "application/json")
  }

  /** Render an ES hits response page ({_scroll_id}, hits.total, hits[]
    * ._source) — shared by scroll-open and scroll-continuation. */
  private def renderEsHits(schema: StructType, page: Seq[Array[Any]],
      total: Int, scrollId: Option[String]): String = {
    val M = EsDsl.M
    val resp = M.createObjectNode()
    scrollId.foreach(id => resp.put("_scroll_id", id))
    val hits = resp.putObject("hits")
    hits.putObject("total").put("value", total)
    val arr = hits.putArray("hits")
    page.foreach { row =>
      val w = new java.io.StringWriter()
      JsonCodec.write(w, row, schema)
      arr.addObject().set[com.fasterxml.jackson.databind.JsonNode](
        "_source", M.readTree(w.toString))
    }
    resp.toString
  }

  /** Index-less `POST /_search` carrying a `pit` body: the PIT +
    * `search_after` deep-pagination contract. The snapshot's rows page in
    * registration order — the loopback's `_shard_doc` analogue: a stable,
    * query-independent, unique per-doc sort value — and every hit carries
    * its sort values so the client can continue. Enforced real-cluster
    * rules: a PIT search must NOT name an index in the path (the PIT
    * already pins one), `search_after` requires an explicit `sort`, and
    * `from` is illegal with `search_after`. */
  private def handleEsPitSearch(ex: HttpExchange,
      body: com.fasterxml.jackson.databind.JsonNode): Unit = {
    import scala.jdk.CollectionConverters._
    val M = EsDsl.M
    lastBody.set(body.toString)
    val pitId = body.path("pit").path("id").asText("")
    if (pitId.isEmpty) {
      respond(ex, 400, "{\"error\":{\"type\":\"action_request_validation_exception\"," +
        "\"reason\":\"Validation Failed: 1: [index] is missing; specify an index " +
        "or a point in time;\"}}")
      return
    }
    esPitSearchIds.updateAndGet(_ + pitId)
    val sa = body.path("search_after")
    val hasAfter = !sa.isMissingNode && !sa.isNull && sa.size() > 0
    if (hasAfter && body.path("sort").isMissingNode) {
      respond(ex, 400, "{\"error\":{\"type\":\"action_request_validation_exception\"," +
        "\"reason\":\"Validation Failed: 1: [search_after] requires [sort];\"}}")
      return
    }
    if (hasAfter && body.path("from").asLong(0L) > 0L) {
      respond(ex, 400, "{\"error\":{\"type\":\"action_request_validation_exception\"," +
        "\"reason\":\"Validation Failed: 1: [from] is not allowed with [search_after];\"}}")
      return
    }
    if (hasAfter && esPitFailSearchAfter.getAndUpdate(n => math.max(0, n - 1)) > 0) {
      respond(ex, 500, "injected failure")
      return
    }
    // a context whose keep_alive lapsed answers exactly like a missing
    // one (that IS how a real cluster expires them)
    esPits.get(pitId).filter(p =>
        System.currentTimeMillis() - p.lastTouch.get() <= p.keepAliveMs) match {
      case None => respond(ex, 404,
        s"{\"error\":{\"type\":\"search_phase_execution_exception\"," +
          s"\"reason\":\"No search context found for id [$pitId]\"}}")
      case Some(pit) =>
        pit.lastTouch.set(System.currentTimeMillis()) // search refreshes keep_alive
        // the fixture serves the one sort the client ships: _shard_doc
        // (real ES appends it as the tiebreak; a PIT scan sorts by it
        // alone). Anything else is out of the loopback's scope — refuse
        // loudly rather than answer a subtly different order.
        val sortNode = body.path("sort")
        if (!sortNode.isMissingNode && sortNode.elements().asScala.exists(s =>
            !s.has("_shard_doc") && s.asText("") != "_shard_doc")) {
          respond(ex, 400, "{\"error\":\"the loopback PIT search serves only " +
            "the _shard_doc sort\"}")
          return
        }
        val sliceNode = body.path("slice")
        if (!sliceNode.isMissingNode) {
          val id = sliceNode.path("id").asInt()
          val max = sliceNode.path("max").asInt()
          if (max < 2 || id < 0 || id >= max)
            throw new IllegalArgumentException(
              s"slice id must be in [0, max) and max > 1: id=$id max=$max")
        }
        val query = body.path("query")
        // the snapshot is immutable, so the (slice, query)-filtered row
        // list is computed ONCE and every continuation is a positional
        // drop on the cached vector — not an O(snapshot) re-filter per
        // page (a deep scan makes hundreds of continuation requests).
        // Slicing is by snapshot position — stable, query-independent,
        // the same tiling rule as the scroll arm, so slice unions are
        // exactly the hit set.
        val cacheKey = s"${sliceNode.toString}|${query.toString}"
        val matched = pit.matchedCache.getOrElseUpdate(cacheKey, {
          val withIdx = pit.rows.zipWithIndex
          val sliced =
            if (sliceNode.isMissingNode) withIdx
            else {
              val max = sliceNode.path("max").asInt()
              val id = sliceNode.path("id").asInt()
              withIdx.filter(_._2 % max == id)
            }
          if (query.isMissingNode) sliced
          else sliced.filter { case (r, _) =>
            EsDsl.eval(query, r, pit.schema,
              esTextFields.getOrElse(pit.index, Map.empty)) }
        })
        val after = if (hasAfter) sa.get(0).asLong() else -1L
        val size = math.max(1, body.path("size").asInt(10))
        // matched is ascending by snapshot position: binary-search the
        // cursor so a continuation costs O(log n + page), not O(n)
        var lo = 0
        var hi = matched.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (matched(mid)._2 <= after) lo = mid + 1 else hi = mid
        }
        val page = matched.slice(lo, lo + size)
        // injected shard relocation: the context gets a NEW id carried in
        // the response. The OLD id stays valid as an alias of the same
        // context (both map to the same EsPit) — the real contract: a
        // renewed id is the one to prefer for longevity, but sibling
        // slices of a shared PIT may still hold an earlier generation
        // and must not 404. The spec asserts the client ADOPTS the new
        // id (lastBody), not that the old one dies instantly.
        val effectiveId =
          if (esPitRenewIds.getAndUpdate(n => math.max(0, n - 1)) > 0) {
            val renewed = s"graft-pit-${esPitSeq.incrementAndGet()}"
            esPits.put(renewed, pit)
            renewed
          } else pitId
        val resp = M.createObjectNode()
        resp.put("pit_id", effectiveId)
        val hits = resp.putObject("hits")
        hits.putObject("total").put("value", matched.size)
        val arr = hits.putArray("hits")
        page.foreach { case (row, idx) =>
          val w = new java.io.StringWriter()
          JsonCodec.write(w, row, pit.schema)
          val h = arr.addObject()
          h.set[com.fasterxml.jackson.databind.JsonNode]("_source", M.readTree(w.toString))
          h.putArray("sort").add(idx.toLong)
        }
        respond(ex, 200, resp.toString)
    }
  }

  /** `/_search/scroll`: POST continues a cursor (next page, same size as
    * at open — real scroll fixes the page size in the initial request);
    * DELETE clears it. An unknown/expired id answers 404 exactly like a
    * real cluster's missing search context. */
  private def handleEsScroll(ex: HttpExchange): Unit = {
    val M = EsDsl.M
    val body = M.readTree(ex.getRequestBody)
    val id = body.path("scroll_id").asText("")
    if (ex.getRequestMethod.equalsIgnoreCase("DELETE")) {
      val freed = esScrolls.remove(id).isDefined
      respond(ex, 200, s"{\"succeeded\":true,\"num_freed\":${if (freed) 1 else 0}}")
      return
    }
    esScrolls.get(id) match {
      case None => respond(ex, 404,
        s"{\"error\":{\"type\":\"search_phase_execution_exception\"," +
          s"\"reason\":\"No search context found for id [$id]\"}}")
      case Some(st) =>
        // short-page injection: a real scroll batch can be smaller than
        // `size` while results remain (size applies per shard)
        val take = if (esScrollShortPages.get() > 0) math.max(1, st.size / 2) else st.size
        val page = st.remaining.take(take)
        if (st.remaining.isEmpty) esScrolls.remove(id)
        else esScrolls.put(id, st.copy(remaining = st.remaining.drop(take)))
        respond(ex, 200, renderEsHits(st.schema, page, st.total, Some(id)))
    }
  }

  /** Last `_search` body seen (pushdown assertions in specs). */
  val lastBody = new AtomicReference[String]("")

  /** Last `/bq/.../query` statement seen (pushdown assertions). */
  val lastBqSql = new AtomicReference[String]("")

  /** Last `:runQuery` body seen (pushdown assertions). */
  val lastDsQuery = new AtomicReference[String]("")

  /** Last `:readRows` body seen (pushdown assertions). */
  val lastBtQuery = new AtomicReference[String]("")

  /** BigTable data-API `:readRows` endpoint (POST /bt/<table>:readRows):
    * row sets (base64 rowKeys / rowRanges) select key-sorted rows; cells
    * answer base64-encoded under their qualifier (rows are the commitRow
    * consolidation of the chunk stream); responses cap at the service
    * batch size and clients RESUME with `startKeyOpen` = the last row
    * key received — the real ReadRows retry contract. A table's key
    * column is `<keyCol>` registered via [[registerBt]]. */
  private val BtChunkCap = 300
  private val btKeyCols = TrieMap.empty[String, String]

  def registerBt(name: String, schema: StructType, keyCol: String,
      rows: Seq[Array[Any]]): Unit = {
    // real BigTable row keys are unique by definition (same-key writes
    // are cell upserts on ONE row); a fixture with duplicate keys would
    // silently lose rows to the startKeyOpen resume contract — refuse it
    val ki = schema.fieldNames.indexWhere(_.equalsIgnoreCase(keyCol))
    require(ki >= 0, s"BT key column $keyCol not in schema")
    val keys = rows.map(r => String.valueOf(r(ki)))
    require(keys.distinct.size == keys.size,
      s"BT table $name: row keys must be unique ($keyCol has duplicates — " +
        "use a composite key)")
    register(name, schema, rows)
    btKeyCols.put(name.toLowerCase, keyCol)
  }

  private def handleBt(ex: HttpExchange): Unit = {
    val M = EsDsl.M
    val path = ex.getRequestURI.getPath.stripPrefix("/bt/")
    // admin tables.list (the real admin API's GET /v2/.../tables): the
    // discovery listing. Real BigTable row keys are positional (not a
    // named column); mapping the key to a qualifier is the CONNECTOR's
    // modeling, so the fixture exports that mapping here as `rowKey` —
    // the stand-in for the metadata a deployment keeps beside the table
    if (ex.getRequestMethod.equalsIgnoreCase("GET") && path.isEmpty) {
      val resp = M.createObjectNode()
      val arr = resp.putArray("tables")
      btKeyCols.keys.toSeq.sorted.filter(tables.contains).foreach { n =>
        arr.addObject().put("name", n).put("rowKey", btKeyCols(n))
      }
      respond(ex, 200, resp.toString, "application/json")
      return
    }
    // :sampleRowKeys — the data API's split-point RPC: keys at roughly
    // even intervals through the key-sorted table, exactly what a
    // parallel reader uses to shard its rowRanges
    if (path.endsWith(":sampleRowKeys")) {
      val name = path.stripSuffix(":sampleRowKeys").toLowerCase
      (tables.get(name), btKeyCols.get(name)) match {
        case (Some(TableData(schema, rows)), Some(keyCol)) =>
          val ki = schema.fieldNames.indexWhere(_.equalsIgnoreCase(keyCol))
          val sortedKeys = rows.map(r => String.valueOf(r(ki))).sorted
          val resp = M.createObjectNode()
          val arr = resp.putArray("samples")
          val b64 = (s: String) =>
            java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
          val step = math.max(1, sortedKeys.size / 16)
          sortedKeys.indices.by(step).drop(1).foreach(i =>
            arr.addObject().put("rowKey", b64(sortedKeys(i))))
          respond(ex, 200, resp.toString)
        case _ => respond(ex, 404, s"no such table $name")
      }
      return
    }
    // :mutateRows — the data API's batch write: upserts address rows by
    // their key (BigTable Put = cell-set mutation, an upsert on the row
    // key, sql_to_bt.go:242-300), deleteFromRow removes whole rows
    if (path.endsWith(":mutateRows")) {
      val name = path.stripSuffix(":mutateRows").toLowerCase
      (tables.get(name), btKeyCols.get(name)) match {
        case (Some(_), Some(keyCol)) =>
          val body = M.readTree(ex.getRequestBody)
          val entries = body.path("entries").elements().asScala.toSeq
          mutateTable(name) { (schema, rows) =>
            val ki = schema.fieldNames.indexWhere(_.equalsIgnoreCase(keyCol))
            var cur = rows
            entries.foreach { e =>
              val rowKey = BtQuery.unb64(e.path("rowKey").asText())
              if (e.path("deleteFromRow").asBoolean(false)) {
                cur = cur.filterNot(r => String.valueOf(r(ki)) == rowKey)
              } else {
                val cells = e.path("cells")
                val row = schema.fields.zipWithIndex.map { case (f, i) =>
                  if (i == ki) LineCodec.parse(rowKey, f.dataType)
                  else {
                    val c = cells.path(f.name)
                    if (c.isMissingNode || c.isNull) null
                    else LineCodec.parse(BtQuery.unb64(c.asText()), f.dataType)
                  }
                }.toArray[Any]
                cur = cur.filterNot(r => String.valueOf(r(ki)) == rowKey) :+ row
              }
            }
            cur
          }
          val resp = M.createObjectNode()
          val st = resp.putArray("entries")
          entries.indices.foreach(i =>
            st.addObject().put("index", i).putObject("status").put("code", 0))
          respond(ex, 200, resp.toString)
        case _ => respond(ex, 404, s"no such table $name")
      }
      return
    }
    if (!path.endsWith(":readRows")) { respond(ex, 400, "only :readRows is served"); return }
    val name = path.stripSuffix(":readRows").toLowerCase
    (tables.get(name), btKeyCols.get(name)) match {
      case (Some(TableData(schema, rows)), Some(keyCol)) =>
        val body = M.readTree(ex.getRequestBody)
        lastBtQuery.set(body.toString)
        val ki = schema.fieldNames.indexWhere(_.equalsIgnoreCase(keyCol))
        val selected = BtQuery.select(body, r => String.valueOf(r(ki)), rows)
        val page = selected.take(BtChunkCap)
        val resp = M.createObjectNode()
        val arr = resp.putArray("rows")
        val b64 = (s: String) =>
          java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
        page.foreach { case (key, r) =>
          val o = arr.addObject()
          o.put("rowKey", b64(key))
          val cells = o.putObject("cells")
          schema.fields.zipWithIndex.foreach { case (f, i) =>
            if (r(i) != null) cells.put(f.name, b64(LineCodec.render(r(i))))
          }
        }
        page.lastOption.foreach { case (key, _) => resp.put("lastRowKey", b64(key)) }
        resp.put("moreRows", selected.size > page.size)
        respond(ex, 200, resp.toString)
      case _ => respond(ex, 404, s"no such table $name")
    }
  }

  /** Datastore v1 `:runQuery` endpoint (POST /ds/<kind>:runQuery):
    * validates the structured query against the real API's restrictions
    * (single inequality property; first sort = inequality property —
    * violations answer the API's 400 error shape, so declined filters
    * are ENFORCED), evaluates it ([[DsQuery.run]]), and answers
    * entityResults batched at the service's internal cap with
    * `endCursor`/`moreResults` paging. */
  private val DsBatchCap = 300

  /** The real API's INVALID_ARGUMENT error shape. */
  private def dsError(msg: String): String = {
    val err = EsDsl.M.createObjectNode()
    err.putObject("error").put("code", 400)
      .put("status", "INVALID_ARGUMENT").put("message", msg)
    err.toString
  }

  private def handleDs(ex: HttpExchange): Unit = {
    val M = EsDsl.M
    val path = ex.getRequestURI.getPath.stripPrefix("/ds/")
    // v1 :commit — upsert/delete mutations addressed by the kind's key
    // property (the loopback's stand-in for the entity key path; the
    // reference writes through datastore.Put/Delete with NameKeys,
    // sql_to_datastore.go:218-382)
    if (path.endsWith(":commit")) {
      val name = path.stripSuffix(":commit").toLowerCase
      (tables.get(name), dsKeyCols.get(name)) match {
        case (Some(_), Some(keyCol)) =>
          val body = M.readTree(ex.getRequestBody)
          var applied = 0
          mutateTable(name) { (schema, rows) =>
            val ki = schema.fieldNames.indexWhere(_.equalsIgnoreCase(keyCol))
            var cur = rows
            body.path("mutations").elements().asScala.foreach { m =>
              if (m.has("upsert")) {
                val props = m.path("upsert").path("properties")
                val row = schema.fields.map(f =>
                  DsQuery.valueOf(props.path(f.name), f.dataType)).toArray[Any]
                require(row(ki) != null, "entity key property must not be null")
                cur = cur.filterNot(r => r(ki) == row(ki)) :+ row
                applied += 1
              } else if (m.has("delete")) {
                val keyNode = m.path("delete").path("path").elements().asScala
                  .toSeq.lastOption.getOrElse(
                    throw new IllegalArgumentException("delete needs a key path"))
                val key = DsQuery.valueOfTyped(keyNode.path("name"), schema, keyCol)
                val before = cur.size
                cur = cur.filterNot(r => r(ki) == key)
                applied += before - cur.size
              } else throw new IllegalArgumentException(
                s"unsupported mutation ${m.toString.take(80)}")
            }
            cur
          }
          val resp = M.createObjectNode()
          resp.put("indexUpdates", applied)
          resp.putArray("mutationResults")
          respond(ex, 200, resp.toString)
        case (Some(_), None) => respond(ex, 400, s"kind $name has no key property")
        case _ => respond(ex, 404, s"no such kind $name")
      }
      return
    }
    if (path.endsWith(":runAggregationQuery")) {
      val name = path.stripSuffix(":runAggregationQuery").toLowerCase
      tables.get(name) match {
        case None => respond(ex, 404, s"no such kind $name"); return
        case Some(TableData(schema, rows)) =>
          val body = M.readTree(ex.getRequestBody)
          lastDsQuery.set(body.toString)
          val aq = body.path("aggregationQuery")
          val aggs = aq.path("aggregations").elements().asScala.toSeq
          // the real service's documented per-request cap
          if (aggs.size > graft.sources.DsQuery.MaxAggregations) {
            respond(ex, 400, dsError(
              s"a maximum of ${DsQuery.MaxAggregations} aggregations are " +
                "allowed per aggregation query"), "application/json")
            return
          }
          val nested = M.createObjectNode()
          nested.set[com.fasterxml.jackson.databind.JsonNode](
            "query", aq.path("nestedQuery"))
          val (_, matched) =
            try DsQuery.run(nested, schema, rows)
            catch {
              case e: IllegalArgumentException =>
                respond(ex, 400, dsError(e.getMessage), "application/json")
                return
            }
          def propIdx(a: com.fasterxml.jackson.databind.JsonNode): Int = {
            val n = a.path("property").path("name").asText()
            val i = schema.fieldNames.indexWhere(_.equalsIgnoreCase(n))
            require(i >= 0, s"no matching index property $n")
            i
          }
          val out = M.createObjectNode()
          val ares = out.putObject("batch")
          val props = ares.putArray("aggregationResults")
            .addObject().putObject("aggregateProperties")
          ares.put("moreResults", "NO_MORE_RESULTS")
          aggs.foreach { a =>
            val alias = a.path("alias").asText()
            val o = props.putObject(alias)
            if (a.has("count")) {
              // count counts ENTITIES; upTo caps it (documented)
              val upTo = a.path("count").path("upTo").asLong(Long.MaxValue)
              o.put("integerValue", math.min(matched.size.toLong, upTo).toString)
            } else if (a.has("sum")) {
              val i = propIdx(a.path("sum"))
              val vs = matched.iterator.map(_(i)).filter(_ != null).toSeq
              val anyDouble = vs.exists(v =>
                v.isInstanceOf[java.lang.Double] || v.isInstanceOf[java.lang.Float])
              if (anyDouble)
                o.put("doubleValue",
                  vs.map(_.asInstanceOf[Number].doubleValue()).sum)
              else {
                // int64 accumulation; documented overflow → double
                var acc = 0L
                var overflow = false
                vs.foreach { v =>
                  if (!overflow)
                    try acc = Math.addExact(acc, v.asInstanceOf[Number].longValue())
                    catch { case _: ArithmeticException => overflow = true }
                }
                if (overflow)
                  o.put("doubleValue",
                    vs.map(_.asInstanceOf[Number].doubleValue()).sum)
                else o.put("integerValue", acc.toString)
              }
            } else if (a.has("avg")) {
              val i = propIdx(a.path("avg"))
              val vs = matched.iterator.map(_(i)).filter(_ != null)
                .map(_.asInstanceOf[Number].doubleValue()).toSeq
              // documented: avg over zero valid values is NULL
              if (vs.isEmpty) o.put("nullValue", "NULL_VALUE")
              else o.put("doubleValue", vs.sum / vs.size)
            } else {
              respond(ex, 400, dsError(
                s"unsupported aggregation ${a.toString.take(80)}"), "application/json")
              return
            }
          }
          respond(ex, 200, out.toString)
          return
      }
    }
    if (!path.endsWith(":runQuery")) { respond(ex, 400, "only :runQuery is served"); return }
    val name = path.stripSuffix(":runQuery").toLowerCase
    // the real service's kind listing (a query against the __kind__
    // pseudo-kind returns one key-only entity per kind). Real DS keys
    // ride entity.key, not properties; which property models the key is
    // connector metadata, so the fixture exports it as `keyProperty`
    if (name == "__kind__") {
      val resp = M.createObjectNode()
      val results = resp.putObject("batch").putArray("entityResults")
      dsKeyCols.keys.toSeq.sorted.filter(tables.contains).foreach { k =>
        val e = results.addObject().putObject("entity")
        e.putObject("key").putArray("path").addObject().put("name", k)
        e.putObject("properties").putObject("keyProperty")
          .put("stringValue", dsKeyCols(k))
      }
      respond(ex, 200, resp.toString)
      return
    }
    tables.get(name) match {
      case None => respond(ex, 404, s"no such kind $name")
      case Some(TableData(schema, rows)) =>
        val body = M.readTree(ex.getRequestBody)
        lastDsQuery.set(body.toString)
        val (names, out) =
          try DsQuery.run(body, schema, rows)
          catch {
            case e: IllegalArgumentException =>
              // the real API's error shape for invalid queries
              val err = M.createObjectNode()
              err.putObject("error").put("code", 400)
                .put("status", "INVALID_ARGUMENT").put("message", e.getMessage)
              respond(ex, 400, err.toString); return
          }
        val start = body.path("query").path("startCursor").asText("")
          .toIntOption.getOrElse(0)
        val page = out.slice(start, start + DsBatchCap)
        val resp = M.createObjectNode()
        val batch = resp.putObject("batch")
        val results = batch.putArray("entityResults")
        page.foreach { r =>
          val props = results.addObject().putObject("entity").putObject("properties")
          names.zip(r).foreach { case (n, v) =>
            props.set[com.fasterxml.jackson.databind.JsonNode](n,
              DsQuery.valueNode(v).get)
          }
        }
        val end = start + page.size
        batch.put("endCursor", end.toString)
        batch.put("moreResults",
          if (end < out.size) "NOT_FINISHED" else "NO_MORE_RESULTS")
        respond(ex, 200, resp.toString)
    }
  }

  /** BigQuery's type vocabulary (one INT64/FLOAT64 per width class —
    * the real service has no narrower integer types). */
  private def bqTypeName(t: org.apache.spark.sql.types.DataType): String = t match {
    case LongType | IntegerType | ShortType => "INTEGER"
    case org.apache.spark.sql.types.DoubleType |
         org.apache.spark.sql.types.FloatType => "FLOAT"
    case org.apache.spark.sql.types.BooleanType => "BOOLEAN"
    case org.apache.spark.sql.types.TimestampType => "TIMESTAMP"
    case _ => "STRING"
  }

  /** jobs.query-shaped endpoint (POST /bq/<table>/query): parses the
    * shipped SQL statement with [[BqEval.parse]], executes it over the
    * registered rows ([[BqEval.execute]] — 3VL filters, exact integer
    * aggregation, engine null ordering), and answers the BigQuery REST
    * response shape: string-encoded cells in `rows[].f[].v`, `pageToken`
    * paging, `totalRows` (the reference consumes this API surface,
    * `backends/bigquery/sql_to_bq.go:72-104`). */
  private def handleBq(ex: HttpExchange): Unit = {
    val M = EsDsl.M
    val path = ex.getRequestURI.getPath.stripPrefix("/bq/")
    // tables.get (the real service's schema-discovery surface: GET
    // /bigquery/v2/projects/{p}/datasets/{d}/tables/{t} answers the
    // table resource with `schema.fields`): GET /bq/<table> here
    if (ex.getRequestMethod.equalsIgnoreCase("GET")) {
      // tables.list (GET /bigquery/v2/.../tables): the dataset's tables
      if (path.isEmpty) {
        val resp = M.createObjectNode()
        resp.put("kind", "bigquery#tableList")
        val arr = resp.putArray("tables")
        bqDatasets.keys.toSeq.sorted.filter(tables.contains).foreach(n =>
          arr.addObject().putObject("tableReference").put("tableId", n))
        respond(ex, 200, resp.toString, "application/json")
        return
      }
      val name = path.toLowerCase
      tables.get(name) match {
        case None => respond(ex, 404, s"no such dataset table $name")
        case Some(TableData(schema, rows)) =>
          val resp = M.createObjectNode()
          resp.put("kind", "bigquery#table")
          val fields = resp.putObject("schema").putArray("fields")
          schema.fields.foreach(f =>
            fields.addObject().put("name", f.name).put("type", bqTypeName(f.dataType)))
          resp.put("numRows", rows.size.toString)
          respond(ex, 200, resp.toString, "application/json")
      }
      return
    }
    // tabledata streaming insert (the reference's Put sink shape,
    // sql_to_bq.go:178-304 saves RowVals through the ValueSaver
    // interface): rows arrive as {"rows":[{"json":{col: cell}}]},
    // string-encoded like the query results
    if (path.endsWith("/insertAll")) {
      val name = path.stripSuffix("/insertAll").toLowerCase
      tables.get(name) match {
        case None => respond(ex, 404, s"no such dataset table $name"); case Some(_) =>
          val body = M.readTree(ex.getRequestBody)
          mutateTable(name) { (schema, rows) =>
            rows ++ body.path("rows").elements().asScala.map { r =>
              val json = r.path("json")
              schema.fields.map { f =>
                val c = json.path(f.name)
                if (c.isMissingNode || c.isNull) null
                else LineCodec.parse(c.asText(), f.dataType)
              }.toArray[Any]
            }.toSeq
          }
          respond(ex, 200, """{"kind":"bigquery#tableDataInsertAllResponse"}""")
      }
      return
    }
    if (!path.endsWith("/query")) { respond(ex, 400, "only /query is served"); return }
    val name = path.stripSuffix("/query").toLowerCase
    tables.get(name) match {
      case None => respond(ex, 404, s"no such dataset table $name")
      case Some(TableData(schema, rows)) =>
        val req = M.readTree(ex.getRequestBody)
        val sql = req.path("query").asText()
        lastBqSql.set(sql)
        // standard-SQL DML ships as a job like any query and answers
        // numDmlAffectedRows (the real service's surface; the reference
        // left BQ deletes ErrNotImplemented — this follows the service)
        if (BqEval.isDml(sql)) {
          val dml = BqEval.parseDml(sql)
          var affected = 0L
          mutateTable(name) { (sch, cur) =>
            val (next, n) = BqEval.executeDml(dml, sch, cur)
            affected = n
            next
          }
          val resp = M.createObjectNode()
          resp.put("numDmlAffectedRows", affected.toString)
          resp.putObject("schema").putArray("fields")
          resp.put("totalRows", "0")
          resp.putArray("rows")
          respond(ex, 200, resp.toString)
          return
        }
        val stmt = BqEval.parse(sql)
        // a join statement resolves its right table from the same dataset
        // (the warehouse executes the WHOLE statement — the passthrough
        // identity, joins included). The result is MATERIALIZED per job
        // and pageToken pages the stored rows — the jobs-API semantics
        // (without the cache, an N-page join read re-joins N times).
        if (bqJobCache.size > 64) bqJobCache.clear()
        val (names, types, out) = bqJobCache.getOrElseUpdate(
          (sql, tablesVersion.get()),
          stmt.join match {
            case Some(j) => tables.get(j.rightTable.toLowerCase) match {
              case None =>
                respond(ex, 404, s"no such dataset table ${j.rightTable}"); return
              case Some(TableData(rs, rr)) =>
                BqEval.executeJoin(stmt, (schema, rows), (rs, rr))
            }
            case None => BqEval.execute(stmt, schema, rows)
          })
        val offset = req.path("pageToken").asText("").toIntOption.getOrElse(0)
        val maxResults = req.path("maxResults").asInt(1000)
        val page = out.slice(offset, offset + maxResults)
        val resp = M.createObjectNode()
        val fields = resp.putObject("schema").putArray("fields")
        names.zip(types).foreach { case (n, t) =>
          fields.addObject().put("name", n).put("type", bqTypeName(t))
        }
        resp.put("totalRows", out.size.toString)
        val rowsArr = resp.putArray("rows")
        page.foreach { r =>
          val f = rowsArr.addObject().putArray("f")
          r.foreach { v =>
            val cell = f.addObject()
            if (v == null) cell.putNull("v") else cell.put("v", LineCodec.render(v))
          }
        }
        if (offset + page.size < out.size)
          resp.put("pageToken", (offset + page.size).toString)
        respond(ex, 200, resp.toString)
    }
  }
}

/** The loopback API server's resource store + list handler — the
  * stand-in for a real apiserver. Rows are flat (schema-shaped); the
  * handler renders them into the API's nested documents and applies
  * fieldSelector / labelSelector / limit exactly as the service would:
  * unsupported fieldSelector keys answer 400 Bad Request. */
object LoopbackKubeServer {

  private val M = EsDsl.M
  private val store = TrieMap.empty[String, Seq[Array[Any]]]

  /** Seed a resource's objects (fixture-bounded: cluster metadata). */
  def register(resource: String, rows: Seq[Array[Any]]): Unit =
    store.put(resource.toLowerCase, rows)

  def handle(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath.stripPrefix("/k8s/")
    if (!path.startsWith("api/v1/")) { respond(ex, 404, "unknown API group"); return }
    val resource = path.stripPrefix("api/v1/").toLowerCase
    (KubeTables.All.get(resource), store.get(resource)) match {
      case (Some(res), Some(rows)) =>
        val q = parseQuery(ex.getRequestURI.getRawQuery)
        LoopbackRestServer.lastParams.set(q)
        val fieldSel = q.get("fieldSelector").map(parseSelector).getOrElse(Nil)
        val labelSel = q.get("labelSelector").map(parseSelector).getOrElse(Nil)
        // the real API rejects unsupported field selectors outright.
        // (plain if, no return-from-closure: a NonLocalReturnControl
        // would be swallowed by the route's catch-all and double-respond)
        val badSel = fieldSel.find(s => !res.fieldSelectors.contains(s._1))
        if (badSel.isDefined) {
          respond(ex, 400,
            s"""{"kind":"Status","code":400,"message":"field label not supported: ${badSel.get._1}"}""")
          return
        }
        val li = res.schema.fieldNames.indexWhere(_.equalsIgnoreCase("labels"))
        val matched = rows.filter { r =>
          fieldSel.forall { case (k, v) =>
            val col = res.fieldSelectors(k)
            val i = res.schema.fieldNames.indexWhere(_.equalsIgnoreCase(col))
            r(i) != null && String.valueOf(r(i)) == v
          } && labelSel.forall { case (k, v) =>
            r(li) != null && {
              val labels = M.readTree(String.valueOf(r(li)))
              labels.path(k).asText("") == v
            }
          }
        }
        // the real API validates query params up front (a malformed
        // `limit` answers 400 with a Status object, never a 500); also
        // note the real list API treats `limit` as a PAGE size paired
        // with a `continue` token — the loopback truncates instead (no
        // continue token), a fixture simplification a future pagination
        // gate must not assume.
        val limitRaw = q.get("limit")
        if (limitRaw.exists(_.toIntOption.isEmpty)) {
          respond(ex, 400,
            s"""{"kind":"Status","code":400,"message":"invalid value for limit: ${limitRaw.get}"}""")
          return
        }
        val limited = limitRaw.flatMap(_.toIntOption) match {
          case Some(n) if n > 0 => matched.take(n)
          case _ => matched
        }
        val resp = M.createObjectNode()
        resp.put("kind", resource.capitalize.stripSuffix("s") + "List")
        resp.put("apiVersion", "v1")
        val items = resp.putArray("items")
        limited.foreach(r => items.add(render(res, r)))
        respond(ex, 200, resp.toString)
      case _ => respond(ex, 404, s"the server could not find the requested resource $resource")
    }
  }

  /** Flat row -> the API's nested {metadata, spec, status} document. */
  private def render(res: KubeTables.KubeResource, r: Array[Any]): ObjectNode = {
    val o = M.createObjectNode()
    res.schema.fields.zipWithIndex.foreach { case (f, i) =>
      if (r(i) != null) {
        val target =
          if (f.name == "kind") o
          else {
            val sec = res.sectionOf(f.name)
            if (o.has(sec)) o.path(sec).asInstanceOf[ObjectNode]
            else o.putObject(sec)
          }
        (f.name, r(i)) match {
          case ("labels", v) => // labels is a JSON object on the wire
            target.set[JsonNode]("labels", M.readTree(String.valueOf(v)))
          case (n, b: java.lang.Boolean) => target.put(n, b.booleanValue())
          case (n, v) => target.put(n, LineCodec.render(v))
        }
      }
    }
    o
  }

  /** Split a selector string on UNESCAPED commas and each term on its
    * first unescaped '=', then unescape — the real API's selector
    * grammar accepts `\,` `\=` `\\` inside values, so an equality on
    * a value containing a comma survives the trip (the client escapes,
    * this is the inverse). */
  private def parseSelector(s: String): Seq[(String, String)] = {
    val terms = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) { cur.append(c).append(s.charAt(i + 1)); i += 2 }
      else if (c == ',') { terms += cur.toString; cur.clear(); i += 1 }
      else { cur.append(c); i += 1 }
    }
    terms += cur.toString
    def unesc(t: String): String = {
      val b = new StringBuilder; var j = 0
      while (j < t.length) {
        if (t.charAt(j) == '\\' && j + 1 < t.length) { b.append(t.charAt(j + 1)); j += 2 }
        else { b.append(t.charAt(j)); j += 1 }
      }
      b.toString
    }
    terms.toSeq.filter(_.nonEmpty).map { term =>
      var j = 0; var cut = -1
      while (j < term.length && cut < 0) {
        if (term.charAt(j) == '\\') j += 2
        else if (term.charAt(j) == '=') cut = j
        else j += 1
      }
      if (cut < 0) (unesc(term).trim, "")
      else (unesc(term.take(cut)).trim, unesc(term.drop(cut + 1)).trim)
    }
  }

  private def parseQuery(raw: String): Map[String, String] =
    LoopbackRestServer.parseQuery(raw)

  private def respond(ex: HttpExchange, code: Int, body: String): Unit =
    LoopbackRestServer.respond(ex, code, body, contentType = "application/json")
}

/** The loopback warehouse's half of the [[BqSql]] dialect: parses the
  * statement the connector rendered and executes it over the registered
  * rows with the engine's 3VL semantics. */
object BqEval {

  final case class Agg(kind: String, col: String) // kind: count_star|count|min|max|sum|avg

  /** One parsed two-table join (the full-statement passthrough identity:
    * `sql_to_bq.go:72-104` re-renders whatever statement it gets, joins
    * included). `leftKey`/`rightKey` are alias-qualified; `onExtra` is an
    * optional extra conjunct in the ON clause — the null-extended side's
    * pre-join filters ride there, because under an OUTER join a WHERE on
    * that side would wrongly drop null-extended rows. */
  final case class Join(kind: String, // inner|left|right
      rightTable: String, leftAlias: String, rightAlias: String,
      leftKey: String, rightKey: String, onExtra: Option[Filter])

  final case class Stmt(cols: Seq[String], aggs: Seq[(Agg, String)], table: String,
      where: Option[Filter], groupBy: Seq[String], orderBy: Seq[BqSql.Order],
      limit: Int, offset: Int, join: Option[Join] = None)

  def parse(sql: String): Stmt = new Parser(sql).parseStmt()

  /** A parsed DML statement (BigQuery standard-SQL DML; the service —
    * unlike the reference, which never implemented BQ deletes — answers
    * UPDATE/DELETE as jobs with `numDmlAffectedRows`). */
  final case class Dml(kind: String, table: String,
      sets: Seq[(String, Any)], where: Filter)

  def isDml(sql: String): Boolean = {
    val t = sql.trim.toUpperCase
    t.startsWith("UPDATE") || t.startsWith("DELETE")
  }

  def parseDml(sql: String): Dml = new Parser(sql).parseDml()

  /** Recursive-descent parser for the rendered dialect — the warehouse's
    * front door. Grammar:
    *   SELECT item (, item)* FROM ident [WHERE pred] [GROUP BY ident*]
    *     [ORDER BY ident [DESC|ASC] [NULLS FIRST|LAST] *] [LIMIT n] [OFFSET n]
    *   item := ident | agg(ident|*) AS alias
    *   pred := or-tree of comparisons / IN / LIKE / IS [NOT] NULL with parens
    */
  private final class Parser(s: String) {
    private var i = 0
    private def ws(): Unit = { while (i < s.length && s.charAt(i).isWhitespace) i += 1 }
    private def peekWord: String = {
      ws(); val j = i
      var k = j
      while (k < s.length && (s.charAt(k).isLetterOrDigit || s.charAt(k) == '_')) k += 1
      s.substring(j, k)
    }
    private def eatWord(w: String): Boolean = {
      ws()
      if (peekWord.equalsIgnoreCase(w)) { i += w.length; true } else false
    }
    private def expectWord(w: String): Unit =
      if (!eatWord(w)) fail(s"expected $w")
    private def eatChar(c: Char): Boolean = {
      ws(); if (i < s.length && s.charAt(i) == c) { i += 1; true } else false
    }
    private def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"parse error at ${i}: $msg in [$s]")

    private def ident(): String = {
      ws(); val j = i
      while (i < s.length && (s.charAt(i).isLetterOrDigit || s.charAt(i) == '_')) i += 1
      if (i == j) fail("expected identifier")
      // one optional qualifier dot: `alias.column` (join statements)
      if (i < s.length && s.charAt(i) == '.' && i + 1 < s.length &&
          (s.charAt(i + 1).isLetter || s.charAt(i + 1) == '_')) {
        i += 1
        while (i < s.length && (s.charAt(i).isLetterOrDigit || s.charAt(i) == '_')) i += 1
      }
      s.substring(j, i)
    }

    private def stringLit(): String = {
      val sb = new StringBuilder
      if (!eatChar('\'')) fail("expected string")
      while (i < s.length && s.charAt(i) != '\'') {
        if (s.charAt(i) == '\\' && i + 1 < s.length) { sb.append(s.charAt(i + 1)); i += 2 }
        else { sb.append(s.charAt(i)); i += 1 }
      }
      if (!eatChar('\'')) fail("unterminated string")
      sb.toString
    }

    private def literal(): Any = {
      ws()
      if (i < s.length && s.charAt(i) == '\'') return stringLit()
      val w = peekWord
      if (w.equalsIgnoreCase("TRUE")) { i += w.length; return true: java.lang.Boolean }
      if (w.equalsIgnoreCase("FALSE")) { i += w.length; return false: java.lang.Boolean }
      if (w.equalsIgnoreCase("TIMESTAMP")) {
        i += w.length
        return java.sql.Timestamp.valueOf(stringLit())
      }
      // number — including scientific notation with a signed exponent
      // (Double.toString renders 1e-4 as "1.0E-4")
      val j = i
      if (i < s.length && (s.charAt(i) == '-' || s.charAt(i) == '+')) i += 1
      while (i < s.length && {
        val c = s.charAt(i)
        c.isDigit || c == '.' || c == 'E' || c == 'e' ||
          ((c == '-' || c == '+') && i > j &&
            (s.charAt(i - 1) == 'E' || s.charAt(i - 1) == 'e'))
      }) i += 1
      if (i == j) fail("expected literal")
      val raw = s.substring(j, i)
      if (raw.contains('.') || raw.toLowerCase.contains('e')) raw.toDouble: java.lang.Double
      else raw.toLong: java.lang.Long
    }

    // precedence: OR < AND < NOT < atom
    def pred(): Filter = {
      var left = andPred()
      while (eatWord("OR")) left = Or(left, andPred())
      left
    }
    private def andPred(): Filter = {
      var left = notPred()
      while (eatWord("AND")) left = And(left, notPred())
      left
    }
    private def notPred(): Filter =
      if (eatWord("NOT")) Not(notPred()) else atom()
    private def atom(): Filter = {
      ws()
      if (eatChar('(')) { val p = pred(); if (!eatChar(')')) fail("expected )"); return p }
      val w = peekWord
      if (w.equalsIgnoreCase("TRUE")) { i += w.length; return AlwaysTrue() }
      if (w.equalsIgnoreCase("FALSE")) { i += w.length; return AlwaysFalse() }
      val a = ident()
      ws()
      if (eatWord("IS")) {
        val not = eatWord("NOT")
        expectWord("NULL")
        return if (not) IsNotNull(a) else IsNull(a)
      }
      if (eatWord("IN")) {
        if (!eatChar('(')) fail("expected (")
        val vs = Seq.newBuilder[Any]
        vs += literal()
        while (eatChar(',')) vs += literal()
        if (!eatChar(')')) fail("expected )")
        return In(a, vs.result().toArray)
      }
      if (eatWord("LIKE")) {
        // stringLit has already consumed ONE escape level; the renderer
        // doubles LIKE-meta escapes so at this level escaped meta still
        // reads \% \_ \\ while anchors are BARE %.
        val body = stringLit()
        // char-walk unescape ('\' takes the next char literally) — a
        // String.replace chain mishandles "\\%" (escaped \ + anchor)
        def unesc(x: String): String = {
          val sb = new StringBuilder
          var k = 0
          while (k < x.length) {
            if (x.charAt(k) == '\\' && k + 1 < x.length) { sb.append(x.charAt(k + 1)); k += 2 }
            else { sb.append(x.charAt(k)); k += 1 }
          }
          sb.toString
        }
        // Anchor classification BEFORE unescaping: a leading % is always
        // an anchor (nothing can precede it); a trailing % is an anchor
        // only if preceded by an EVEN number of backslashes (odd = it is
        // the renderer's escaped literal %, e.g. ends-with "x%").
        val startsAnchor = body.startsWith("%")
        val endsAnchor = body.endsWith("%") && {
          var k = body.length - 2; var n = 0
          while (k >= 0 && body.charAt(k) == '\\') { n += 1; k -= 1 }
          n % 2 == 0
        }
        if (startsAnchor && endsAnchor && body.length >= 2)
          return StringContains(a, unesc(body.substring(1, body.length - 1)))
        if (endsAnchor) return StringStartsWith(a, unesc(body.dropRight(1)))
        if (startsAnchor) return StringEndsWith(a, unesc(body.drop(1)))
        fail(s"unsupported LIKE pattern $body")
      }
      val op =
        if (eatChar('=')) "="
        else if (eatChar('<')) { if (eatChar('=')) "<=" else if (eatChar('>')) "<>" else "<" }
        else if (eatChar('>')) { if (eatChar('=')) ">=" else ">" }
        else fail("expected comparison operator")
      val v = literal()
      op match {
        case "=" => EqualTo(a, v)
        case "<>" => Not(EqualTo(a, v))
        case "<" => LessThan(a, v)
        case "<=" => LessThanOrEqual(a, v)
        case ">" => GreaterThan(a, v)
        case ">=" => GreaterThanOrEqual(a, v)
      }
    }

    private def selectItem(): Either[String, (Agg, String)] = {
      ws()
      val w = peekWord.toLowerCase
      if (Set("count", "min", "max", "sum", "avg")(w)) {
        i += w.length
        if (!eatChar('(')) fail("expected (")
        val arg = { ws(); if (eatChar('*')) "*" else ident() }
        if (!eatChar(')')) fail("expected )")
        expectWord("AS")
        val alias = ident()
        val kind = if (w == "count" && arg == "*") "count_star" else w
        Right((Agg(kind, arg), alias))
      } else Left(ident())
    }

    def parseStmt(): Stmt = {
      expectWord("SELECT")
      val items = Seq.newBuilder[Either[String, (Agg, String)]]
      items += selectItem()
      while (eatChar(',')) items += selectItem()
      expectWord("FROM")
      val table = ident()
      val keywords = Set("WHERE", "GROUP", "ORDER", "LIMIT", "OFFSET",
        "JOIN", "INNER", "LEFT", "RIGHT", "ON")
      def maybeAlias(): Option[String] = {
        val w = peekWord
        if (w.isEmpty || keywords.contains(w.toUpperCase)) None
        else { i += w.length; Some(w) }
      }
      val leftAlias = maybeAlias()
      val join: Option[Join] = {
        val kind =
          if (eatWord("LEFT")) { eatWord("OUTER"); expectWord("JOIN"); Some("left") }
          else if (eatWord("RIGHT")) { eatWord("OUTER"); expectWord("JOIN"); Some("right") }
          else if (eatWord("INNER")) { expectWord("JOIN"); Some("inner") }
          else if (eatWord("JOIN")) Some("inner")
          else None
        kind.map { k =>
          val rt = ident()
          val ra = maybeAlias().getOrElse(fail("join requires a right alias"))
          expectWord("ON")
          val lk = ident()
          if (!eatChar('=')) fail("expected = in ON clause")
          val rk = ident()
          val extra = if (eatWord("AND")) Some(pred()) else None
          Join(k, rt, leftAlias.getOrElse(fail("join requires a left alias")),
            ra, lk, rk, extra)
        }
      }
      val where = if (eatWord("WHERE")) Some(pred()) else None
      val groupBy = if (eatWord("GROUP")) {
        expectWord("BY")
        val gs = Seq.newBuilder[String]
        gs += ident()
        while (eatChar(',')) gs += ident()
        gs.result()
      } else Nil
      val orderBy = if (eatWord("ORDER")) {
        expectWord("BY")
        def one(): BqSql.Order = {
          val c = ident()
          val desc = if (eatWord("DESC")) true else { eatWord("ASC"); false }
          val nf = if (eatWord("NULLS")) {
            if (eatWord("FIRST")) true else { expectWord("LAST"); false }
          } else !desc // engine defaults: ASC => NULLS FIRST, DESC => NULLS LAST
          BqSql.Order(c, desc, nf)
        }
        val os = Seq.newBuilder[BqSql.Order]
        os += one()
        while (eatChar(',')) os += one()
        os.result()
      } else Nil
      val limit = if (eatWord("LIMIT")) literal().asInstanceOf[java.lang.Long].toInt else -1
      val offset = if (eatWord("OFFSET")) literal().asInstanceOf[java.lang.Long].toInt else 0
      ws()
      if (i != s.length) fail("trailing input")
      val its = items.result()
      Stmt(its.collect { case Left(c) => c },
        its.collect { case Right(a) => a },
        table, where, groupBy, orderBy, limit, offset, join)
    }

    /** `UPDATE t SET c = lit, ... WHERE pred` / `DELETE FROM t WHERE
      * pred`. WHERE is REQUIRED — the real service rejects DML without
      * one (`WHERE TRUE` is the explicit opt-in to a full mutation). */
    def parseDml(): Dml = {
      if (eatWord("DELETE")) {
        expectWord("FROM")
        val table = ident()
        if (!eatWord("WHERE"))
          fail("DELETE must have a WHERE clause; use WHERE TRUE to delete all rows")
        val w = pred()
        ws(); if (i != s.length) fail("trailing input")
        Dml("delete", table, Nil, w)
      } else {
        expectWord("UPDATE")
        val table = ident()
        expectWord("SET")
        val sets = Seq.newBuilder[(String, Any)]
        def one(): Unit = {
          val c = ident()
          if (!eatChar('=')) fail("expected =")
          ws()
          sets += (c -> (if (eatWord("NULL")) null else literal()))
        }
        one()
        while (eatChar(',')) one()
        if (!eatWord("WHERE"))
          fail("UPDATE must have a WHERE clause; use WHERE TRUE to update all rows")
        val w = pred()
        ws(); if (i != s.length) fail("trailing input")
        Dml("update", table, sets.result(), w)
      }
    }
  }

  /** Apply a DML statement; returns (new rows, affected count). */
  def executeDml(dml: Dml, schema: StructType, rows: Seq[Array[Any]])
      : (Seq[Array[Any]], Long) = {
    val hit = FilterEval.compile(dml.where, schema)
    dml.kind match {
      case "delete" =>
        val kept = rows.filterNot(hit)
        (kept, (rows.size - kept.size).toLong)
      case "update" =>
        val setIdx = dml.sets.map { case (c, v) =>
          val k = schema.fieldNames.indexWhere(_.equalsIgnoreCase(c))
          require(k >= 0, s"unknown column $c")
          // literals arrive as Long/Double/String/Boolean/Timestamp —
          // coerce integer literals into narrower integer columns
          val coerced = (v, schema.fields(k).dataType) match {
            case (l: java.lang.Long, IntegerType) => Int.box(l.toInt)
            case (l: java.lang.Long, ShortType) => Short.box(l.toShort)
            case (l: java.lang.Long, DoubleType) => Double.box(l.toDouble)
            case (d: java.lang.Double, FloatType) => Float.box(d.toFloat)
            case _ => v
          }
          k -> coerced
        }
        var n = 0L
        val next = rows.map { r =>
          if (!hit(r)) r
          else {
            n += 1
            val copy = r.clone()
            setIdx.foreach { case (k, v) => copy(k) = v }
            copy
          }
        }
        (next, n)
    }
  }

  // ---- execution (the warehouse) ----------------------------------------

  /** Execute a parsed statement over external-typed rows — filters with
    * the engine's 3VL evaluator, exact integer aggregation, engine null
    * ordering. Returns (column names, column types, rows). */
  def execute(stmt: Stmt, schema: StructType, rows: Seq[Array[Any]])
      : (Seq[String], Seq[DataType], Seq[Seq[Any]]) = {
    def idx(c: String): Int = {
      val k = schema.fieldNames.indexWhere(_.equalsIgnoreCase(c))
      require(k >= 0, s"unknown column $c")
      k
    }
    val filtered = stmt.where match {
      case Some(f) => rows.filter(FilterEval.compile(f, schema))
      case None => rows
    }
    def integral(i: Int) = schema.fields(i).dataType match {
      case ShortType | IntegerType | LongType => true
      case _ => false
    }
    def aggValue(a: Agg, group: Seq[Array[Any]]): (Any, DataType) = a.kind match {
      case "count_star" => (group.size.toLong, LongType)
      case "count" =>
        val i = idx(a.col); (group.count(_(i) != null).toLong, LongType)
      case "min" | "max" =>
        val i = idx(a.col)
        val vs = group.map(_(i)).filter(_ != null)
        val dt = schema.fields(i).dataType
        if (vs.isEmpty) (null, dt)
        else {
          val picked = vs.reduce { (x, y) =>
            val c = FilterEval.cmp(x, y).getOrElse(0)
            if (a.kind == "min") { if (c <= 0) x else y } else { if (c >= 0) x else y }
          }
          (picked, dt)
        }
      case "sum" =>
        val i = idx(a.col)
        val vs = group.map(_(i)).filter(_ != null)
        if (integral(i))
          (if (vs.isEmpty) null else vs.map(_.asInstanceOf[Number].longValue()).sum, LongType)
        else
          (if (vs.isEmpty) null else vs.map(_.asInstanceOf[Number].doubleValue()).sum, DoubleType)
      case "avg" =>
        val i = idx(a.col)
        val vs = group.map(_(i)).filter(_ != null)
        if (vs.isEmpty) (null, DoubleType)
        else if (integral(i)) // exact integer sum, ONE IEEE division
          (vs.map(_.asInstanceOf[Number].longValue()).sum.toDouble / vs.size, DoubleType)
        else (vs.map(_.asInstanceOf[Number].doubleValue()).sum / vs.size, DoubleType)
    }

    // ORDER BY items resolved to row positions, in the shared comparator
    def sortBy[R](rows: Seq[R], position: String => Int)(get: (R, Int) => Any): Seq[R] =
      rows.sorted(PushedWindow.ordering(
        stmt.orderBy.map(o => o.copy(target = position(o.target))))(get))

    val isAgg = stmt.aggs.nonEmpty || stmt.groupBy.nonEmpty
    // non-agg ORDER BY resolves against the INPUT schema and sorts the
    // rows BEFORE projection (SQL scoping — the key need not be
    // projected; a pushed join's qualified `ORDER BY t0.x` rides here)
    val preSorted =
      if (isAgg || stmt.orderBy.isEmpty) filtered
      else sortBy(filtered, idx)(_(_))

    val (names, types, out): (Seq[String], Seq[DataType], Seq[Seq[Any]]) =
      if (isAgg) {
        val gIdx = stmt.groupBy.map(idx)
        val groups: Seq[(Seq[Any], Seq[Array[Any]])] =
          if (gIdx.isEmpty) Seq((Nil, filtered))
          else filtered.groupBy(r => gIdx.map(r(_)): Seq[Any]).toSeq
        val aggTypes = stmt.aggs.map { case (a, _) =>
          aggValue(a, filtered.take(0))._2
        }
        (stmt.groupBy ++ stmt.aggs.map(_._2),
          gIdx.map(schema.fields(_).dataType) ++ aggTypes,
          groups.map { case (keys, g) => keys ++ stmt.aggs.map(x => aggValue(x._1, g)._1) })
      } else {
        val cIdx = stmt.cols.map(idx)
        (stmt.cols.map(c => schema.fieldNames(idx(c))),
          cIdx.map(schema.fields(_).dataType),
          preSorted.map(r => cIdx.map(r(_))))
      }

    // agg ORDER BY (TopN over a pushed aggregate) names OUTPUT columns
    val sorted = if (!isAgg || stmt.orderBy.isEmpty) out else {
      sortBy(out, { c =>
        val k = names.indexWhere(_.equalsIgnoreCase(c))
        require(k >= 0, s"ORDER BY references unknown output $c")
        k
      })(_(_))
    }
    val windowed = sorted.slice(stmt.offset,
      if (stmt.limit >= 0) stmt.offset + stmt.limit else sorted.size)
    (names, types, windowed)
  }

  /** Execute a two-table join statement: hash-join the registered rows
    * (SQL key equality — null keys never match; the ON extra conjunct
    * gates match candidacy, so a null-extended side's pre-join filters
    * behave exactly like a filtered subquery), then run the remaining
    * clauses over the joined virtual table whose columns carry their
    * alias-qualified names. */
  def executeJoin(stmt: Stmt, left: (StructType, Seq[Array[Any]]),
      right: (StructType, Seq[Array[Any]]))
      : (Seq[String], Seq[DataType], Seq[Seq[Any]]) = {
    val j = stmt.join.get
    val (ls, lr) = left
    val (rs, rr) = right
    val virt = StructType(
      ls.fields.map(f => StructField(s"${j.leftAlias}.${f.name}", f.dataType, nullable = true)) ++
        rs.fields.map(f => StructField(s"${j.rightAlias}.${f.name}", f.dataType, nullable = true)))
    def local(schema: StructType, alias: String, q: String): Int = {
      require(q.toLowerCase.startsWith(alias.toLowerCase + "."),
        s"ON key $q is not under alias $alias")
      val col = q.substring(alias.length + 1)
      val k = schema.fieldNames.indexWhere(_.equalsIgnoreCase(col))
      require(k >= 0, s"unknown join key $q")
      k
    }
    // the ON clause may name the keys in either order
    val (lq, rq) =
      if (j.leftKey.toLowerCase.startsWith(j.leftAlias.toLowerCase + "."))
        (j.leftKey, j.rightKey)
      else (j.rightKey, j.leftKey)
    val lk = local(ls, j.leftAlias, lq)
    val rk = local(rs, j.rightAlias, rq)
    // numeric keys hash by widened value so INT32/INT64 sides still meet
    def norm(v: Any): Any = v match {
      case n @ (_: java.lang.Short | _: java.lang.Integer | _: java.lang.Long) =>
        n.asInstanceOf[Number].longValue(): java.lang.Long
      case n @ (_: java.lang.Float | _: java.lang.Double) =>
        n.asInstanceOf[Number].doubleValue(): java.lang.Double
      case x => x
    }
    val onExtra = j.onExtra.map(FilterEval.compile(_, virt))
    def accepts(row: Array[Any]): Boolean = onExtra.forall(_(row))
    val nullsL = Array.fill[Any](ls.fields.length)(null)
    val nullsR = Array.fill[Any](rs.fields.length)(null)
    val joined: Seq[Array[Any]] = j.kind match {
      case "right" =>
        val byKey = lr.filter(_(lk) != null).groupBy(r => norm(r(lk)))
        rr.flatMap { r =>
          val hits =
            if (r(rk) == null) Nil
            else byKey.getOrElse(norm(r(rk)), Nil).map(l => l ++ r).filter(accepts)
          if (hits.nonEmpty) hits else Seq(nullsL ++ r)
        }
      case kind =>
        val byKey = rr.filter(_(rk) != null).groupBy(r => norm(r(rk)))
        lr.flatMap { l =>
          val hits =
            if (l(lk) == null) Nil
            else byKey.getOrElse(norm(l(lk)), Nil).map(r => l ++ r).filter(accepts)
          if (hits.nonEmpty) hits
          else if (kind == "left") Seq(l ++ nullsR)
          else Nil
        }
    }
    execute(stmt.copy(join = None, table = "__joined"), virt, joined)
  }
}
