package graft.sources

import java.net.{URI, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Duration
import java.util.concurrent.atomic.AtomicLong

/** A real socket-backed HTTP client for REST-profile sources.
  *
  * This is the network half of the REST connector seam
  * ([[RestEndpoint.handler]]): compiled query params become a URL query
  * string, responses stream back as JSON lines, and the client owns the
  * operational concerns the reference's backend clients own
  * (`backends/elasticsearch/sqltoes.go:112-279` posts the compiled query
  * over HTTP and walks paged results; `backends/lytics/generator.go`
  * streams segment pages):
  *
  *   - connection pooling: one shared `java.net.http.HttpClient` per
  *     client instance (the JDK client keeps-alive and reuses sockets);
  *   - paging: `from`/`size` windows pulled lazily until a short page —
  *     the iterator never materializes the result, so a LIMIT that stops
  *     consuming stops FETCHING (at 100 TB the client streams, it never
  *     buffers a backend's full response);
  *   - retries: transient failures (connect refused/reset, 5xx, timeout)
  *     back off and retry up to `maxRetries`; non-transient 4xx fail
  *     fast with the server's message;
  *   - timeouts: connect and per-request deadlines, so a hung backend
  *     surfaces as a retryable failure instead of a wedged task.
  */
final class HttpRestClient(val baseUrl: String, val cfg: WireClientConfig = WireClientConfig()) {
  import HttpRestClient.Transient

  private val client = HttpClient.newBuilder()
    .connectTimeout(Duration.ofMillis(cfg.connectTimeoutMs))
    .version(HttpClient.Version.HTTP_1_1)
    .build()

  /** Observability counters (asserted by the fault-injection spec). */
  val requests = new AtomicLong(0)
  val retries = new AtomicLong(0)

  private def enc(s: String) = URLEncoder.encode(s, UTF_8)

  /** GET one page; retries transient failures with linear backoff. */
  def get(path: String, params: Map[String, String]): String =
    exchange(path, params, None)

  /** POST a JSON body (the ES `_search` shape); same retry contract —
    * safe because search requests are idempotent reads. */
  def postJson(path: String, body: String, params: Map[String, String] = Map.empty): String =
    exchange(path, params, Some(body))

  /** POST exactly once — NO retries. For non-idempotent continuations:
    * an ES scroll continuation advances the server-side cursor, so a
    * retry after a lost response would fetch the NEXT page and silently
    * skip one page of hits. Failure here propagates loudly instead;
    * Spark re-runs the task, which opens a fresh scroll from the start
    * (at-least-once at the task level, never silent row loss). */
  def postJsonOnce(path: String, body: String): String = {
    val req = HttpRequest.newBuilder(URI.create(baseUrl + path))
      .timeout(Duration.ofMillis(cfg.requestTimeoutMs))
      .header("Content-Type", "application/json")
      .header("Accept-Encoding", "gzip")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    requests.incrementAndGet()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofByteArray())
    if (resp.statusCode() / 100 == 2) decode(resp)
    else throw new java.io.IOException(
      s"non-retryable request failed: HTTP ${resp.statusCode()} ${decode(resp).take(200)}")
  }

  /** DELETE with a JSON body — the ES clear-scroll request shape
    * (`DELETE /_search/scroll {"scroll_id": ...}`). Best-effort: a
    * cursor the server already dropped answers 404 and that is fine. */
  def deleteJson(path: String, body: String): String = {
    val req = HttpRequest.newBuilder(URI.create(baseUrl + path))
      .timeout(Duration.ofMillis(cfg.requestTimeoutMs))
      .header("Content-Type", "application/json")
      .header("Accept-Encoding", "gzip")
      .method("DELETE", HttpRequest.BodyPublishers.ofString(body)).build()
    requests.incrementAndGet()
    decode(client.send(req, HttpResponse.BodyHandlers.ofByteArray()))
  }

  /** Decode a response body, inflating `Content-Encoding: gzip`. Every
    * request advertises gzip: at 100 TB the dominant wire cost of a REST
    * backend is the hits pages, and JSON compresses 5-10x — the same
    * transparent content-encoding the reference's Go http.Transport
    * negotiates. The JDK client does NOT auto-inflate, so decode here. */
  private def decode(resp: HttpResponse[Array[Byte]]): String = {
    val gz = resp.headers().firstValue("Content-Encoding").orElse("")
      .toLowerCase.contains("gzip")
    val bytes = resp.body()
    if (!gz || bytes.isEmpty) new String(bytes, UTF_8)
    else {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try new String(in.readAllBytes(), UTF_8) finally in.close()
    }
  }

  private def exchange(path: String, params: Map[String, String],
      body: Option[String]): String = {
    val qs = params.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${enc(k)}=${enc(v)}" }.mkString("&")
    val uri = URI.create(baseUrl + path + (if (qs.isEmpty) "" else "?" + qs))
    val b = HttpRequest.newBuilder(uri)
      .timeout(Duration.ofMillis(cfg.requestTimeoutMs))
    b.header("Accept-Encoding", "gzip")
    val req = body match {
      case Some(json) => b.header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(json)).build()
      case None => b.GET().build()
    }
    // 5xx, timeouts and refused connections are transient: once the
    // retries run out they surface as "unavailable"; a 4xx is the
    // request's own fault and fails at once
    WireRetry(cfg, retries, WireRetry.answered("REST endpoint rejected"),
      exhausted = {
        case (t: Transient, n) => new java.io.IOException(
          s"REST endpoint unavailable after $n attempts ($uri): ${t.getMessage}")
        case (e, _) => e
      }) {
      requests.incrementAndGet()
      val resp =
        try client.send(req, HttpResponse.BodyHandlers.ofByteArray())
        catch {
          case e: java.net.http.HttpTimeoutException => throw new Transient(s"timeout: $e")
          case e: java.net.ConnectException => throw new Transient(s"connect: $e")
        }
      if (resp.statusCode() / 100 == 2) decode(resp)
      else if (resp.statusCode() / 100 == 5)
        throw new Transient(s"HTTP ${resp.statusCode()}: ${decode(resp).take(200)}")
      else
        throw new java.io.IOException(
          s"REST endpoint rejected $uri: HTTP ${resp.statusCode()} ${decode(resp).take(200)}")
    }
  }


  /** Lazily page through `path`, yielding JSON lines. An API `limit`
    * param caps total rows (and stops fetching early); other params pass
    * through to every page request.
    *
    * The cursor advances by the RECEIVED row count, not the requested
    * size, and only an EMPTY page terminates: a server that caps pages
    * below the requested size (most real listing APIs do) just gets one
    * more request from the right offset — never silent row loss. A full
    * final page costs one extra (empty) probe request; correctness over
    * one metadata-sized round-trip. */
  def pagedLines(path: String, params: Map[String, String]): Iterator[String] = {
    val limit = params.get("limit").map(_.toLong)
    val base = params - "limit"
    var from = 0L
    var yielded = 0L
    var done = false
    new Iterator[Iterator[String]] {
      override def hasNext: Boolean = !done && limit.forall(yielded < _)
      override def next(): Iterator[String] = {
        val size = math.min(cfg.pageSize.toLong,
          limit.map(_ - yielded).getOrElse(cfg.pageSize.toLong))
        val body = get(path, base ++ Map("from" -> from.toString, "size" -> size.toString))
        val lines = body.linesIterator.filter(_.nonEmpty).toArray
        from += lines.length
        yielded += lines.length
        if (lines.isEmpty) done = true
        lines.iterator
      }
    }.flatten
  }

  /** Strided variant of [[pagedLines]] for scan fan-out: slice `slice`
    * of `slices` reads the pages at offsets `(slice + k*slices) *
    * pageSize`, k = 0,1,2,... — together the slices cover every row
    * exactly once using nothing but the API's own from/size paging (the
    * reference treats Lytics as a paged entity scan; this is that scan
    * sharded). An API `limit` param caps THIS slice's rows
    * (partial-pushed limits: Spark re-trims globally).
    *
    * Exactly-once tiling REQUIRES full fixed-size pages, so a short page
    * is only a valid terminator when the table really ends inside it. A
    * server that silently caps pages below the requested size would
    * otherwise lose the rest of every stride — the same silent-loss
    * class as the ES short-scroll-page bug — so a short non-final page
    * triggers a one-row PROBE just past the received rows: rows there
    * mean the server ignored our page size, and the scan fails LOUDLY
    * (lower pageSize below the server's cap) instead of dropping rows. */
  def pagedLinesSliced(path: String, params: Map[String, String],
      slice: Int, slices: Int): Iterator[String] = {
    if (slices <= 1) return pagedLines(path, params)
    val limit = params.get("limit").map(_.toLong)
    val base = params - "limit"
    // names chosen to not collide with Iterator's own slice/size members
    val pageSz = cfg.pageSize.toLong
    val sliceIdx = slice.toLong
    var k = 0L
    var yielded = 0L
    var done = false
    new Iterator[Iterator[String]] {
      override def hasNext: Boolean = !done && limit.forall(yielded < _)
      override def next(): Iterator[String] = {
        val from = (sliceIdx + k * slices) * pageSz
        val body = get(path, base ++ Map("from" -> from.toString, "size" -> pageSz.toString))
        var lines = body.linesIterator.filter(_.nonEmpty).toArray
        k += 1
        var shortPage = lines.length < pageSz
        if (shortPage) done = true
        limit.foreach { n =>
          if (yielded + lines.length >= n) {
            lines = lines.take((n - yielded).toInt)
            done = true
            shortPage = false // limit satisfied: the short page is moot
          }
        }
        // probe only when a short page is actually load-bearing (it is
        // about to terminate an un-satisfied scan)
        if (shortPage) {
          val probe = get(path, base ++ Map(
            "from" -> (from + lines.length).toString, "size" -> "1"))
          if (probe.linesIterator.exists(_.nonEmpty))
            throw new java.io.IOException(
              s"$path returned a ${lines.length}-row page for a requested " +
                s"size of $pageSz with more rows remaining: the server caps " +
                "page sizes, which breaks strided slicing — set pageSize at " +
                "or below the server's cap")
        }
        yielded += lines.length
        lines.iterator
      }
    }.flatten
  }
}

object HttpRestClient {
  /** A failure a retry may cure: a 5xx, a timeout, a refused connection. */
  private final class Transient(msg: String) extends java.io.IOException(msg)
}
