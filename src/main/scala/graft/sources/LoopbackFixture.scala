package graft.sources

import java.io.{DataInputStream, IOException, OutputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, AtomicReference}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.types.StructType

/** The fault-injection knobs every loopback fixture server carries, and
  * the one rule that applies them: each request (an HTTP exchange, a
  * socket command) is counted, delayed, and may be failed — an HTTP
  * route answers 500, a socket server drops the connection without a
  * reply. Specs drive the clients' retry and timeout paths with them
  * over a genuine connection. */
trait FaultGate {
  /** Next N requests fail (decremented per request). */
  val failNext = new AtomicInteger(0)
  /** Artificial per-request latency — drive client timeouts. */
  val delayMs = new AtomicInteger(0)
  /** Requests served (including injected failures). */
  val served = new AtomicLong(0)

  /** Count one request, sleep the injected latency, and consume one
    * injected failure: false means the request must fail. */
  protected final def admit(): Boolean = {
    served.incrementAndGet()
    val d = delayMs.get()
    if (d > 0) Thread.sleep(d.toLong)
    failNext.getAndUpdate(n => math.max(0, n - 1)) <= 0
  }
}

/** A loopback TCP listener on 127.0.0.1 (started once, on first use):
  * each accepted connection gets a daemon thread that calls `serveOne`
  * until the peer hangs up or `serveOne` answers false, which closes the
  * connection without a reply. */
final class LoopbackAcceptor(name: String)(
    serveOne: (DataInputStream, OutputStream) => Boolean) {

  private val serverRef = new AtomicReference[ServerSocket](null)

  /** Start (once); returns (host, port). */
  def ensureStarted(): (String, Int) = {
    val cur = serverRef.get()
    if (cur != null) return ("127.0.0.1", cur.getLocalPort)
    val srv = new ServerSocket(0, 16, InetAddress.getLoopbackAddress)
    if (!serverRef.compareAndSet(null, srv)) {
      srv.close()
      return ("127.0.0.1", serverRef.get().getLocalPort)
    }
    val acceptor = new Thread(() => acceptLoop(srv), name)
    acceptor.setDaemon(true)
    acceptor.start()
    ("127.0.0.1", srv.getLocalPort)
  }

  private def acceptLoop(srv: ServerSocket): Unit =
    while (!srv.isClosed) {
      try {
        val sock = srv.accept()
        val t = new Thread(() => serve(sock), s"$name-conn")
        t.setDaemon(true)
        t.start()
      } catch { case _: IOException => () }
    }

  private def serve(sock: Socket): Unit =
    try {
      sock.setTcpNoDelay(true)
      val in = new DataInputStream(new java.io.BufferedInputStream(sock.getInputStream))
      while (!sock.isClosed && serveOne(in, sock.getOutputStream)) ()
    } catch {
      case _: IOException => () // client hung up (EOF) or reset
    } finally {
      try sock.close() catch { case _: IOException => () }
    }
}

/** A MUTABLE fixture table: the write commands mutate it in place, like
  * the real store; `snapshot` gives reads a consistent view. */
class FixtureTable(val schema: StructType, init: Seq[Array[Any]]) {
  private val buf = ArrayBuffer.from(init)

  def snapshot: Seq[Array[Any]] = synchronized(buf.toSeq)

  def append(rs: Seq[Array[Any]]): Int = synchronized { buf ++= rs; rs.size }

  /** Apply `set` (column index → value) to the rows matching `pred`
    * (the first one only unless `multi`). */
  def update(pred: Array[Any] => Boolean, set: Map[Int, Any], multi: Boolean): Int =
    synchronized {
      var n = 0
      var i = 0
      while (i < buf.length && (multi || n == 0)) {
        if (pred(buf(i))) {
          val r = buf(i).clone()
          set.foreach { case (k, v) => r(k) = v }
          buf(i) = r
          n += 1
        }
        i += 1
      }
      n
    }

  /** Delete the rows matching `pred`, at most `limit` of them when
    * `limit` > 0. */
  def delete(pred: Array[Any] => Boolean, limit: Int = 0): Int = synchronized {
    var n = 0
    val keep = buf.filter { r =>
      if ((limit <= 0 || n < limit) && pred(r)) { n += 1; false } else true
    }
    buf.clear(); buf ++= keep
    n
  }

  /** Atomic replace-by-key: delete+append under ONE lock — two
    * separately synchronized calls would let concurrent writers of
    * the same primary key interleave and leave duplicate rows. */
  def upsert(keyPred: Array[Any] => Boolean, r: Array[Any]): Unit = synchronized {
    val keep = buf.filterNot(keyPred)
    buf.clear(); buf ++= keep; buf += r
  }
}
