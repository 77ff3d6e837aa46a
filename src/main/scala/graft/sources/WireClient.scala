package graft.sources

import java.io.IOException
import java.util.concurrent.atomic.AtomicLong

/** The one config of the wire clients ([[HttpRestClient]],
  * [[MongoClientLite]], [[CqlClientLite]]).
  *
  *   - `requestTimeoutMs`: the per-request deadline (the socket read
  *     timeout of the Mongo and CQL clients);
  *   - `maxRetries`/`retryBackoffMs`: see [[WireRetry]];
  *   - `pageSize`: rows per page (HTTP `size`, Mongo `batchSize`, CQL
  *     page size);
  *   - `compress`: offer zlib wire compression in the Mongo handshake
  *     (the public OP_COMPRESSED negotiation); BSON batches compress
  *     several-fold, the dominant wire cost of remote scans at scale.
  */
final case class WireClientConfig(
    connectTimeoutMs: Int = 2000,
    requestTimeoutMs: Int = 10000,
    maxRetries: Int = 3,
    retryBackoffMs: Int = 50,
    pageSize: Int = 64,
    compress: Boolean = true)

/** The wire clients' one retry loop: a transient I/O failure (anything
  * `permanent` does not name) is retried up to `cfg.maxRetries` times
  * with linear backoff, each retry counted in `retries` and preceded by
  * `reset` (a socket client reconnects). When the retries run out,
  * `exhausted(lastFailure, attempts)` is thrown. Only idempotent
  * requests may ride it. */
object WireRetry {

  def apply[T](cfg: WireClientConfig, retries: AtomicLong,
      permanent: IOException => Boolean, reset: () => Unit = () => (),
      exhausted: (IOException, Int) => IOException = (e, _) => e)(op: => T): T = {
    var attempt = 0
    while (true) {
      try return op
      catch {
        case e: IOException if !permanent(e) =>
          if (attempt >= cfg.maxRetries) throw exhausted(e, attempt + 1)
          attempt += 1
          retries.incrementAndGet()
          reset()
          Thread.sleep(cfg.retryBackoffMs.toLong * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The server's own error replies are permanent: they start with the
    * client's `prefix`. (`getMessage` may be null — a bare EOFException
    * on a dropped connection — hence the Option guard.) */
  def answered(prefix: String): IOException => Boolean =
    e => Option(e.getMessage).exists(_.startsWith(prefix))
}
