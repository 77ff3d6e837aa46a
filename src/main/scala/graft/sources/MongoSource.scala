package graft.sources

import java.io.{DataInputStream, IOException}
import java.net.{InetAddress, InetSocketAddress, ServerSocket, Socket}
import java.util
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, AtomicReference}
import java.util.regex.Pattern

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{NamedReference, NullOrdering, SortDirection, SortOrder}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.protocol.Bson.{BDoc, BRegex}
import graft.protocol.{Bson, OpMsg}

/** SQL→Mongo filter-document translation (the reference's Mongo backend
  * compiles the full WHERE tree into a bson query document and pushes
  * sort+limit+skip with it, `backends/mongo/sql_to_mgo.go:441-637`:
  * `=`→field:value, ranges→\$gt/\$gte/\$lt/\$lte, `!=`→\$ne, IN→\$in,
  * BETWEEN→\$gte+\$lte, LIKE→regex, AND→\$and, OR→\$or,
  * exists()→\$exists). Differences kept deliberate:
  *
  *   - LIKE compiles to a CASE-SENSITIVE regex (the reference passes the
  *     "i" option, `sql_to_mgo.go:580-586`, which contradicts its own
  *     engine's LIKE semantics — we match SQL, and the oracle).
  *   - NOT compiles to \$nor plus `{field: {\$ne: null}}` guards on every
  *     referenced column: Mongo predicates are two-valued (a \$nor over a
  *     null row matches), SQL's are not — the guards restore 3VL so the
  *     pushed filter returns exactly the rows SQL's NOT would.
  */
object MongoDsl {

  /** A Spark filter literal as a BSON-encodable value; None = a type the
    * wire subset can't carry exactly (decimal, sub-millisecond time). */
  private[sources] def lit(v: Any): Option[Any] = v match {
    case null => Some(null)
    case _: java.lang.Integer | _: java.lang.Long | _: java.lang.Double |
         _: java.lang.Boolean | _: String | _: java.lang.Short => Some(v)
    case f: java.lang.Float => Some(f.doubleValue(): java.lang.Double)
    case t: java.sql.Timestamp =>
      if (t.getNanos % 1000000 == 0) Some(t) else None // BSON datetime is ms
    case i: java.time.Instant =>
      if (i.getNano % 1000000 == 0) Some(java.sql.Timestamp.from(i)) else None
    case t: java.time.LocalDateTime => // TIMESTAMP_NTZ: UTC wall clock,
      // stored as a BSON datetime like the collection's own values
      if (t.getNano % 1000000 == 0)
        Some(java.sql.Timestamp.from(t.toInstant(java.time.ZoneOffset.UTC)))
      else None
    case _ => None
  }

  private def field(a: String, cond: Any): BDoc = BDoc(Seq(a -> cond))

  /** Compile one Spark filter; None = not expressible (declined, Spark
    * re-applies it as a residual — the polyfill contract). */
  def compile(f: Filter): Option[BDoc] = f match {
    case EqualTo(a, v) if v != null => lit(v).map(x => field(a, x))
    case EqualNullSafe(a, v) => lit(v).map(x => field(a, x))
    case GreaterThan(a, v) if v != null => lit(v).map(x => field(a, BDoc(Seq("$gt" -> x))))
    case GreaterThanOrEqual(a, v) if v != null => lit(v).map(x => field(a, BDoc(Seq("$gte" -> x))))
    case LessThan(a, v) if v != null => lit(v).map(x => field(a, BDoc(Seq("$lt" -> x))))
    case LessThanOrEqual(a, v) if v != null => lit(v).map(x => field(a, BDoc(Seq("$lte" -> x))))
    case In(a, vs) if vs != null && vs.exists(_ != null) =>
      // SQL x IN (v..., NULL) is TRUE only on a non-null match; $in with a
      // null element would also match null rows, so nulls are dropped
      // (UNKNOWN collapses to excluded under WHERE on both sides)
      val opts = vs.filter(_ != null).map(lit).toSeq
      if (opts.exists(_.isEmpty)) None
      else Some(field(a, BDoc(Seq("$in" -> opts.map(_.get)))))
    case IsNull(a) => Some(field(a, null))
    case IsNotNull(a) => Some(field(a, BDoc(Seq("$ne" -> null))))
    case StringStartsWith(a, v) => Some(field(a, BRegex("^" + Pattern.quote(v), "")))
    case StringEndsWith(a, v) => Some(field(a, BRegex(Pattern.quote(v) + "$", "")))
    case StringContains(a, v) => Some(field(a, BRegex(Pattern.quote(v), "")))
    case And(l, r) =>
      for (cl <- compile(l); cr <- compile(r)) yield BDoc(Seq("$and" -> Seq(cl, cr)))
    case Or(l, r) =>
      for (cl <- compile(l); cr <- compile(r)) yield BDoc(Seq("$or" -> Seq(cl, cr)))
    case Not(child) if !nullTolerant(child) => compile(child).map { cc =>
      val guards = child.references.toSeq.sorted
        .map(a => field(a, BDoc(Seq("$ne" -> null))): Any)
      BDoc(Seq("$and" -> ((BDoc(Seq("$nor" -> Seq(cc))): Any) +: guards)))
    }
    // Spark turns an absent WHERE on DELETE into AlwaysTrue — without
    // these cases canDeleteWhere would refuse an unconditional DELETE.
    case _: AlwaysTrue => Some(BDoc.empty)
    case _: AlwaysFalse => Some(BDoc(Seq("$nor" -> Seq(BDoc.empty))))
    case _ => None
  }

  /** The NOT guards assume the child can only be TRUE on fully non-null
    * rows (standard 3VL comparisons). Children that can match null rows
    * — null-safe equality, IS NULL, IN with a NULL element (whose
    * UNKNOWN collapse is only valid in POSITIVE polarity) — would make
    * `$nor + $ne-null` silently wrong, so NOT over them declines. */
  private def nullTolerant(f: Filter): Boolean = f match {
    case _: EqualNullSafe => true
    case _: IsNull => true
    case _: IsNotNull => true // NOT(IS NOT NULL) must match null rows
    case In(_, vs) => vs == null || vs.contains(null)
    case And(l, r) => nullTolerant(l) || nullTolerant(r)
    case Or(l, r) => nullTolerant(l) || nullTolerant(r)
    case Not(c) => nullTolerant(c)
    case _ => false
  }

  def compileAll(docs: Seq[BDoc]): BDoc = docs match {
    case Nil => BDoc.empty
    case Seq(one) => one
    case many => BDoc(Seq("$and" -> many))
  }

  // ---- server-side evaluation (the loopback backend's query executor;
  // a real deployment's mongod does this natively) ------------------------

  /** Mongo match semantics over a flat external-typed row (missing ==
    * null for fixed-schema rows): implicit top-level AND; \$and/\$or/\$nor
    * connectives; per-field operator documents; bare values as equality;
    * regex values as pattern match. Range operators don't match null
    * (Mongo's type bracketing), `{f: null}` matches null, `\$ne` matches
    * null rows for non-null arguments (two-valued — the compiled guards
    * above exist precisely because of this). */
  def eval(q: BDoc, row: Array[Any], schema: StructType): Boolean =
    evalWith(q, name => {
      val i = schema.fieldNames.indexWhere(_.equalsIgnoreCase(name))
      if (i < 0) null else row(i)
    })

  /** [[eval]] over a bare document (the aggregation pipeline's `$match`
    * sees pipeline documents, not collection rows). */
  def evalDoc(q: BDoc, doc: BDoc): Boolean =
    evalWith(q, name =>
      doc.get(name).orElse(
        doc.fields.find(_._1.equalsIgnoreCase(name)).map(_._2)).getOrElse(null))

  private def evalWith(q: BDoc, value: String => Any): Boolean = {
    def sub(c: Any): Boolean = evalWith(c.asInstanceOf[BDoc], value)
    def cmp0(v: Any, arg: Any): Option[Int] = FilterEval.cmp(v, arg)
    def opMatch(v: Any, op: String, arg: Any): Boolean = op match {
      case "$eq" => if (arg == null) v == null else v != null && cmp0(v, arg).contains(0)
      case "$ne" =>
        if (arg == null) v != null
        else v == null || !cmp0(v, arg).contains(0)
      case "$gt" => v != null && arg != null && cmp0(v, arg).exists(_ > 0)
      case "$gte" => v != null && arg != null && cmp0(v, arg).exists(_ >= 0)
      case "$lt" => v != null && arg != null && cmp0(v, arg).exists(_ < 0)
      case "$lte" => v != null && arg != null && cmp0(v, arg).exists(_ <= 0)
      case "$in" => arg.asInstanceOf[Seq[Any]].exists {
        case null => v == null
        case r: BRegex => v match {
          case s: String => Pattern.compile(r.pattern).matcher(s).find()
          case _ => false
        }
        case x => v != null && cmp0(v, x).contains(0)
      }
      case "$exists" => (v != null) == arg.asInstanceOf[Boolean]
      case "$regex" => v match {
        case s: String => Pattern.compile(arg.toString).matcher(s).find()
        case _ => false
      }
      case other => throw new IllegalArgumentException(s"unsupported operator $other")
    }
    q.fields.forall {
      case ("$and", cs: Seq[_]) => cs.forall(sub)
      case ("$or", cs: Seq[_]) => cs.exists(sub)
      case ("$nor", cs: Seq[_]) => !cs.exists(sub)
      case (name, cond) =>
        val v = value(name)
        cond match {
          case ops: BDoc if ops.fields.nonEmpty && ops.fields.forall(_._1.startsWith("$")) =>
            ops.fields.forall { case (op, arg) => opMatch(v, op, arg) }
          case r: BRegex => v match {
            case s: String => Pattern.compile(r.pattern).matcher(s).find()
            case _ => false
          }
          case litV => if (litV == null) v == null else v != null && cmp0(v, litV).contains(0)
        }
    }
  }

  /** BSON wire value → the external type `dt` expects (int32/int64
    * interchange widens/narrows exactly like the reference's value
    * coercion, `mgo_source.go:269-311`). Shared by the scan reader and
    * the server's write commands. */
  def coerce(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (l: java.lang.Long, LongType) => l
    case (i: java.lang.Integer, LongType) => i.longValue(): java.lang.Long
    case (i: java.lang.Integer, IntegerType) => i
    case (l: java.lang.Long, IntegerType) => l.intValue(): java.lang.Integer
    case (i: java.lang.Integer, ShortType) => i.shortValue(): java.lang.Short
    case (d: java.lang.Double, DoubleType) => d
    case (l: java.lang.Long, DoubleType) => l.doubleValue(): java.lang.Double
    case (i: java.lang.Integer, DoubleType) => i.doubleValue(): java.lang.Double
    case (d: java.lang.Double, FloatType) => d.floatValue(): java.lang.Float
    case (s: String, StringType) => s
    case (b: java.lang.Boolean, BooleanType) => b
    case (t: java.sql.Timestamp, TimestampType) => t
    case (t: java.sql.Timestamp, TimestampNTZType) => // BSON datetime is
      // epoch millis; NTZ reads back as the UTC wall clock it was stored as
      java.time.LocalDateTime.ofInstant(t.toInstant, java.time.ZoneOffset.UTC)
    // sub-documents decode into REAL struct rows by the required struct's
    // fields (nested-column pruning reads only the asked-for subfields;
    // the reference degrades sub-documents to strings — SURVEY §1.2's
    // declared upgrade, same as the ES mapping walk)
    case (d: BDoc, st: StructType) =>
      Row.fromSeq(st.fields.toSeq.map(f =>
        d.get(f.name).map(coerce(_, f.dataType)).orNull))
    case (s: Seq[_], org.apache.spark.sql.types.ArrayType(et, _)) =>
      s.map(v => if (v == null) null else coerce(v, et))
    case (other, t) => throw new java.io.IOException(
      s"BSON value ${other.getClass.getSimpleName} does not fit $t")
  }

  /** Sort comparator for a Mongo sort document (null orders lowest, as
    * Mongo's canonical BSON order places null before numbers/strings). */
  def sortComparator(sort: BDoc, schema: StructType): Ordering[Array[Any]] = {
    val keys = sort.fields.map { case (name, dir) =>
      val i = schema.fieldNames.indexWhere(_.equalsIgnoreCase(name))
      require(i >= 0, s"unknown sort field $name")
      (i, dir.asInstanceOf[Number].intValue())
    }
    (a: Array[Any], b: Array[Any]) => {
      var r = 0
      val it = keys.iterator
      while (r == 0 && it.hasNext) {
        val (i, dir) = it.next()
        val c = (a(i), b(i)) match {
          case (null, null) => 0
          case (null, _) => -1
          case (_, null) => 1
          case (x, y) => FilterEval.cmp(x, y).getOrElse(0)
        }
        r = if (dir < 0) -c else c
      }
      r
    }
  }
}

/** SQL aggregate → Mongo aggregation-pipeline translation, and the
  * loopback server's pipeline executor. The reference's Mongo backend
  * never pushes aggregates (it polyfills GROUP BY engine-side over the
  * `find` stream); real MongoDB serves them natively via `aggregate` —
  * this closes the asymmetry with the ES backend's server-side aggs
  * (`backends/elasticsearch/sqltoes.go:285-365`) using only the public
  * pipeline surface: `[{$match: <filter>}, {$group: {_id, ...}}]`.
  *
  * Pushdown is COMPLETE-only: `$group` output is final (one document
  * per key, computed server-side), so Spark plans no aggregate at all
  * and the scan is single-partition — the result is metadata-sized
  * (one row per group), which is exactly when collapsing fan-out is
  * the scale-correct choice. Semantics guarded here:
  *
  *   - SQL SUM over zero non-null values is NULL; Mongo `$sum` is 0.
  *     Every sum ships a companion non-null count (`$cond`-summed) and
  *     the reader nulls a 0-count sum — the ES connector's same trick.
  *   - COUNT(col) counts non-null only: `$sum` of a `$cond` on
  *     `{$ne: [..., null]}` (Mongo `$count`-style shortcuts don't
  *     distinguish null).
  *   - `$min`/`$max`/`$avg` ignore null/missing (documented accumulator
  *     behavior) — already SQL's semantics.
  *   - COUNT(DISTINCT) DECLINES: the pipeline spelling is `$addToSet`,
  *     whose state is the distinct set itself — memory-unbounded on a
  *     real server. Spark polyfills it over the row scan instead.
  */
object MongoAgg {

  import AggFn._

  /** Wire-safe scalar types for group keys and min/max (the BSON subset
    * the codec round-trips exactly; BSON binary UTF-8 string order ==
    * Spark's, so min/max on strings agree). */
  private def orderable(dt: DataType): Boolean = dt match {
    case ShortType | IntegerType | LongType | FloatType | DoubleType |
         StringType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** [[PushedAgg.translate]]'s group rule: orderable or Boolean keys. */
  val groupOk: StructField => Boolean =
    f => orderable(f.dataType) || f.dataType == BooleanType

  /** MIN/MAX/AVG over orderable columns; COUNT(DISTINCT) declines. */
  val accepts: (AggFn, StructField) => Boolean = {
    case (Count | Sum, _) => true
    case (Min | Max | Avg, f) => orderable(f.dataType)
    case _ => false
  }

  /** `{$sum: {$cond: [{$ne: ["$f", null]}, 1, 0]}}` — non-null count. */
  private def nonNullCount(field: String): BDoc =
    BDoc(Seq("$sum" -> BDoc(Seq("$cond" -> Seq(
      BDoc(Seq("$ne" -> Seq(s"$$$field", null))),
      1: java.lang.Integer, 0: java.lang.Integer)))))

  /** Compile the pushed aggregate into pipeline stages; each function
    * comes with the field it reads. */
  def pipeline(filter: BDoc, groups: Seq[String], aggs: Seq[(AggDef, String)]): Seq[BDoc] = {
    val id: Any =
      if (groups.isEmpty) null
      else BDoc(groups.map(g => g -> (s"$$$g": Any)))
    val accs: Seq[(String, Any)] = aggs.zipWithIndex.flatMap { case ((d, f), i) =>
      val name = s"agg_$i"
      d.fn match {
        case Count => Seq(name -> nonNullCount(f))
        case Min | Max | Avg => Seq(name -> BDoc(Seq(s"$$${d.tag}" -> s"$$$f")))
        case Sum =>
          Seq(name -> BDoc(Seq("$sum" -> s"$$$f")),
            s"${name}_n" -> nonNullCount(f))
        case _ => Seq(name -> BDoc(Seq("$sum" -> (1: java.lang.Integer)))) // COUNT(*)
      }
    }
    val group = BDoc(Seq("$group" -> BDoc(("_id" -> id) +: accs)))
    if (filter.fields.isEmpty) Seq(group)
    else Seq(BDoc(Seq("$match" -> filter)), group)
  }

  // ---- server-side pipeline execution (the loopback's `aggregate`
  // command; a real mongod executes pipelines natively) -------------------

  /** Aggregation-expression evaluator over one pipeline document: field
    * paths (`"$f"`), literals, `$cond`, and two-arg `$eq`/`$ne` (the
    * subset [[pipeline]] emits — anything else throws, so an unsupported
    * shape fails loudly instead of mis-computing). */
  def evalExpr(e: Any, doc: BDoc): Any = e match {
    case s: String if s.startsWith("$") =>
      doc.get(s.substring(1)).getOrElse(null)
    case d: BDoc if d.fields.sizeIs == 1 && d.fields.head._1.startsWith("$") =>
      val (op, arg) = d.fields.head
      def two: (Any, Any) = {
        val s = arg.asInstanceOf[Seq[Any]]
        (evalExpr(s(0), doc), evalExpr(s(1), doc))
      }
      op match {
        case "$cond" =>
          val s = arg.asInstanceOf[Seq[Any]]
          if (evalExpr(s(0), doc).asInstanceOf[Boolean]) evalExpr(s(1), doc)
          else evalExpr(s(2), doc)
        case "$eq" =>
          val (a, b) = two
          if (a == null || b == null) a == null && b == null
          else FilterEval.cmp(a, b).contains(0)
        case "$ne" =>
          val (a, b) = two
          if (a == null || b == null) !(a == null && b == null)
          else !FilterEval.cmp(a, b).contains(0)
        case other =>
          throw new IllegalArgumentException(s"unsupported agg expression $other")
      }
    case v => v
  }

  /** Execute a `$group` stage over pipeline documents. Group identity
    * normalizes numerics (Mongo groups int 1 with double 1.0); the
    * emitted `_id` keeps the first-seen original value. */
  def runGroup(spec: BDoc, docs: Seq[BDoc]): Seq[BDoc] = {
    val idSpec = spec.get("_id").getOrElse(
      throw new IllegalArgumentException("$group requires _id"))
    val accs = spec.fields.filter(_._1 != "_id")
    def keyOf(doc: BDoc): (Seq[Any], Any) = idSpec match {
      case null => (Seq(0), null)
      case d: BDoc =>
        val vals = d.fields.map { case (k, e) => k -> evalExpr(e, doc) }
        (vals.map(v => norm(v._2)), BDoc(vals))
      case e => val v = evalExpr(e, doc); (Seq(norm(v)), v)
    }
    val order = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val byKey = scala.collection.mutable.HashMap.empty[Seq[Any], (Any, scala.collection.mutable.ArrayBuffer[BDoc])]
    docs.foreach { doc =>
      val (k, idVal) = keyOf(doc)
      byKey.getOrElseUpdate(k, { order += k; (idVal, scala.collection.mutable.ArrayBuffer.empty[BDoc]) })
        ._2 += doc
    }
    order.toSeq.map { k =>
      val (idVal, group) = byKey(k)
      BDoc(("_id" -> idVal) +: accs.map { case (name, acc) =>
        name -> runAccumulator(acc.asInstanceOf[BDoc], group.toSeq)
      })
    }
  }

  private def norm(v: Any): Any = v match {
    case n: java.lang.Short => n.doubleValue(): java.lang.Double
    case n: java.lang.Integer => n.doubleValue(): java.lang.Double
    case n: java.lang.Long => n.doubleValue(): java.lang.Double
    case n: java.lang.Float => n.doubleValue(): java.lang.Double
    case v => v
  }

  private def runAccumulator(acc: BDoc, group: Seq[BDoc]): Any = {
    require(acc.fields.sizeIs == 1, s"bad accumulator ${acc.render}")
    val (op, arg) = acc.fields.head
    op match {
      case "$sum" =>
        // integral accumulation until a double appears (Mongo's numeric
        // widening); non-numeric/null contributions are skipped
        var accL = 0L
        var accD = 0.0
        var isDouble = false
        group.foreach { d =>
          evalExpr(arg, d) match {
            case n @ (_: java.lang.Double | _: java.lang.Float) =>
              if (!isDouble) { accD = accL.toDouble; isDouble = true }
              accD += n.asInstanceOf[Number].doubleValue()
            case n: Number =>
              if (isDouble) accD += n.doubleValue()
              else try accL = Math.addExact(accL, n.longValue())
              catch { case _: ArithmeticException =>
                // mongod's documented degradation: an int64-overflowing
                // $sum promotes the accumulator to double (the reader
                // REFUSES to decode that — spec'd)
                accD = accL.toDouble + n.doubleValue(); isDouble = true
              }
            case _ => ()
          }
        }
        if (isDouble) accD: java.lang.Double else accL: java.lang.Long
      case "$avg" =>
        var sum = 0.0
        var n = 0L
        group.foreach { d =>
          evalExpr(arg, d) match {
            case num: Number => sum += num.doubleValue(); n += 1
            case _ => ()
          }
        }
        if (n == 0) null else (sum / n): java.lang.Double
      case "$min" | "$max" =>
        val sign = if (op == "$min") -1 else 1
        group.foldLeft(null: Any) { (best, d) =>
          evalExpr(arg, d) match {
            case null => best
            case v =>
              if (best == null) v
              else if (FilterEval.cmp(v, best).exists(c => c * sign > 0)) v
              else best
          }
        }
      case other =>
        throw new IllegalArgumentException(s"unsupported accumulator $other")
    }
  }
}

/** Minimal MongoDB driver: OP_MSG `find` + `getMore` over a pooled
  * socket, lazily batch-paged (the reference iterates mgo cursors the
  * same way, `backends/mongo/mgo_results.go:100-180`). Transient
  * connection failures before the first batch retry with backoff;
  * mid-cursor failures surface (a cursor is server state — restarting it
  * silently could duplicate rows). */
final case class MongoClientConfig(
    connectTimeoutMs: Int = 2000,
    soTimeoutMs: Int = 10000,
    maxRetries: Int = 3,
    retryBackoffMs: Int = 50,
    batchSize: Int = 256,
    // offer zlib wire compression in the connection handshake (the
    // public OP_COMPRESSED negotiation); BSON batches compress
    // several-fold, the dominant wire cost of remote scans at scale
    compress: Boolean = true)

final class MongoClientLite(host: String, port: Int,
    cfg: MongoClientConfig = MongoClientConfig()) {

  val requests = new AtomicLong(0)
  val retries = new AtomicLong(0)

  private val reqId = new AtomicInteger(1)
  private var socket: Socket = _
  private var in: DataInputStream = _
  /** zlib granted by the server's hello reply — per-connection state,
    * re-negotiated on every reconnect. */
  private var compressionOn = false

  private def connect(): Unit = {
    close()
    val s = new Socket()
    s.connect(new InetSocketAddress(host, port), cfg.connectTimeoutMs)
    s.setSoTimeout(cfg.soTimeoutMs)
    s.setTcpNoDelay(true)
    socket = s
    in = new DataInputStream(new java.io.BufferedInputStream(s.getInputStream))
    compressionOn = false
    if (cfg.compress) {
      // the handshake itself must NEVER be compressed (spec rule: hello
      // rides plain so both ends can negotiate from zero state)
      OpMsg.write(s.getOutputStream, reqId.getAndIncrement(), 0, BDoc(Seq(
        "hello" -> (1: java.lang.Integer), "$db" -> ("admin": Any),
        "compression" -> (Seq("zlib"): Any))))
      val (_, hello) = OpMsg.read(in)
      compressionOn = hello.get("ok").contains(1.0: java.lang.Double) &&
        hello.get("compression").exists(
          _.asInstanceOf[Seq[Any]].exists(_ == "zlib"))
    }
  }

  def close(): Unit = {
    if (socket != null) { try socket.close() catch { case _: IOException => () } }
    socket = null; in = null; compressionOn = false
  }

  private def roundTrip(cmd: BDoc): BDoc = {
    if (socket == null || socket.isClosed) connect()
    requests.incrementAndGet()
    OpMsg.write(socket.getOutputStream, reqId.getAndIncrement(), 0, cmd,
      compress = compressionOn)
    val (_, reply) = OpMsg.read(in)
    reply.get("ok") match {
      case Some(d: java.lang.Double) if d == 1.0 => reply
      case _ =>
        val msg = reply.get("errmsg").map(_.toString).getOrElse(reply.render)
        throw new IOException(s"mongo command failed: $msg")
    }
  }

  /** Retry the round-trip on transient I/O failure (reconnecting); only
    * safe for the cursor-opening command, which is idempotent. */
  private def roundTripRetrying(cmd: BDoc): BDoc = {
    var attempt = 0
    while (true) {
      try return roundTrip(cmd)
      catch {
        case e: IOException if attempt < cfg.maxRetries &&
            !Option(e.getMessage).exists(_.startsWith("mongo command failed")) =>
          attempt += 1
          retries.incrementAndGet()
          close()
          Thread.sleep(cfg.retryBackoffMs.toLong * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Insert documents. NOT retried: an insert is not idempotent — a
    * retry after an ambiguous failure could duplicate rows (the
    * reference's row-at-a-time Put has the same at-most-once-per-send
    * contract; real drivers need retryable-writes sessions for more). */
  def insert(db: String, coll: String, docs: Seq[BDoc]): Int = {
    val reply = roundTrip(BDoc(Seq(
      "insert" -> (coll: Any), "$db" -> (db: Any), "documents" -> (docs: Any))))
    reply.get("n").map(_.asInstanceOf[Number].intValue()).getOrElse(0)
  }

  /** `$set` update; idempotent, so transient failures retry. */
  def update(db: String, coll: String, q: BDoc, set: BDoc, multi: Boolean): Int = {
    val reply = roundTripRetrying(BDoc(Seq(
      "update" -> (coll: Any), "$db" -> (db: Any),
      "updates" -> (Seq(BDoc(Seq(
        "q" -> (q: Any), "u" -> (BDoc(Seq("$set" -> set)): Any),
        "multi" -> (multi: java.lang.Boolean)))): Any))))
    reply.get("n").map(_.asInstanceOf[Number].intValue()).getOrElse(0)
  }

  /** Delete by filter; idempotent, so transient failures retry. */
  def delete(db: String, coll: String, q: BDoc, limit: Int = 0): Int = {
    val reply = roundTripRetrying(BDoc(Seq(
      "delete" -> (coll: Any), "$db" -> (db: Any),
      "deletes" -> (Seq(BDoc(Seq(
        "q" -> (q: Any), "limit" -> (limit: java.lang.Integer)))): Any))))
    reply.get("n").map(_.asInstanceOf[Number].intValue()).getOrElse(0)
  }

  /** List collection names — the discovery entry point (idempotent,
    * so transient failures retry). */
  def listCollections(db: String): Seq[String] = {
    val reply = roundTripRetrying(BDoc(Seq(
      "listCollections" -> (1: java.lang.Integer), "$db" -> (db: Any),
      "nameOnly" -> (true: java.lang.Boolean))))
    reply.get("cursor").map(_.asInstanceOf[BDoc])
      .flatMap(_.get("firstBatch")).getOrElse(Seq.empty).asInstanceOf[Seq[Any]]
      .map(_.asInstanceOf[BDoc].get("name").map(_.toString).getOrElse(""))
      .filter(_.nonEmpty)
  }

  /** Chunk boundaries over `key` from the server's own splitVector
    * command (the public manual-splitting surface): interior split
    * points for ~maxChunkSizeBytes chunks, in key order. Idempotent →
    * transient failures retry. */
  def splitVector(db: String, coll: String, key: String,
      maxChunkSizeBytes: Long): Seq[Any] = {
    val reply = roundTripRetrying(BDoc(Seq(
      "splitVector" -> (s"$db.$coll": Any), "$db" -> ("admin": Any),
      "keyPattern" -> (BDoc(Seq(key -> (1: java.lang.Integer))): Any),
      "maxChunkSizeBytes" -> (maxChunkSizeBytes: java.lang.Long))))
    reply.get("splitKeys").getOrElse(Seq.empty).asInstanceOf[Seq[Any]]
      .map(_.asInstanceOf[BDoc].fields.head._2)
  }

  /** Run `find` and stream the cursor's documents. */
  def find(db: String, coll: String, filter: BDoc,
      projection: Option[BDoc] = None, sort: Option[BDoc] = None,
      limit: Int = -1, batchSize: Int = -1, skip: Int = -1): Iterator[BDoc] = {
    val bs = if (batchSize > 0) batchSize else cfg.batchSize
    val base = Seq(
      "find" -> (coll: Any),
      "$db" -> (db: Any),
      "filter" -> (filter: Any),
      "batchSize" -> (bs: Any)) ++
      projection.map("projection" -> (_: Any)) ++
      sort.map("sort" -> (_: Any)) ++
      (if (skip > 0) Seq("skip" -> (skip: Any)) else Nil) ++
      (if (limit > 0) Seq("limit" -> (limit: Any)) else Nil)
    cursorIterator(roundTripRetrying(BDoc(base)), db, coll, bs)
  }

  /** Run an aggregation pipeline and stream the cursor's documents (the
    * public `aggregate` command; opening is idempotent → retried). */
  def aggregate(db: String, coll: String, pipeline: Seq[BDoc],
      batchSize: Int = -1): Iterator[BDoc] = {
    val bs = if (batchSize > 0) batchSize else cfg.batchSize
    val first = roundTripRetrying(BDoc(Seq(
      "aggregate" -> (coll: Any),
      "$db" -> (db: Any),
      "pipeline" -> (pipeline: Any),
      "cursor" -> (BDoc(Seq("batchSize" -> (bs: java.lang.Integer))): Any))))
    cursorIterator(first, db, coll, bs)
  }

  /** Page a command reply's cursor with `getMore` (shared by `find` and
    * `aggregate` — both speak the same cursor sub-protocol). */
  private def cursorIterator(first: BDoc, db: String, coll: String,
      bs: Int): Iterator[BDoc] =
    new Iterator[BDoc] {
      private var cursor = first.get("cursor").get.asInstanceOf[BDoc]
      private var cursorId = cursor.get("id").get.asInstanceOf[java.lang.Long].longValue()
      private var batch = cursor.get("firstBatch").getOrElse(Seq.empty)
        .asInstanceOf[Seq[Any]].iterator
      override def hasNext: Boolean = {
        while (!batch.hasNext && cursorId != 0L) {
          val more = roundTrip(BDoc(Seq(
            "getMore" -> (cursorId: Any), "collection" -> (coll: Any),
            "$db" -> (db: Any), "batchSize" -> (bs: Any))))
          cursor = more.get("cursor").get.asInstanceOf[BDoc]
          cursorId = cursor.get("id").get.asInstanceOf[java.lang.Long].longValue()
          batch = cursor.get("nextBatch").getOrElse(Seq.empty)
            .asInstanceOf[Seq[Any]].iterator
        }
        batch.hasNext
      }
      override def next(): BDoc = batch.next().asInstanceOf[BDoc]
    }
}

/** In-process loopback mongod stand-in: a real TCP listener speaking
  * OP_MSG, serving registered collections with filter/projection/sort/
  * limit evaluation and cursor-batched replies — the live service a
  * deployment points [[MongoClientLite]] at. Fault-injection knobs let
  * specs force the client's reconnect/retry paths over a genuine socket. */
object LoopbackMongoServer {

  val Db = "graft"

  /** A MUTABLE collection (the write commands mutate it in place, like
    * a real mongod); `snapshot` gives reads a consistent view. */
  final class Collection(val schema: StructType, init: Seq[Array[Any]]) {
    private val buf = scala.collection.mutable.ArrayBuffer.from(init)
    def snapshot: Seq[Array[Any]] = synchronized(buf.toSeq)
    def append(rs: Seq[Array[Any]]): Int = synchronized { buf ++= rs; rs.size }
    /** Apply `set` (column index → value) to rows matching `pred`. */
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
    def delete(pred: Array[Any] => Boolean, limit: Int): Int = synchronized {
      var n = 0
      val keep = buf.filter { r =>
        if ((limit <= 0 || n < limit) && pred(r)) { n += 1; false } else true
      }
      buf.clear(); buf ++= keep
      n
    }
  }

  private val collections = TrieMap.empty[String, Collection]
  /** value = (iterator, last-use stamp) — stamped on every getMore. */
  private val cursors = TrieMap.empty[Long, (Iterator[BDoc], Long)]
  private val serverRef = new AtomicReference[ServerSocket](null)
  private val nextCursor = new AtomicLong(1)
  private val useStamp = new AtomicLong(0)
  /** A client that stops consuming mid-cursor (pushed LIMIT, task kill)
    * never sends the closing getMore — without a cap those iterators
    * accumulate forever in a long-lived server. Eviction is
    * least-recently-USED (not oldest-created): a cursor being actively
    * paged keeps refreshing its stamp, so >cap concurrent live scans
    * evict abandoned cursors first (real mongod idles cursors out after
    * 10 min — the same liveness-based contract). */
  private val MaxCursors = 256
  private def evictOldCursors(): Unit =
    while (cursors.size > MaxCursors)
      cursors.toSeq.minByOption(_._2._2).foreach(e => cursors.remove(e._1))

  /** Next N commands abort the connection without replying. */
  val failNext = new AtomicInteger(0)
  /** Artificial per-command latency — drive client timeouts. */
  val delayMs = new AtomicInteger(0)
  /** Commands served (including injected failures). */
  val served = new AtomicLong(0)
  /** Commands that arrived OP_COMPRESSED (spec assertions: the data
    * path really negotiated and rode zlib). */
  val compressedServed = new AtomicLong(0)
  /** The last `find` command seen, rendered (pushdown assertions). */
  val lastFind = new AtomicReference[String]("")
  /** The last `aggregate` command seen, rendered (pushdown assertions). */
  val lastAggregate = new AtomicReference[String]("")

  def register(name: String, schema: StructType, rows: Seq[Array[Any]]): Unit = {
    // a real collection holds BSON values — normalize the collected
    // Spark externals exactly as a real ingest would: TIMESTAMP_NTZ
    // LocalDateTimes become BSON datetimes (UTC wall clock), struct Rows
    // become sub-DOCUMENTS, arrays recurse; the scan reader coerces back
    // per the (declared or discovered) schema
    def norm(v: Any): Any = v match {
      case t: java.time.LocalDateTime =>
        java.sql.Timestamp.from(t.toInstant(java.time.ZoneOffset.UTC))
      case i: java.time.Instant => java.sql.Timestamp.from(i)
      case r: Row =>
        BDoc(r.schema.fields.toSeq.map(f => f.name -> norm(r.getAs[Any](f.name))))
      // collected Spark arrays are mutable.ArraySeq, not immutable.Seq
      case s: scala.collection.Seq[_] => s.toSeq.map(norm)
      case v => v
    }
    collections.put(name.toLowerCase, new Collection(schema, rows.map(_.map(norm))))
  }

  /** Start (once); returns (host, port). */
  def ensureStarted(): (String, Int) = {
    val cur = serverRef.get()
    if (cur != null) return ("127.0.0.1", cur.getLocalPort)
    val srv = new ServerSocket(0, 16, InetAddress.getLoopbackAddress)
    if (!serverRef.compareAndSet(null, srv)) {
      srv.close()
      return ("127.0.0.1", serverRef.get().getLocalPort)
    }
    val acceptor = new Thread(() => acceptLoop(srv), "graft-loopback-mongo")
    acceptor.setDaemon(true)
    acceptor.start()
    ("127.0.0.1", srv.getLocalPort)
  }

  private def acceptLoop(srv: ServerSocket): Unit =
    while (!srv.isClosed) {
      try {
        val sock = srv.accept()
        val t = new Thread(() => serve(sock), "graft-loopback-mongo-conn")
        t.setDaemon(true)
        t.start()
      } catch { case _: IOException => () }
    }

  private def serve(sock: Socket): Unit = {
    try {
      sock.setTcpNoDelay(true)
      val in = new DataInputStream(new java.io.BufferedInputStream(sock.getInputStream))
      while (!sock.isClosed) {
        val (requestId, cmd, wasCompressed) = OpMsg.readEx(in)
        // the hello handshake is connection plumbing, not a data
        // command: it doesn't count against `served` (request-count
        // assertions mean data requests) and fault injection skips it
        // (failNext targets the data path, as before compression)
        val isHello = cmd.fields.headOption.exists(_._1 == "hello")
        if (!isHello) {
          served.incrementAndGet()
          if (wasCompressed) compressedServed.incrementAndGet()
          val d = delayMs.get()
          if (d > 0) Thread.sleep(d.toLong)
          if (failNext.getAndUpdate(n => math.max(0, n - 1)) > 0) {
            sock.close() // injected failure: abort without a reply
            return
          }
        }
        val reply = try dispatch(cmd) catch {
          case e: Exception => BDoc(Seq(
            "ok" -> (0.0: java.lang.Double), "errmsg" -> e.getMessage, "code" -> (2: Any)))
        }
        // mirror the request's encoding: a client that negotiated zlib
        // compresses every post-hello message, so mirroring equals the
        // real server's compress-after-negotiation behavior — and hello
        // replies stay plain for free
        OpMsg.write(sock.getOutputStream, 0, requestId, reply,
          compress = wasCompressed)
      }
    } catch {
      case _: java.io.EOFException => () // client hung up
      case _: IOException => ()
    } finally {
      try sock.close() catch { case _: IOException => () }
    }
  }

  /** Pull up to `n` elements by direct next() calls (take() would leave
    * the source iterator in an unspecified state). */
  private def drain(it: Iterator[BDoc], n: Int): Seq[BDoc] = {
    val buf = Seq.newBuilder[BDoc]
    var k = 0
    while (k < n && it.hasNext) { buf += it.next(); k += 1 }
    buf.result()
  }

  private def dispatch(cmd: BDoc): BDoc = cmd.fields.headOption match {
    case Some(("find", collName)) => runFind(collName.toString, cmd)
    case Some(("aggregate", collName)) => runAggregate(collName.toString, cmd)
    case Some(("getMore", id)) =>
      val cursorId = id.asInstanceOf[java.lang.Long].longValue()
      val (it, _) = cursors.getOrElse(cursorId,
        throw new NoSuchElementException(s"cursor $cursorId not found"))
      cursors.put(cursorId, (it, useStamp.incrementAndGet()))
      val bs = cmd.get("batchSize").map(_.asInstanceOf[Number].intValue()).getOrElse(101)
      val batch = drain(it, bs)
      val live = it.hasNext
      if (!live) cursors.remove(cursorId)
      val ns = Db + "." + cmd.get("collection").map(_.toString).getOrElse("")
      BDoc(Seq(
        "cursor" -> BDoc(Seq(
          "id" -> ((if (live) cursorId else 0L): java.lang.Long),
          "ns" -> ns,
          "nextBatch" -> batch)),
        "ok" -> (1.0: java.lang.Double)))
    case Some(("insert", collName)) =>
      val coll = collections.getOrElse(collName.toString.toLowerCase,
        throw new NoSuchElementException(s"ns not found: $Db.$collName"))
      val docs = cmd.get("documents").getOrElse(Seq.empty).asInstanceOf[Seq[Any]]
      val rows = docs.map { d =>
        val doc = d.asInstanceOf[BDoc]
        coll.schema.fields.map(f =>
          MongoDsl.coerce(doc.get(f.name).orNull, f.dataType)): Array[Any]
      }
      val n = coll.append(rows)
      BDoc(Seq("n" -> (n: java.lang.Integer), "ok" -> (1.0: java.lang.Double)))
    case Some(("update", collName)) =>
      val coll = collections.getOrElse(collName.toString.toLowerCase,
        throw new NoSuchElementException(s"ns not found: $Db.$collName"))
      var n = 0
      cmd.get("updates").getOrElse(Seq.empty).asInstanceOf[Seq[Any]].foreach { u0 =>
        val u = u0.asInstanceOf[BDoc]
        val q = u.get("q").map(_.asInstanceOf[BDoc]).getOrElse(BDoc.empty)
        val setDoc = u.get("u").map(_.asInstanceOf[BDoc])
          .flatMap(_.get("$set")).map(_.asInstanceOf[BDoc])
          .getOrElse(throw new IllegalArgumentException(
            "only {$set: {...}} update documents are supported"))
        val multi = u.get("multi").exists(_ == (true: java.lang.Boolean))
        val set = setDoc.fields.map { case (name, v) =>
          val i = coll.schema.fieldNames.indexWhere(_.equalsIgnoreCase(name))
          require(i >= 0, s"unknown field $name")
          i -> MongoDsl.coerce(v, coll.schema.fields(i).dataType)
        }.toMap
        n += coll.update(r => MongoDsl.eval(q, r, coll.schema), set, multi)
      }
      BDoc(Seq("n" -> (n: java.lang.Integer),
        "nModified" -> (n: java.lang.Integer), "ok" -> (1.0: java.lang.Double)))
    case Some(("delete", collName)) =>
      val coll = collections.getOrElse(collName.toString.toLowerCase,
        throw new NoSuchElementException(s"ns not found: $Db.$collName"))
      var n = 0
      cmd.get("deletes").getOrElse(Seq.empty).asInstanceOf[Seq[Any]].foreach { d0 =>
        val d = d0.asInstanceOf[BDoc]
        val q = d.get("q").map(_.asInstanceOf[BDoc]).getOrElse(BDoc.empty)
        val limit = d.get("limit").map(_.asInstanceOf[Number].intValue()).getOrElse(0)
        n += coll.delete(r => MongoDsl.eval(q, r, coll.schema), limit)
      }
      BDoc(Seq("n" -> (n: java.lang.Integer), "ok" -> (1.0: java.lang.Double)))
    case Some(("ping", _)) => BDoc(Seq("ok" -> (1.0: java.lang.Double)))
    // connection handshake: grant the intersection of the client's
    // offered compressors with what this server ships (zlib); the field
    // is OMITTED when nothing was granted, like a real mongod
    case Some(("hello", _)) =>
      val offered = cmd.get("compression").map(_.asInstanceOf[Seq[Any]])
        .getOrElse(Seq.empty).map(_.toString)
      val granted = offered.filter(_ == "zlib")
      BDoc(
        Seq("ok" -> (1.0: java.lang.Double),
          "maxWireVersion" -> (17: java.lang.Integer),
          "minWireVersion" -> (0: java.lang.Integer)) ++
          (if (granted.nonEmpty) Seq("compression" -> (granted: Any)) else Nil))
    // discovery surface: the real server's listCollections command (the
    // reference enumerates tables with it before sampling documents)
    case Some(("listCollections", _)) =>
      BDoc(Seq(
        "cursor" -> BDoc(Seq(
          "id" -> (0L: java.lang.Long),
          "ns" -> (Db + ".$cmd.listCollections"),
          "firstBatch" -> collections.keys.toSeq.sorted.map(n =>
            BDoc(Seq("name" -> (n: Any), "type" -> ("collection": Any)))))),
        "ok" -> (1.0: java.lang.Double)))
    // the real server's splitVector command (the public manual-splitting
    // surface bulk readers derive co-reading key ranges from): walk the
    // collection in key order accumulating encoded document sizes, and
    // emit the key value that begins each new chunk once the running
    // chunk exceeds maxChunkSizeBytes. Points are distinct and non-null
    // (a server cannot split inside one key value; null/missing keys
    // sort lowest and ride the first chunk).
    case Some(("splitVector", ns)) =>
      val collName = ns.toString.split('.').last
      val coll = collections.getOrElse(collName.toLowerCase,
        throw new NoSuchElementException(s"ns not found: $ns"))
      val keyPattern = cmd.get("keyPattern").map(_.asInstanceOf[BDoc]).getOrElse(
        throw new IllegalArgumentException("splitVector requires keyPattern"))
      require(keyPattern.fields.size == 1, "only single-field keyPattern supported")
      val key = keyPattern.fields.head._1
      val ki = coll.schema.fieldNames.indexWhere(_.equalsIgnoreCase(key))
      if (ki < 0) throw new IllegalArgumentException(
        s"couldn't find index over splitting key { $key: 1.0 }")
      val maxBytes = cmd.get("maxChunkSizeBytes")
        .map(_.asInstanceOf[Number].longValue()).getOrElse(
          throw new IllegalArgumentException("splitVector requires maxChunkSizeBytes"))
      require(maxBytes > 0, "maxChunkSizeBytes must be positive")
      val ordered = coll.snapshot.sorted(MongoDsl.sortComparator(
        BDoc(Seq(key -> (1: java.lang.Integer))), coll.schema))
      val points = Seq.newBuilder[Any]
      var acc = 0L
      var last: Option[Any] = None
      ordered.foreach { r =>
        val sz = Bson.encode(BDoc(coll.schema.fields.toSeq.zipWithIndex.map {
          case (f, i) => f.name -> r(i)
        })).length.toLong
        if (acc + sz > maxBytes && acc > 0L && r(ki) != null && !last.contains(r(ki))) {
          points += r(ki)
          last = Some(r(ki))
          acc = 0L
        }
        acc += sz
      }
      BDoc(Seq(
        "splitKeys" -> (points.result().map(v => BDoc(Seq(key -> v))): Any),
        "ok" -> (1.0: java.lang.Double)))
    case Some((other, _)) => throw new IllegalArgumentException(s"unsupported command $other")
    case None => throw new IllegalArgumentException("empty command")
  }

  /** The real server's `aggregate` command over the pipeline-stage
    * subset the connector emits plus `$sort`/`$limit` ($match via the
    * same matcher as `find`, $group via [[MongoAgg]]'s accumulator
    * evaluator). Unknown stages throw → the command answers ok:0, so an
    * unsupported client shape fails loudly instead of mis-computing. */
  private def runAggregate(collName: String, cmd: BDoc): BDoc = {
    val coll = collections.getOrElse(collName.toLowerCase,
      throw new NoSuchElementException(s"ns not found: $Db.$collName"))
    lastAggregate.set(cmd.render)
    val stages = cmd.get("pipeline").getOrElse(Seq.empty)
      .asInstanceOf[Seq[Any]].map(_.asInstanceOf[BDoc])
    var docs: Seq[BDoc] = coll.snapshot.map(r =>
      BDoc(coll.schema.fields.toSeq.zipWithIndex.map { case (f, i) => f.name -> r(i) }))
    stages.foreach { st =>
      st.fields.headOption match {
        case Some(("$match", q: BDoc)) =>
          docs = docs.filter(d => MongoDsl.evalDoc(q, d))
        case Some(("$group", spec: BDoc)) =>
          docs = MongoAgg.runGroup(spec, docs)
        case Some(("$sort", s: BDoc)) =>
          // dotted sort keys walk into sub-documents ("_id.seg" after a
          // $group) — the real server's path resolution
          def pathGet(d: BDoc, path: String): Any = {
            var cur: Any = d
            path.split("\\.").foreach { seg =>
              cur = cur match {
                case b: BDoc => b.get(seg).getOrElse(null)
                case _ => null
              }
            }
            cur
          }
          docs = docs.sortWith { (a, b) =>
            var r = 0
            val it = s.fields.iterator
            while (r == 0 && it.hasNext) {
              val (name, dir) = it.next()
              val (va, vb) = (pathGet(a, name), pathGet(b, name))
              val c = (va, vb) match {
                case (null, null) => 0
                case (null, _) => -1
                case (_, null) => 1
                case (x, y) => FilterEval.cmp(x, y).getOrElse(0)
              }
              r = if (dir.asInstanceOf[Number].intValue() < 0) -c else c
            }
            r < 0
          }
        case Some(("$limit", n)) =>
          docs = docs.take(n.asInstanceOf[Number].intValue())
        case Some(("$lookup", spec: BDoc)) =>
          // the real basic-form $lookup: every local doc gains `as` = the
          // ARRAY of foreign docs whose foreignField equals its
          // localField — including Mongo's sharp edge that a null or
          // MISSING local key matches null/missing foreign keys (clients
          // wanting SQL equality must guard with $match {f: {$ne: null}})
          def req(k: String): String = spec.get(k).getOrElse(
            throw new IllegalArgumentException(
              s"$$lookup requires from/localField/foreignField/as (missing $k)")).toString
          val from = collections.getOrElse(req("from").toLowerCase,
            throw new NoSuchElementException(s"ns not found: $Db.${req("from")}"))
          val lf = req("localField")
          val ff = req("foreignField")
          val as = req("as")
          val fdocs = from.snapshot.map(r => BDoc(
            from.schema.fields.toSeq.zipWithIndex.map { case (f, i) => f.name -> r(i) }))
          // hash-index the foreign side (a real mongod uses the index or
          // builds one per $lookup) — the naive scan is O(local×foreign).
          // Numbers key by exact decimal value so int 1 joins double 1.0
          // (Mongo's type-bracketed numeric equality).
          def joinKey(v: Any): Any = v match {
            case n: Number =>
              // NaN/Infinity have no decimal form; key them raw
              try new java.math.BigDecimal(n.toString).stripTrailingZeros.toPlainString
              catch { case _: NumberFormatException => n }
            case other => other
          }
          val byKey = fdocs.groupBy(fd => joinKey(fd.get(ff).getOrElse(null)))
          docs = docs.map { d =>
            val lv = d.get(lf).getOrElse(null)
            val hits = byKey.getOrElse(joinKey(lv), Nil)
            BDoc(d.fields :+ (as -> (hits: Any)))
          }
        case Some(("$unwind", path)) =>
          val (p, preserve) = path match {
            case s: String => (s.stripPrefix("$"), false)
            case d: BDoc => (d.get("path").get.toString.stripPrefix("$"),
              d.get("preserveNullAndEmptyArrays").contains(true))
            case other =>
              throw new IllegalArgumentException(s"bad $$unwind $other")
          }
          docs = docs.flatMap { d =>
            d.get(p).getOrElse(null) match {
              case s: Seq[_] if s.nonEmpty =>
                s.map(v => BDoc(d.fields.map { case (k, x) =>
                  if (k == p) k -> v else k -> x }))
              case _ if preserve => Seq(BDoc(d.fields.filterNot(_._1 == p)))
              case _ => Nil // no match, no row — the inner-join arm
            }
          }
        case Some(("$addFields" | "$set", spec: BDoc)) =>
          // aggregation-expression assignment (the LEFT-OUTER null-key
          // guard rides this: __j reset to [] when the local key is null)
          docs = docs.map { d =>
            val updated = spec.fields.map { case (k, expr) =>
              k -> MongoAgg.evalExpr(expr, d) }
            BDoc(d.fields.filterNot(f => spec.fields.exists(_._1 == f._1)) ++ updated)
          }
        case Some(("$project", spec: BDoc)) =>
          docs = docs.map { d =>
            BDoc(spec.fields.flatMap {
              case ("_id", v) if v.asInstanceOf[Number].intValue() == 0 => Nil
              case (out, ref: String) if ref.startsWith("$") =>
                // dotted paths walk into sub-documents ("$__j.profile")
                var cur: Any = d
                ref.substring(1).split("\\.").foreach { seg =>
                  cur = cur match {
                    case b: BDoc => b.get(seg).getOrElse(null)
                    case _ => null
                  }
                }
                Seq(out -> cur)
              case (out, one: Number) if one.intValue() == 1 =>
                Seq(out -> d.get(out).getOrElse(null))
              case (out, other) =>
                throw new IllegalArgumentException(s"unsupported projection $out: $other")
            })
          }
        case Some((other, _)) =>
          throw new IllegalArgumentException(s"unsupported pipeline stage $other")
        case None =>
          throw new IllegalArgumentException("empty pipeline stage")
      }
    }
    val bs = cmd.get("cursor").collect { case c: BDoc => c }
      .flatMap(_.get("batchSize")).map(_.asInstanceOf[Number].intValue()).getOrElse(101)
    val it = docs.iterator
    val first = drain(it, bs)
    val live = it.hasNext
    val id = if (live) {
      val cid = nextCursor.getAndIncrement()
      cursors.put(cid, (it, useStamp.incrementAndGet()))
      evictOldCursors()
      cid
    } else 0L
    BDoc(Seq(
      "cursor" -> BDoc(Seq(
        "id" -> (id: java.lang.Long),
        "ns" -> (Db + "." + collName),
        "firstBatch" -> first)),
      "ok" -> (1.0: java.lang.Double)))
  }

  private def runFind(collName: String, cmd: BDoc): BDoc = {
    val coll = collections.getOrElse(collName.toLowerCase,
      throw new NoSuchElementException(s"ns not found: $Db.$collName"))
    lastFind.set(cmd.render)
    val filter = cmd.get("filter").map(_.asInstanceOf[BDoc]).getOrElse(BDoc.empty)
    val projection = cmd.get("projection").map(_.asInstanceOf[BDoc])
    val sort = cmd.get("sort").map(_.asInstanceOf[BDoc])
    val limit = cmd.get("limit").map(_.asInstanceOf[Number].intValue()).getOrElse(0)
    val skip = cmd.get("skip").map(_.asInstanceOf[Number].intValue()).getOrElse(0)
    val bs = cmd.get("batchSize").map(_.asInstanceOf[Number].intValue()).getOrElse(101)

    var rows = coll.snapshot.filter(r => MongoDsl.eval(filter, r, coll.schema))
    sort.foreach(s => rows = rows.sorted(MongoDsl.sortComparator(s, coll.schema)))
    // the real server's order: sort, then skip, then limit
    if (skip > 0) rows = rows.drop(skip)
    if (limit > 0) rows = rows.take(limit)

    // projection: {f: 1, ...} keeps the listed fields (no _id here)
    val keep: Array[Int] = projection match {
      case Some(p) =>
        p.fields.collect {
          case (name, inc) if inc.asInstanceOf[Number].intValue() == 1 =>
            coll.schema.fieldNames.indexWhere(_.equalsIgnoreCase(name))
        }.filter(_ >= 0).toArray
      case None => coll.schema.fields.indices.toArray
    }
    def toDoc(r: Array[Any]): BDoc =
      BDoc(keep.toSeq.map(i => coll.schema.fields(i).name -> r(i)))

    val it = rows.iterator.map(toDoc)
    val first = drain(it, bs)
    val live = it.hasNext
    val id = if (live) {
      val cid = nextCursor.getAndIncrement()
      cursors.put(cid, (it, useStamp.incrementAndGet()))
      evictOldCursors()
      cid
    } else 0L
    BDoc(Seq(
      "cursor" -> BDoc(Seq(
        "id" -> (id: java.lang.Long),
        "ns" -> (Db + "." + collName),
        "firstBatch" -> first)),
      "ok" -> (1.0: java.lang.Double)))
  }
}

/** Serializable Mongo endpoint pointer (executor JVMs rebuild the client). */
final case class MongoEndpointSpec(host: String, port: Int, db: String,
    collection: String, cfg: MongoClientConfig)

final case class MongoEndpoint(source: String, table: String, schema: StructType,
    spec: MongoEndpointSpec, splits: Option[WireSplits] = None) extends WireEndpoint {
  def newTable(): Table = new MongoTable(this)
}

class MongoTable(val ep: MongoEndpoint) extends Table
  with SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDelete
  with WireScanTable {
  override def name(): String =
    s"${SourceRegistry.CatalogName}.${ep.source}.${ep.table}"
  override def schema(): StructType = ep.schema
  override def capabilities(): util.Set[TableCapability] =
    util.Set.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new MongoScanBuilder(ep, WireFanout.hintFrom(options))

  /** INSERT INTO: every task streams its rows as OP_MSG `insert`
    * batches (the reference's Put sink, row-at-a-time upserts over the
    * wire — here batched 256/command). Not transactional across tasks,
    * exactly like the reference's per-row Put. */
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new WireBatchWrite(new MongoWriterFactory(ep.spec, ep.schema.json))

  /** DELETE FROM ... WHERE: ships ONE OP_MSG `delete` with the compiled
    * filter document (reference: the Mongo backend's DeleteExpression).
    * Uncompilable predicates refuse — Spark then reports the delete as
    * unsupported rather than silently deleting the wrong set. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => MongoDsl.compile(f).isDefined)
  override def deleteWhere(filters: Array[Filter]): Unit = {
    val q = MongoDsl.compileAll(filters.toSeq.flatMap(MongoDsl.compile))
    val client = new MongoClientLite(ep.spec.host, ep.spec.port, ep.spec.cfg)
    try client.delete(ep.spec.db, ep.spec.collection, q)
    finally client.close()
  }
}

class MongoWriterFactory(spec: MongoEndpointSpec, schemaJson: String)
  extends org.apache.spark.sql.connector.write.DataWriterFactory {
  import org.apache.spark.sql.connector.write._
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    val client = new MongoClientLite(spec.host, spec.port, spec.cfg)
    val toScala = CatalystTypeConverters.createToScalaConverter(schema)
    new DataWriter[InternalRow] {
      private val buf = scala.collection.mutable.ArrayBuffer.empty[Bson.BDoc]
      private def flush(): Unit = if (buf.nonEmpty) {
        client.insert(spec.db, spec.collection, buf.toSeq)
        buf.clear()
      }
      override def write(record: InternalRow): Unit = {
        val row = toScala(record).asInstanceOf[Row]
        buf += Bson.BDoc(schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
          f.name -> (if (row.isNullAt(i)) null else row.get(i))
        })
        if (buf.size >= 256) flush()
      }
      override def commit(): WriterCommitMessage = {
        flush()
        new WriterCommitMessage {}
      }
      override def abort(): Unit = buf.clear() // already-sent batches stay:
      // at-least-once per batch, the reference Put's contract
      override def close(): Unit = client.close()
    }
  }
}

/** Pushdown surface mirroring the reference's Mongo backend: the full
  * WHERE tree (when it compiles), column projection (`find` projection
  * doc), ORDER BY (+ limit) as the `sort`/`limit` options
  * (`sql_to_mgo.go:220-245` passes filter, sort, limit, skip into one
  * query). Sort+limit is partial — Spark merges per-partition candidates,
  * which also keeps the plan correct if a deployment splits one
  * collection across shard partitions. */
/** One pushed same-server equi-join, compiled into the public
  * aggregation-pipeline join: `$match {local != null}` (SQL equality
  * never matches null — Mongo's `$lookup` DOES match null local keys to
  * null/missing foreign keys, so the guard is correctness, not polish)
  * → `$lookup {from, localField, foreignField}` → `$unwind` (inner-join
  * semantics: no match, no row) → `$project` flattening both sides into
  * the join's aliased output columns. `cols` is the joined output in
  * order: (outputName, fromLeftSide, sourceField, type). */
final case class MongoJoinSpec(
    lookupFrom: String,      // `$lookup.from` — the looked-up collection
    driveCollection: String, // the collection the aggregate command targets
    driveKey: String,        // localField, on the DRIVING documents
    lookupKey: String,       // foreignField, on the looked-up documents
    cols: Seq[(String, Boolean, String, DataType)], // (out, fromLeftTable, src, dt)
    outer: Boolean = false,      // preserve the driving side (LEFT/RIGHT OUTER)
    driveRight: Boolean = false, // RIGHT OUTER: the right table drives
    driveFilter: Seq[Filter] = Nil) { // pre-join filters on the driving side
  /** The joined output as a schema — the resolution surface for any
    * aggregate pushed ON TOP of the join. */
  def outSchema: StructType =
    StructType(cols.map(c => StructField(c._1, c._4, nullable = true)))
}

class MongoScanBuilder(private val ep: MongoEndpoint, hint: Option[Int] = None) extends ScanBuilder
  with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns
  with SupportsPushDownLimit
  with SupportsPushDownTopN
  with SupportsPushDownOffset
  with SupportsPushDownAggregates
  with SupportsPushDownJoin {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = ep.schema
  private var limit: Int = -1
  private var skip: Int = -1
  private var sortDoc: Option[BDoc] = None
  private var agg: Option[(Seq[Int], Seq[AggDef])] = None
  private var joinSpec: Option[MongoJoinSpec] = None

  // ---- same-server join pushdown ($lookup) ---------------------------------
  // Runs in the optimizer's join phase: both sides' filters are already
  // pushed into their builders. The LEFT side's filter survives as a
  // leading $match before the $lookup; a filtered RIGHT side declines
  // (the basic $lookup form cannot filter the foreign collection — the
  // pipeline+$expr form is the documented extension point), and Spark
  // keeps the join engine-side, each scan with its own pushdown.

  override def isOtherSideCompatibleForJoin(
      other: SupportsPushDownJoin): Boolean = other match {
    case o: MongoScanBuilder =>
      // one $lookup per scan, both collections on ONE server+db
      joinSpec.isEmpty && o.joinSpec.isEmpty &&
        ep.spec.host == o.ep.spec.host && ep.spec.port == o.ep.spec.port &&
        ep.spec.db == o.ep.spec.db
    case _ => false
  }

  override def pushDownJoin(
      other: SupportsPushDownJoin,
      joinType: org.apache.spark.sql.connector.join.JoinType,
      leftCols: Array[SupportsPushDownJoin.ColumnWithAlias],
      rightCols: Array[SupportsPushDownJoin.ColumnWithAlias],
      condition: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Boolean = {
    // INNER: $match-null-guard + bare $unwind. LEFT OUTER: $unwind with
    // preserveNullAndEmptyArrays (the public SQL-LEFT-JOIN recipe) plus
    // an $addFields null-key guard — Mongo's $lookup matches a null
    // local key to null/missing foreign keys, so null-keyed left rows
    // must have their match ARRAY reset to [] to null-extend instead.
    // RIGHT OUTER is the same pipeline DRIVEN FROM the right collection
    // (the preserved side must drive the $lookup), with the sides'
    // filter/guard roles mirrored.
    import org.apache.spark.sql.connector.join.{JoinType => JT}
    val (leftOuter, driveRight) = joinType match {
      case JT.INNER_JOIN => (false, false)
      case JT.LEFT_OUTER_JOIN => (true, false)
      case JT.RIGHT_OUTER_JOIN => (true, true)
      case _ => return false
    }
    val o = other.asInstanceOf[MongoScanBuilder]
    if (agg.isDefined || o.agg.isDefined ||
      joinSpec.isDefined || o.joinSpec.isDefined) return false
    def resolve(schema: StructType, wa: SupportsPushDownJoin.ColumnWithAlias)
        : Option[(String, String, DataType)] =
      schema.fields.find(_.name.equalsIgnoreCase(wa.colName()))
        .map(f => (Option(wa.alias()).getOrElse(f.name), f.name, f.dataType))
    val l = leftCols.toSeq.map(resolve(ep.schema, _))
    val r = rightCols.toSeq.map(resolve(o.ep.schema, _))
    if ((l ++ r).exists(_.isEmpty)) return false
    val cols = l.map(x => (x.get._1, true, x.get._2, x.get._3)) ++
      r.map(x => (x.get._1, false, x.get._2, x.get._3))
    // single equi-key: `=` over one column per side, by OUTPUT name
    def refName(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case nr: NamedReference if nr.fieldNames().length == 1 =>
          Some(nr.fieldNames()(0))
        case _ => None
      }
    val key: Option[(String, String)] =
      if (condition == null || condition.name() != "=" ||
        condition.children().length != 2) None
      else (refName(condition.children()(0)), refName(condition.children()(1))) match {
        case (Some(a), Some(b)) =>
          def side(n: String): Option[(String, Boolean, String, DataType)] =
            cols.find(_._1.equalsIgnoreCase(n))
          (side(a), side(b)) match {
            case (Some((_, true, lf, _)), Some((_, false, ff, _))) => Some((lf, ff))
            case (Some((_, false, ff, _)), Some((_, true, lf, _))) => Some((lf, ff))
            case _ => None
          }
        case _ => None
      }
    key match {
      case Some((lf, ff)) =>
        // The LOOKED-UP side's pushed filters can't ride the basic
        // $lookup. INNER: any filter referencing ONLY the foreign key is
        // sound to REWRITE onto the local key and apply BEFORE the
        // lookup: every surviving pair has fv == lv, so P(fv) ⇔ P(lv) —
        // this covers exactly the constraints Catalyst infers across the
        // equality (IsNotNull, ranges, IN on the join key). Anything
        // else (a predicate on a non-key looked-up column) declines.
        // OUTER: NO looked-up-side filter may move to the driving side
        // (it would drop driving rows the join must null-extend). But a
        // filter that is IMPLIED by the join anyway is sound to DROP
        // entirely: IsNotNull(key) (null keys never match under SQL
        // equality — the $addFields guard already suppresses Mongo's
        // null==null lookup matches), and any P(key) whose rename onto
        // the other side's key is ALREADY among that side's pushed
        // filters (matched pairs agree on the keys, so P holds for every
        // row the filter could touch — exactly the constraints Catalyst
        // propagates across the equality). Anything else — a genuine
        // user pre-join filter on the looked-up side — declines.
        def impliedOnly(fs: Array[Filter], keyOnThisSide: String,
            keyOtherSide: String, otherPushed: Array[Filter]): Boolean =
          fs.forall { f =>
            f.references.forall(_.equalsIgnoreCase(keyOnThisSide)) && (f match {
              case IsNotNull(_) => true
              case _ => renameRefs(f, keyOnThisSide, keyOtherSide)
                .exists(otherPushed.contains)
            })
          }
        if (leftOuter && !driveRight &&
          !impliedOnly(o.pushed, ff, lf, pushed)) return false
        if (driveRight && !impliedOnly(pushed, lf, ff, o.pushed)) return false
        val rewritten: Seq[Option[Filter]] =
          if (leftOuter) Nil
          else o.pushed.toSeq.map(f =>
            if (f.references.forall(_.equalsIgnoreCase(ff))) renameRefs(f, ff, lf)
            else None)
        if (rewritten.exists(_.isEmpty)) return false
        if (!driveRight) pushed = pushed ++ rewritten.flatten.filterNot(pushed.contains)
        joinSpec = Some(
          if (driveRight)
            MongoJoinSpec(lookupFrom = ep.spec.collection,
              driveCollection = o.ep.spec.collection,
              driveKey = ff, lookupKey = lf, cols = cols,
              outer = true, driveRight = true, driveFilter = o.pushed.toSeq)
          else
            MongoJoinSpec(lookupFrom = o.ep.spec.collection,
              driveCollection = ep.spec.collection,
              driveKey = lf, lookupKey = ff, cols = cols,
              outer = leftOuter))
        required = joinSpec.get.outSchema
        true
      case None => false
    }
  }

  /** Rewrite every reference in a filter from one column name to
    * another (the foreign-key → local-key transposition above); None
    * for shapes outside the compilable subset. */
  private def renameRefs(f: Filter, from: String, to: String): Option[Filter] = {
    def col(a: String): String = if (a.equalsIgnoreCase(from)) to else a
    f match {
      case EqualTo(a, v) => Some(EqualTo(col(a), v))
      case EqualNullSafe(a, v) => Some(EqualNullSafe(col(a), v))
      case GreaterThan(a, v) => Some(GreaterThan(col(a), v))
      case GreaterThanOrEqual(a, v) => Some(GreaterThanOrEqual(col(a), v))
      case LessThan(a, v) => Some(LessThan(col(a), v))
      case LessThanOrEqual(a, v) => Some(LessThanOrEqual(col(a), v))
      case In(a, vs) => Some(In(col(a), vs))
      case IsNull(a) => Some(IsNull(col(a)))
      case IsNotNull(a) => Some(IsNotNull(col(a)))
      case StringStartsWith(a, v) => Some(StringStartsWith(col(a), v))
      case StringEndsWith(a, v) => Some(StringEndsWith(col(a), v))
      case StringContains(a, v) => Some(StringContains(col(a), v))
      case And(l, r) =>
        for (a <- renameRefs(l, from, to); b <- renameRefs(r, from, to)) yield And(a, b)
      case Or(l, r) =>
        for (a <- renameRefs(l, from, to); b <- renameRefs(r, from, to)) yield Or(a, b)
      case Not(c) => renameRefs(c, from, to).map(Not)
      case _ => None
    }
  }

  /** OFFSET ships as the find's `skip` (`sql_to_mgo.go:220-245` passes
    * filter, sort, limit, skip into one query the same way). Unlike
    * limit, a pushed offset is FULLY delegated — Spark removes its own
    * Offset node — so it is only sound on a single-request scan: a
    * fanned-out scan skipping `n` rows per slice would drop n×slices.
    * Aggregated scans decline too (the pipeline has no skip stage). */
  override def pushOffset(n: Int): Boolean =
    if (agg.isDefined || joinSpec.isDefined || fansOut) false
    else { skip = n; true }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // only TOP-LEVEL fields compile: a nested reference arrives as a
    // dotted name ("profile.name") which would need Mongo dot-notation
    // in the filter document AND dotted-path evaluation server-side —
    // declined (Spark polyfills), like the reference's non-compilable
    // WHERE arms
    val top = ep.schema.fieldNames.map(_.toLowerCase).toSet
    val (ok, declined) = filters.partition(f =>
      f.references.forall(r => top.contains(r.toLowerCase)) &&
        MongoDsl.compile(f).isDefined)
    pushed = ok
    declined
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** A limit rides the find command, or — when a `$group`/`$lookup`
    * pipeline was consumed — appends as a `$limit` stage after it. Under
    * a partial push (fan-out) each slice caps at n and Spark re-limits;
    * under full delegation the pipeline's answer IS the window. */
  override def pushLimit(n: Int): Boolean = { limit = n; true }

  /** Will this scan fan out into per-range slices? (split metadata
    * present and not collapsed by a key-pinning pushed predicate) */
  private def fansOut: Boolean = ep.splits.exists(s =>
    s.points.nonEmpty && !WireFanout.pinsKey(pushed, s.key))

  /** A fanned-out scan serves limit/topN PER SLICE — partial, Spark
    * re-applies. A single-request scan's server-side sort+limit is
    * exact — fully pushed, which is also what lets Spark delegate
    * OFFSET (it only pushes offset below a FULLY pushed limit). */
  override def isPartiallyPushed(): Boolean = fansOut

  /** Mongo's null placement matches Spark's defaults (nulls lowest):
    * accept ASC+NULLS_FIRST and DESC+NULLS_LAST. The sort target depends
    * on what was already consumed: a raw document field for a find, the
    * post-`$project` output name for a pushed `$lookup` join, and
    * `_id.<key>` for a GROUP column under a pushed `$group` (agg outputs
    * themselves never arrive as plain references — they decline, Spark
    * sorts the group-count-sized answer). A sort key that is NOT in the
    * resolvable set declines — accepting it against the raw schema while
    * the pipeline ignores the sort was a silent wrong-window bug. */
  override def pushTopN(orders: Array[SortOrder], n: Int): Boolean = {
    val outNames: Seq[String] =
      joinSpec.map(_.outSchema.fieldNames.toSeq).getOrElse(ep.schema.fieldNames.toSeq)
    // under a pushed $group only group columns are sortable, as _id.<k>
    val targetFor: String => Option[String] = agg match {
      case Some((groupIdx, _)) =>
        val groups = groupIdx.map(outNames(_))
        k => groups.find(_.equalsIgnoreCase(k)).map(g => s"_id.$g")
      case None =>
        k => outNames.find(_.equalsIgnoreCase(k))
    }
    val keys = orders.map { so =>
      so.expression() match {
        case nr: NamedReference if nr.fieldNames().length == 1 =>
          targetFor(nr.fieldNames()(0)).flatMap { t =>
            val desc = so.direction() == SortDirection.DESCENDING
            val nullsFirst = so.nullOrdering() == NullOrdering.NULLS_FIRST
            if (desc != nullsFirst) Some(t -> (if (desc) -1 else 1)) else None
          }
        case _ => None
      }
    }
    if (keys.exists(_.isEmpty)) false
    else {
      sortDoc = Some(BDoc(keys.map(k => k.get._1 -> (k.get._2: Any)).toSeq))
      limit = n
      true
    }
  }

  /** `$group` output is FINAL buckets computed server-side — complete
    * pushdown, the ES connector's same contract ([[MongoAgg]] for the
    * semantic guards and the COUNT(DISTINCT) decline rationale). An
    * aggregate arriving ON TOP of a pushed join resolves against the
    * JOINED output schema and appends its $group after the $lookup
    * pipeline — fact⨝dim→aggregate entirely server-side. */
  private def pushedAgg(a: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(Seq[Int], Seq[AggDef])] =
    PushedAgg.translate(a, joinSpec.map(_.outSchema).getOrElse(ep.schema),
      MongoAgg.groupOk, MongoAgg.accepts)
  override def supportCompletePushDown(
      a: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    pushedAgg(a).isDefined
  override def pushAggregation(
      a: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    pushedAgg(a) match {
      case Some(t) => agg = Some(t); true
      case None => false
    }

  override def build(): Scan = {
    val filter = MongoDsl.compileAll(pushed.toSeq.flatMap(MongoDsl.compile))
    // a consumed TopN/limit appends as trailing window stages on any
    // pipeline-shaped scan; the $sort targets were resolved at push time
    // (post-$project output names / `_id.<group key>`)
    def windowStages: Seq[BDoc] =
      sortDoc.map(sd => BDoc(Seq("$sort" -> sd))).toSeq ++
        (if (limit >= 0) Seq(BDoc(Seq("$limit" -> (limit: java.lang.Integer)))) else Nil)
    joinSpec.foreach { j =>
      // pre-join filters on the DRIVING side: the builder's own pushed
      // filter for INNER/LEFT; the captured right-side filters when the
      // right table drives (RIGHT OUTER)
      val driveFilterDoc =
        if (j.driveRight)
          MongoDsl.compileAll(j.driveFilter.flatMap(MongoDsl.compile))
        else filter
      // the SQL null guard (INNER only): usually already present via the
      // engine's inferred IsNotNull on the driving key; added when not.
      // OUTER joins keep null-keyed driving rows and guard via $addFields.
      val hasGuard = (if (j.driveRight) j.driveFilter else pushed.toSeq).exists {
        case IsNotNull(a) => a.equalsIgnoreCase(j.driveKey)
        case _ => false
      }
      val lookup = BDoc(Seq("$lookup" -> BDoc(Seq(
        "from" -> j.lookupFrom, "localField" -> j.driveKey,
        "foreignField" -> j.lookupKey, "as" -> "__j"))))
      val unwind: Seq[BDoc] =
        if (j.outer) Seq(
          // Mongo's $lookup matches a null/missing local key to null
          // foreign keys; SQL OUTER JOIN must null-extend those rows —
          // reset their match array to [] before the preserving unwind
          BDoc(Seq("$addFields" -> BDoc(Seq("__j" -> BDoc(Seq("$cond" -> Seq(
            BDoc(Seq("$eq" -> Seq(s"$$${j.driveKey}", null))),
            Seq.empty[Any], s"$$__j"))))))),
          BDoc(Seq("$unwind" -> BDoc(Seq(
            "path" -> ("$__j": Any), "preserveNullAndEmptyArrays" -> (true: Any))))))
        else Seq(BDoc(Seq("$unwind" -> "$__j")))
      val joinStages: Seq[BDoc] =
        (if (j.outer || hasGuard) Nil
         else Seq(BDoc(Seq("$match" ->
           BDoc(Seq(j.driveKey -> BDoc(Seq("$ne" -> null)))))))) ++
          (if (driveFilterDoc.fields.nonEmpty)
            Seq(BDoc(Seq("$match" -> driveFilterDoc))) else Nil) ++
          (lookup +: unwind)
      // a column rides the ROOT document when its table IS the driving
      // side; the looked-up side's columns live under __j
      def projectStage(cols: Seq[(String, Boolean, String)]): BDoc =
        BDoc(Seq("$project" -> BDoc(("_id" -> (0: java.lang.Integer): (String, Any)) +:
          cols.map { case (name, fromLeftTable, src) =>
            val root = fromLeftTable != j.driveRight
            name -> ((if (root) s"$$$src" else s"$$__j.$src"): Any) })))
      // the aggregate command targets the DRIVING collection (for RIGHT
      // OUTER that is the right table; same server+db by the push rule)
      val epScan =
        if (j.driveCollection == ep.spec.collection) ep
        else ep.copy(spec = ep.spec.copy(collection = j.driveCollection))
      agg match {
        case Some((groupIdx, aggs)) =>
          // aggregate OVER the join: project the full joined output,
          // then the single-table path's exact $group compiler — the
          // classic fact⨝dim→aggregate shape runs WHOLLY server-side
          // and ships back a group-count-sized answer
          val outNames = j.outSchema.fieldNames.toSeq
          val project = projectStage(j.cols.map(c => (c._1, c._2, c._3)))
          val groupNames = groupIdx.map(outNames(_))
          val aggStages = MongoAgg.pipeline(BDoc.empty, groupNames,
            aggs.map(d => d -> (if (d.col < 0) "" else outNames(d.col))))
          return new MongoScan(epScan, PushedAgg.outSchema(j.outSchema, groupIdx, aggs),
            driveFilterDoc, None, sortDoc, limit, pushed, hint,
            aggPipeline = Some(((joinStages :+ project) ++ aggStages) ++ windowStages),
            aggs = aggs, groupFields = groupNames, joined = true)
        case None =>
          // `required` was re-pruned over the JOINED output after the push
          val out = required.fields.toSeq.map { f =>
            val c = j.cols.find(_._1.equalsIgnoreCase(f.name)).getOrElse(
              throw new IllegalStateException(s"unknown joined column ${f.name}"))
            (c._1, c._2, c._3)
          }
          return new MongoScan(epScan, required, driveFilterDoc, None, sortDoc, limit,
            pushed, hint,
            aggPipeline = Some((joinStages :+ projectStage(out)) ++ windowStages),
            joined = true) // aggs empty => plain row decode
      }
    }
    agg match {
      case Some((groupIdx, aggs)) =>
        val groupNames = groupIdx.map(ep.schema.fields(_).name)
        val stages = MongoAgg.pipeline(filter, groupNames,
          aggs.map(d => d -> (if (d.col < 0) "" else ep.schema.fields(d.col).name)))
        new MongoScan(ep, PushedAgg.outSchema(ep.schema, groupIdx, aggs), filter, None,
          sortDoc, limit, pushed, hint, aggPipeline = Some(stages ++ windowStages),
          aggs = aggs, groupFields = groupNames)
      case None =>
        val projection =
          if (required.fieldNames.sameElements(ep.schema.fieldNames)) None
          else Some(BDoc(required.fieldNames.toSeq.map(_ -> (1: Any))))
        // Spark pushes limit = (its limit + offset); the wire's limit
        // counts AFTER skip, so a delegated offset comes off it again
        val wireLimit = if (skip > 0 && limit > 0) limit - skip else limit
        new MongoScan(ep, required, filter, projection, sortDoc, wireLimit, pushed,
          hint, skip = skip)
    }
  }
}

class MongoScan(ep: MongoEndpoint, required: StructType, filter: BDoc,
    projection: Option[BDoc], sort: Option[BDoc], limit: Int,
    pushed: Array[Filter], hint: Option[Int] = None,
    aggPipeline: Option[Seq[BDoc]] = None, aggs: Seq[AggDef] = Nil,
    groupFields: Seq[String] = Nil, skip: Int = -1, joined: Boolean = false)
  extends Scan with Batch with WireRuntimeFilter[Any] {

  override def readSchema(): StructType = required

  // ---- runtime semi-join reduction ([[WireRuntimeFilter]]) ---------------
  // each accepted key set compiles into a `$in`; all of them AND onto
  // the shipped filter

  @volatile private var runtimeFilter: BDoc = BDoc.empty

  override protected def delegatesOrderedWindow: Boolean = sort.isDefined || skip >= 0

  /** Under agg pushdown only GROUP-KEY pruning is sound (it removes whole
    * groups the join would drop anyway); otherwise any wire-exact output
    * column is fair game. A joined pipeline's output names only exist
    * AFTER the $project — a leading runtime $match on them would match
    * nothing and wrongly empty the scan, so joined pipelines offer none. */
  override protected def runtimeFilterColumns: Seq[String] = {
    if (joined) return Nil
    def wireSafe(dt: DataType): Boolean = dt match {
      case ShortType | IntegerType | LongType | FloatType | DoubleType |
           BooleanType | StringType | TimestampType | TimestampNTZType => true
      case _ => false
    }
    val allowed: Set[String] =
      if (aggPipeline.isDefined) groupFields.toSet else required.fieldNames.toSet
    required.fields.toSeq
      .filter(f => allowed.contains(f.name) && wireSafe(f.dataType)).map(_.name)
  }

  override protected def renderRuntimeKey(key: Any): Option[Any] = MongoDsl.lit(key)

  override protected def applyRuntimeFilter(sets: Seq[(String, Seq[Any])]): String = {
    runtimeFilter = MongoDsl.compileAll(sets.map { case (name, vals) =>
      BDoc(Seq(name -> BDoc(Seq("$in" -> vals))))
    })
    runtimeFilter.render
  }

  /** The static pushed filter ANDed with any runtime semi-join keys. */
  private def effectiveFilter: BDoc =
    MongoDsl.compileAll(Seq(filter, runtimeFilter).filter(_.fields.nonEmpty))

  override def description(): String =
    s"GraftMongoScan endpoint=${ep.source}/${ep.table} " +
      aggPipeline.map(p => s"pipeline=[${p.map(_.render).mkString(", ")}] ")
        .getOrElse(s"filter=${filter.render} ") +
      s"sort=${sort.map(_.render).getOrElse("none")} " +
      s"limit=$limit skip=$skip PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${required.catalogString}"

  override def toBatch: Batch = this

  /** One task per key range: each partition ANDs its `$gte/$lt` slice of
    * the partition key into the shipped filter — the reference's exact
    * distributed-scan recipe (`sql_to_mgo.go:189-210` injects the same
    * partition-range document per worker). The first range also matches
    * null/missing keys via `$or` (Mongo range operators type-bracket past
    * null), so the union of partitions is exactly the collection.
    * Aggregation pushdown stays single-partition: `$group` is global
    * server-side state and the COMPLETE-agg result is metadata-sized. */
  override def planInputPartitions(): Array[InputPartition] = {
    val filter = effectiveFilter // static pushdown ∧ runtime semi-join keys
    def part(f: BDoc) = MongoPartition(ep.spec, Bson.encode(f),
      projection.map(Bson.encode), sort.map(Bson.encode), limit, required.json,
      skip = skip)
    aggPipeline.foreach { stages =>
      // runtime group-key pruning rides its own leading $match (group-key
      // `$in` removes exactly the groups the join above would drop)
      val staged =
        if (runtimeFilter.fields.isEmpty) stages
        else BDoc(Seq("$match" -> runtimeFilter)) +: stages
      return Array(MongoPartition(ep.spec, Bson.encode(this.filter), None, None, -1,
        required.json,
        pipelineBson = Some(Bson.encode(BDoc(Seq("pipeline" -> staged)))),
        aggs = aggs, groupFields = groupFields))
    }
    // a key-pinning pushed predicate ships as ONE targeted find, not
    // N sockets of which N-1 are provably empty (WireFanout.pinsKey)
    ep.splits match {
      case Some(WireSplits(key, points))
          if points.nonEmpty && !WireFanout.pinsKey(pushed, key) =>
        val pts = WireFanout.thin(points.toIndexedSeq,
          WireFanout.effective(points.size + 1, hint))
        if (pts.isEmpty) Array(part(filter))
        else WireFanout.ranges(pts).map { case (lo, hi) =>
          val range: Any = (lo, hi) match {
            case (None, Some(h)) => // null/missing keys ride partition 0
              BDoc(Seq("$or" -> Seq(
                BDoc(Seq(key -> BDoc(Seq("$lt" -> h)))),
                BDoc(Seq(key -> null)))))
            case (Some(l), Some(h)) => BDoc(Seq(key -> BDoc(Seq("$gte" -> l, "$lt" -> h))))
            case (Some(l), None) => BDoc(Seq(key -> BDoc(Seq("$gte" -> l))))
            case (None, None) => BDoc.empty
          }
          val combined =
            if (filter.fields.isEmpty) range.asInstanceOf[BDoc]
            else BDoc(Seq("$and" -> Seq(range, filter)))
          part(combined)
        }.toArray
      case _ => Array(part(filter))
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = new MongoReaderFactory
}

final case class MongoPartition(spec: MongoEndpointSpec, filterBson: Array[Byte],
    projectionBson: Option[Array[Byte]], sortBson: Option[Array[Byte]],
    limit: Int, requiredSchemaJson: String,
    pipelineBson: Option[Array[Byte]] = None, aggs: Seq[AggDef] = Nil,
    groupFields: Seq[String] = Nil, skip: Int = -1) extends InputPartition

class MongoReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[MongoPartition]
    val required = DataType.fromJson(p.requiredSchemaJson).asInstanceOf[StructType]
    val client = new MongoClientLite(p.spec.host, p.spec.port, p.spec.cfg)
    val conv = CatalystTypeConverters.createToCatalystConverter(required)
    val docs = p.pipelineBson match {
      case Some(pl) =>
        val stages = Bson.decode(pl).get("pipeline").getOrElse(Seq.empty)
          .asInstanceOf[Seq[Any]].map(_.asInstanceOf[BDoc])
        val raw = client.aggregate(p.spec.db, p.spec.collection, stages)
        // SQL's GLOBAL aggregate over zero input rows is ONE row
        // (count 0, null sums); Mongo's $group over an empty stream
        // emits NO document — synthesize the neutral row. Grouped
        // aggregates and join pipelines (no aggs) correctly
        // return zero rows on both sides.
        if (p.aggs.isEmpty || p.groupFields.nonEmpty || raw.hasNext) raw
        else Iterator.single(BDoc(
          ("_id" -> (null: Any)) +: p.aggs.zipWithIndex.flatMap {
            case (d, i) => d.fn match {
              case AggFn.Sum =>
                Seq(s"agg_$i" -> (0L: java.lang.Long): (String, Any),
                  s"agg_${i}_n" -> (0L: java.lang.Long): (String, Any))
              case AggFn.Min | AggFn.Max | AggFn.Avg =>
                Seq(s"agg_$i" -> (null: Any): (String, Any))
              case _ => Seq(s"agg_$i" -> (0L: java.lang.Long): (String, Any)) // counts
            }
          }))
      case None =>
        client.find(p.spec.db, p.spec.collection,
          Bson.decode(p.filterBson),
          p.projectionBson.map(Bson.decode),
          p.sortBson.map(Bson.decode),
          limit = p.limit, skip = p.skip)
    }
    val it: Iterator[InternalRow] =
      if (p.pipelineBson.isDefined && p.aggs.nonEmpty) docs.map { doc =>
        // `_id` carries the group-key values; agg_i the accumulators
        val idDoc = doc.get("_id").getOrElse(null) match {
          case d: BDoc => d
          case _ => BDoc.empty
        }
        val groupVals = p.groupFields.zipWithIndex.map { case (g, i) =>
          idDoc.get(g).map(coerce(_, required.fields(i).dataType)).orNull
        }
        val aggVals = p.aggs.zipWithIndex.map { case (d, i) =>
          val v = doc.get(s"agg_$i").getOrElse(null)
          d.fn match {
            case AggFn.Sum =>
              // SQL SUM over zero non-null values is NULL, Mongo's is 0:
              // the companion non-null count disambiguates
              val n = doc.get(s"agg_${i}_n").map(_.asInstanceOf[Number].longValue())
                .getOrElse(0L)
              if (n == 0L) null
              else if (d.out == LongType) v match {
                // a real mongod promotes an int64-overflowing $sum to
                // double — silently truncating that back to long would be
                // a wrong answer; REFUSE loudly (DsSource aggReader's same
                // contract for Datastore's documented degradation)
                case d: java.lang.Double =>
                  throw new IllegalStateException(
                    s"Mongo $$sum over an integer column came back as a " +
                      s"double ($d): the server-side sum overflowed int64 " +
                      "and degraded; refusing to decode a truncated result. " +
                      "Disable aggregate pushdown for this query.")
                case f: java.lang.Float =>
                  throw new IllegalStateException(
                    s"Mongo $$sum over an integer column came back as a " +
                      s"float ($f); refusing to decode a truncated result.")
                case other => other.asInstanceOf[Number].longValue(): java.lang.Long
              }
              else v.asInstanceOf[Number].doubleValue(): java.lang.Double
            case AggFn.Avg =>
              if (v == null) null
              else v.asInstanceOf[Number].doubleValue(): java.lang.Double
            case AggFn.Min | AggFn.Max => // the column's own type
              if (v == null) null else coerce(v, d.out)
            case _ => v.asInstanceOf[Number].longValue(): java.lang.Long // counts
          }
        }
        conv(Row.fromSeq(groupVals ++ aggVals)).asInstanceOf[InternalRow]
      }
      else docs.map { doc =>
      conv(Row.fromSeq(required.fields.toSeq.map { f =>
        doc.get(f.name).map(coerce(_, f.dataType)).orNull
      })).asInstanceOf[InternalRow]
    }
    IteratorReader(it, client.close())
  }

  private def coerce(v: Any, dt: DataType): Any = MongoDsl.coerce(v, dt)
}
