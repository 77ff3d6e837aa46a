package graft.sources

import java.io.{DataInputStream, OutputStream}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.protocol.Bson.{BDoc, BRegex}
import graft.protocol.{Bson, OpMsg}

/** In-process loopback mongod stand-in: a real TCP listener speaking
  * OP_MSG, serving registered collections with filter/projection/sort/
  * limit evaluation and cursor-batched replies — the live service a
  * deployment points [[MongoClientLite]] at. Fault-injection knobs let
  * specs force the client's reconnect/retry paths over a genuine socket. */
object LoopbackMongoServer extends FaultGate {

  val Db = "graft"

  private val collections = TrieMap.empty[String, FixtureTable]
  /** value = (iterator, last-use stamp) — stamped on every getMore. */
  private val cursors = TrieMap.empty[Long, (Iterator[BDoc], Long)]
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
    collections.put(name.toLowerCase, new FixtureTable(schema, rows.map(_.map(norm))))
  }

  private val acceptor = new LoopbackAcceptor("graft-loopback-mongo")(serveOne)

  /** Start (once); returns (host, port). */
  def ensureStarted(): (String, Int) = acceptor.ensureStarted()

  private def serveOne(in: DataInputStream, out: OutputStream): Boolean = {
    val (requestId, cmd, wasCompressed) = OpMsg.readEx(in)
    // the hello handshake is connection plumbing, not a data
    // command: it doesn't count against `served` (request-count
    // assertions mean data requests) and fault injection skips it
    // (failNext targets the data path, as before compression)
    val isHello = cmd.fields.headOption.exists(_._1 == "hello")
    if (!isHello && wasCompressed) compressedServed.incrementAndGet()
    val admitted = isHello || admit()
    if (admitted) {
      val reply = try dispatch(cmd) catch {
        case e: Exception => BDoc(Seq(
          "ok" -> (0.0: java.lang.Double), "errmsg" -> e.getMessage, "code" -> (2: Any)))
      }
      // mirror the request's encoding: a client that negotiated zlib
      // compresses every post-hello message, so mirroring equals the
      // real server's compress-after-negotiation behavior — and hello
      // replies stay plain for free
      OpMsg.write(out, 0, requestId, reply, compress = wasCompressed)
    }
    admitted
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
          docs = docs.sorted(
            PushedWindow.ordering(MongoDsl.sortKeys(s)(identity))(pathGet))
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
