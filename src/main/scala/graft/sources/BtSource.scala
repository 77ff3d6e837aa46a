package graft.sources

import java.util
import java.util.Base64

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.SortOrder
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** BigTable-protocol connector: the data API's `readRows` surface (REST
  * JSON shape — base64 row keys and cell values, rowRanges/rowKeys row
  * sets, cell chunks with commitRow framing). The reference compiles
  * row-key predicates into ranges (`backends/bigtable/sql_to_bt.go:
  * 150-239` builds PrefixRange row sets; `source.go:193-251` maps one
  * column family to a table, cells decoded by sampling) and polyfills
  * EVERYTHING else (`sql_to_bt.go:176-190` re-adds GROUP BY/WHERE in
  * the engine). The accept surface here is the same: equality → rowKeys,
  * prefix → [key, key+0xFF) range, ranges on the ROW KEY column only;
  * every non-key predicate declines. Interrupted/batched scans resume
  * with `startKeyOpen` = the last row key received — the real client's
  * resume contract — so the loopback's chunk cap exercises exactly that
  * path.
  */
object BtQuery {

  private val M = EsDsl.M
  private def b64(s: String): String =
    Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
  def unb64(s: String): String = new String(Base64.getDecoder.decode(s), "UTF-8")

  /** A row-key restriction: ranges (start incl, end excl; empty = open)
    * and/or explicit keys. */
  final case class RowSet(ranges: Seq[(String, String)], keys: Seq[String])

  /** Key-column predicate → row set; None = not a row-key operation. */
  def compileOne(f: Filter, keyCol: String): Option[RowSet] = {
    def isKey(a: String) = a.equalsIgnoreCase(keyCol)
    f match {
      case EqualTo(a, v: String) if isKey(a) => Some(RowSet(Nil, Seq(v)))
      case In(a, vs) if isKey(a) && vs != null && vs.nonEmpty &&
          vs.forall(_.isInstanceOf[String]) =>
        Some(RowSet(Nil, vs.toSeq.map(_.asInstanceOf[String])))
      case StringStartsWith(a, v) if isKey(a) =>
        // prefix range: [v, successor(v)) — the real PrefixRange
        // construction. Appending a max char is WRONG: a key whose
        // suffix begins with U+FFFF compares >= that end bound and
        // would be excluded. The successor increments the last
        // non-max UTF-16 unit, dropping trailing max units; a prefix
        // of all max units (or empty) has no successor => open end.
        Some(RowSet(Seq((v, prefixSuccessor(v))), Nil))
      case GreaterThanOrEqual(a, v: String) if isKey(a) => Some(RowSet(Seq((v, "")), Nil))
      case GreaterThan(a, v: String) if isKey(a) =>
        Some(RowSet(Seq((v + "\u0000", "")), Nil)) // (v, inf) = [v+NUL, inf)
      case LessThan(a, v: String) if isKey(a) => Some(RowSet(Seq(("", v)), Nil))
      case LessThanOrEqual(a, v: String) if isKey(a) =>
        Some(RowSet(Seq(("", v + "\u0000")), Nil))
      case _ => None
    }
  }


  /** Smallest string strictly greater than every string with prefix
    * `v` (Java-string / UTF-16 order): drop trailing max units, then
    * increment the last unit; all-max or empty => "" (open end). */
  def prefixSuccessor(v: String): String = {
    var k = v.length - 1
    while (k >= 0 && v.charAt(k) == '\uFFFF') k -= 1
    if (k < 0) "" else v.substring(0, k) + (v.charAt(k) + 1).toChar
  }

  /** Driver-side `:sampleRowKeys` call: sorted sampled keys, the
    * service's even-interval split points. */
  def sampleRowKeys(spec: BtEndpointSpec): Seq[String] = {
    val client = new HttpRestClient(spec.baseUrl, spec.cfg)
    val resp = EsDsl.M.readTree(
      client.postJson(s"/bt/${spec.table}:sampleRowKeys", "{}"))
    import scala.jdk.CollectionConverters._
    resp.path("samples").elements().asScala
      .map(s => unb64(s.path("rowKey").asText())).toSeq
  }

  /** Intersect one [start, end) range ("" = open) with a boundary
    * interval; None = provably empty. */
  def clamp(r: (String, String), lo: String, hi: String): Option[(String, String)] = {
    val s = if (lo.isEmpty || (r._1.nonEmpty && r._1 > lo)) r._1 else lo
    val e = if (hi.isEmpty || (r._2.nonEmpty && r._2 < hi)) r._2 else hi
    if (s.nonEmpty && e.nonEmpty && s >= e) None else Some((s, e))
  }

  /** The provably-empty row set (contradictory conjuncts): encoded as
    * no ranges AND no keys so the scan can skip the read entirely —
    * an EMPTY RowSet proto would mean "read everything" on a real
    * BigTable, the exact inversion a silent bug would produce. */
  val Empty: RowSet = RowSet(Nil, Nil)

  /** Intersect accepted row sets (conjunctive WHERE): ranges intersect
    * pairwise; explicit keys filter through every range; a contradiction
    * (key = 'a' AND key = 'b') yields [[Empty]], never a full scan. */
  def intersect(sets: Seq[RowSet]): RowSet = {
    if (sets.isEmpty) return RowSet(Seq(("", "")), Nil)
    val keys = sets.flatMap(_.keys)
    if (keys.nonEmpty) {
      // keys ∩ every range ∩ each other
      val distinctKeys = keys.distinct.filter(k =>
        sets.filter(_.keys.nonEmpty).forall(_.keys.contains(k))).sorted
      val ranges = sets.filter(_.keys.isEmpty).flatMap(_.ranges)
      val filtered = distinctKeys.filter(k => ranges.forall { case (s, e) =>
        (s.isEmpty || k >= s) && (e.isEmpty || k < e)
      })
      if (filtered.isEmpty) Empty else RowSet(Nil, filtered)
    } else {
      val merged = sets.flatMap(_.ranges).foldLeft(("", "")) {
        case ((s1, e1), (s2, e2)) =>
          val s = if (s1.isEmpty || (s2.nonEmpty && s2 > s1)) s2 else s1
          val e = if (e1.isEmpty || (e2.nonEmpty && e2 < e1)) e2 else e1
          (s, e)
      }
      // inverted bounds = contradictory ranges (k >= 'b' AND k < 'a')
      if (merged._1.nonEmpty && merged._2.nonEmpty && merged._1 >= merged._2) Empty
      else RowSet(Seq(merged), Nil)
    }
  }

  def requestJson(rs: RowSet, rowsLimit: Int, resumeKeyOpen: String,
      reversed: Boolean = false): String = {
    val root = M.createObjectNode()
    val rows = root.putObject("rows")
    if (rs.keys.nonEmpty) {
      // resume for a keys request = drop keys already served (keys are
      // served in key order — reversed scans serve them descending, so
      // the consumed side flips)
      val remaining = rs.keys.sorted.filter { k =>
        resumeKeyOpen.isEmpty ||
          (if (reversed) k < resumeKeyOpen else k > resumeKeyOpen)
      }
      if (remaining.isEmpty) {
        // every key consumed: a duplicated/retried continuation must
        // read NOTHING — an empty rowKeys array means full-table scan
        // server-side, so pin a provably-empty range instead
        val r = rows.putArray("rowRanges").addObject()
        val pin = if (resumeKeyOpen.nonEmpty) resumeKeyOpen else "\u0000"
        r.put("startKeyClosed", b64(pin))
        r.put("endKeyOpen", b64(pin))
      } else {
        val arr = rows.putArray("rowKeys")
        remaining.foreach(k => arr.add(b64(k)))
      }
    } else {
      val arr = rows.putArray("rowRanges")
      rs.ranges.foreach { case (s, e) =>
        if (reversed) {
          // reversed resume (the real reversed-scan retry contract):
          // the last received key caps the range's EXCLUSIVE END
          val effEnd =
            if (resumeKeyOpen.nonEmpty && (e.isEmpty || resumeKeyOpen < e))
              resumeKeyOpen
            else e
          val r = arr.addObject()
          if (effEnd.nonEmpty && s.nonEmpty && effEnd <= s) {
            // range fully consumed: a PROVABLY-EMPTY range, never an
            // empty rowRanges array (that would mean full-table scan)
            r.put("startKeyClosed", b64(s))
            r.put("endKeyOpen", b64(s))
          } else {
            if (s.nonEmpty) r.put("startKeyClosed", b64(s))
            if (effEnd.nonEmpty) r.put("endKeyOpen", b64(effEnd))
          }
        } else {
          val r = arr.addObject()
          val effStart =
            if (resumeKeyOpen.nonEmpty && (s.isEmpty || resumeKeyOpen >= s)) null
            else s
          if (resumeKeyOpen.nonEmpty && effStart == null)
            r.put("startKeyOpen", b64(resumeKeyOpen))
          else if (s.nonEmpty) r.put("startKeyClosed", b64(s))
          if (e.nonEmpty) r.put("endKeyOpen", b64(e))
        }
      }
    }
    if (rowsLimit > 0) root.put("rowsLimit", rowsLimit)
    if (reversed) root.put("reversed", true)
    root.toString
  }

  /** Server side: select rows by the row set. Returns key-sorted rows
    * (BigTable scans are key-ordered; `reversed` scans — the public
    * ReadRowsRequest.reversed flag — stream descending, and rowsLimit
    * caps the stream in whichever direction it runs). */
  def select(body: JsonNode, keyOf: Array[Any] => String,
      rows: Seq[Array[Any]]): Seq[(String, Array[Any])] = {
    val sorted = rows.map(r => (keyOf(r), r)).sortBy(_._1)
    val rs = body.path("rows")
    val keyArr = rs.path("rowKeys")
    val selected =
      if (keyArr.isArray && keyArr.size() > 0) {
        val want = keyArr.elements().asScala.map(n => unb64(n.asText())).toSet
        sorted.filter { case (k, _) => want(k) }
      } else {
        val ranges = rs.path("rowRanges").elements().asScala.map { r =>
          val startClosed = Option(r.get("startKeyClosed")).map(n => unb64(n.asText()))
          val startOpen = Option(r.get("startKeyOpen")).map(n => unb64(n.asText()))
          val endOpen = Option(r.get("endKeyOpen")).map(n => unb64(n.asText()))
          (startClosed, startOpen, endOpen)
        }.toSeq
        if (ranges.isEmpty) sorted
        else sorted.filter { case (k, _) =>
          ranges.exists { case (sc, so, eo) =>
            sc.forall(k >= _) && so.forall(k > _) && eo.forall(k < _)
          }
        }
      }
    val ordered =
      if (body.path("reversed").asBoolean(false)) selected.reverse else selected
    val limit = body.path("rowsLimit").asInt(-1)
    if (limit > 0) ordered.take(limit) else ordered
  }
}

/** Serializable BigTable endpoint pointer. */
final case class BtEndpointSpec(baseUrl: String, table: String, keyCol: String,
    cfg: WireClientConfig)

final case class BtEndpoint(source: String, table: String, schema: StructType,
    keyCol: String, spec: BtEndpointSpec, fanout: Int = 1) extends WireEndpoint {
  def newTable(): Table = new BtTable(this)
}

class BtTable(val ep: BtEndpoint) extends Table with SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDelete
  with WireScanTable {
  override def name(): String =
    s"${SourceRegistry.CatalogName}.${ep.source}.${ep.table}"
  override def schema(): StructType = ep.schema
  override def capabilities(): util.Set[TableCapability] =
    util.Set.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new BtScanBuilder(ep, WireFanout.hintFrom(options))

  /** INSERT INTO: tasks stream `:mutateRows` batches of cell-set
    * mutations — a BigTable Put is an upsert on the row key
    * (`sql_to_bt.go:242-300` builds the same per-column mutation). */
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new WireBatchWrite(new BtWriterFactory(ep.spec, ep.schema.json))

  /** DELETE FROM ... WHERE: row keys only — a BigTable delete is a
    * per-row DeleteRow mutation addressed by key
    * (`sql_to_bt.go:404-430`); range/prefix deletes are an admin-API
    * concern, so any other WHERE shape, a bare IS NOT NULL (it pins no
    * keys) or a non-String key refuses. */
  private def rowKeys(filters: Array[Filter]): Option[Set[String]] =
    PushedFilter.keySet(filters, ep.keyCol) {
      case s: String => Some(s)
      case _ => None
    }
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    rowKeys(filters).isDefined
  override def deleteWhere(filters: Array[Filter]): Unit = {
    // the filters are a CONJUNCTION: intersect the key sets (k = 'a'
    // AND k IN ('a','b') deletes only 'a'; a contradiction deletes
    // nothing) — a union here would delete rows the WHERE never matched
    val keys = rowKeys(filters).getOrElse(Set.empty).toSeq.sorted
    if (keys.isEmpty) return // provably-empty conjunction: no request
    val M = EsDsl.M
    val body = M.createObjectNode()
    val entries = body.putArray("entries")
    val b64 = (x: String) =>
      java.util.Base64.getEncoder.encodeToString(x.getBytes("UTF-8"))
    keys.foreach { k =>
      val e = entries.addObject()
      e.put("rowKey", b64(k))
      e.put("deleteFromRow", true)
    }
    val client = new HttpRestClient(ep.spec.baseUrl, ep.spec.cfg)
    client.postJson(s"/bt/${ep.spec.table}:mutateRows", body.toString)
  }
}

class BtWriterFactory(spec: BtEndpointSpec, schemaJson: String)
  extends HttpBatchWriterFactory(spec.baseUrl, spec.cfg, schemaJson) {
  override protected def send(client: HttpRestClient, schema: StructType,
      rows: Seq[org.apache.spark.sql.Row]): Unit = {
    val M = EsDsl.M
    val b64 = (x: String) =>
      java.util.Base64.getEncoder.encodeToString(x.getBytes("UTF-8"))
    val ki = schema.fieldNames.indexWhere(_.equalsIgnoreCase(spec.keyCol))
    val body = M.createObjectNode()
    val entries = body.putArray("entries")
    rows.foreach { row =>
      require(!row.isNullAt(ki), "row key must not be null")
      val e = entries.addObject()
      e.put("rowKey", b64(String.valueOf(row.get(ki))))
      val cells = e.putObject("cells")
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        if (i != ki && !row.isNullAt(i))
          cells.put(f.name, b64(LineCodec.render(row.get(i))))
      }
    }
    client.postJson(s"/bt/${spec.table}:mutateRows", body.toString)
  }
}

class BtScanBuilder(ep: BtEndpoint, hint: Option[Int] = None) extends ScanBuilder
  with PushedFilter
  with SupportsPushDownRequiredColumns
  with SupportsPushDownLimit
  with SupportsPushDownTopN {

  private var rowSet: BtQuery.RowSet = BtQuery.RowSet(Seq(("", "")), Nil)
  private var required: StructType = ep.schema
  private var limit: Int = -1
  private var reversed = false
  private var sortedByKey = false

  override protected def acceptFilters(filters: Array[Filter]): collection.Seq[Filter] = {
    val accepted = filters.flatMap(f => BtQuery.compileOne(f, ep.keyCol).map(f -> _))
    rowSet = BtQuery.intersect(accepted.map(_._2).toSeq)
    // row keys exist: an IS NOT NULL on the key is free
    accepted.map(_._1) ++ PushedFilter.notNulls(filters, Seq(ep.keyCol))
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushLimit(n: Int): Boolean = { limit = n; true }
  override def isPartiallyPushed(): Boolean = true

  /** BigTable's ONE ordering is the row key: scans stream key-sorted,
    * and descending rides the public ReadRowsRequest `reversed` flag.
    * Accept when the FIRST sort key is the key column — row keys are
    * unique, so later sort keys are dead tiebreakers that can never
    * fire, and null ordering is vacuous (keys are never null). String
    * row keys compare byte-lexicographically in both engines (UTF-8 ==
    * UTF8String order). PARTIAL: each slice answers its first/last n
    * in key order and Spark re-sorts — at scale a top-n-by-key reads n
    * rows per shard instead of the table. */
  override def pushTopN(so: Array[SortOrder], n: Int): Boolean =
    PushedWindow.keys(so.take(1))(PushedWindow.byName(Seq(ep.keyCol -> ()))) match {
      case Some(Seq(k)) =>
        reversed = k.desc
        sortedByKey = true
        limit = n
        true
      case _ => false
    }

  override def build(): Scan =
    new BtScan(ep, required, rowSet, limit, pushed, hint,
      reversed = reversed, sorted = sortedByKey)
}

class BtScan(ep: BtEndpoint, required: StructType, rowSet: BtQuery.RowSet,
    limit: Int, pushed: Array[Filter], hint: Option[Int] = None,
    reversed: Boolean = false, sorted: Boolean = false)
  extends Scan with Batch with WireRuntimeFilter[String] {

  // ---- runtime semi-join reduction ([[WireRuntimeFilter]]) ---------------
  // BigTable's explicit rowKeys row set IS the semi-join reducer: a
  // broadcast dim's distinct join keys (the first predicate's) become one
  // point-lookup batch instead of a sampled-range sweep. Only the ROW KEY
  // column qualifies (everything else lives in cells the service cannot
  // filter by), and the runtime keys INTERSECT the statically-compiled
  // row set — a contradiction reads nothing at all.

  @volatile private var runtimeKeys: Option[Seq[String]] = None

  override protected def delegatesOrderedWindow: Boolean = PushedWindow.ordered(sorted, 0)

  override protected def runtimeFilterColumns: Seq[String] =
    required.fieldNames.find(_.equalsIgnoreCase(ep.keyCol)).toSeq

  override protected def renderRuntimeKey(key: Any): Option[String] = key match {
    case s: String => Some(s)
    case _ => None
  }

  override protected def applyRuntimeFilter(sets: Seq[(String, Seq[String])]): String = {
    val keys = sets.head._2.distinct.sorted
    runtimeKeys = Some(keys)
    s"rowKeys[${keys.size}]"
  }

  /** The static row set intersected with any runtime semi-join keys. */
  private def effectiveRowSet: BtQuery.RowSet = runtimeKeys match {
    case Some(ks) => BtQuery.intersect(Seq(rowSet, BtQuery.RowSet(Nil, ks)))
    case None => rowSet
  }

  override def readSchema(): StructType = required

  override def description(): String =
    s"GraftBtScan endpoint=${ep.source}/${ep.table} " +
      s"rowSet=${rowSet} limit=$limit " +
      s"PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${required.catalogString}"

  override def toBatch: Batch = this

  /** Range scans fan out along sampled key boundaries: the planner asks
    * the service for `:sampleRowKeys` (the data API's split-point RPC —
    * the same call the real BigTable parallel readers build their shard
    * map from), thins the samples to the fan-out, and clamps the
    * compiled row set to each boundary interval. Explicit-key reads stay
    * one partition (a rowKeys get is already a point lookup batch). */
  override def planInputPartitions(): Array[InputPartition] = {
    val rs = effectiveRowSet // static pushdown ∩ runtime semi-join keys
    // a provably-empty row set reads nothing — zero partitions, no
    // request (an empty RowSet proto would mean full scan server-side)
    if (rs == BtQuery.Empty) return Array.empty
    def single = Array[InputPartition](
      BtPartition(ep.spec, rs.ranges, rs.keys, limit, required.json, reversed))
    val n = WireFanout.effective(ep.fanout, hint)
    if (n <= 1 || rs.keys.nonEmpty) return single
    val samples =
      try BtQuery.sampleRowKeys(ep.spec)
      catch { case _: Exception => Nil } // planning survives a split-RPC hiccup
    val pts = WireFanout.thin(samples.toIndexedSeq, n)
    if (pts.isEmpty) return single
    val parts = WireFanout.ranges(pts).flatMap { case (lo, hi) =>
      val clamped = rs.ranges.flatMap(
        BtQuery.clamp(_, lo.getOrElse(""), hi.getOrElse("")))
      if (clamped.isEmpty) None
      else Some(BtPartition(ep.spec, clamped, Nil, limit, required.json,
        reversed): InputPartition)
    }
    if (parts.isEmpty) Array.empty else parts.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new BtReaderFactory
}

final case class BtPartition(spec: BtEndpointSpec, ranges: Seq[(String, String)],
    keys: Seq[String], limit: Int, requiredSchemaJson: String,
    reversed: Boolean = false) extends InputPartition

class BtReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[BtPartition]
    val required = DataType.fromJson(p.requiredSchemaJson).asInstanceOf[StructType]
    val client = new HttpRestClient(p.spec.baseUrl, p.spec.cfg)
    val conv = CatalystTypeConverters.createToCatalystConverter(required)
    val M = EsDsl.M
    val rs = BtQuery.RowSet(p.ranges, p.keys)
    // chunk pages resume with startKeyOpen = last row key received —
    // the real ReadRows retry/resume contract
    val pages: Iterator[Iterator[JsonNode]] = new Iterator[Iterator[JsonNode]] {
      private var resumeKey = ""
      private var done = false
      private var received = 0
      override def hasNext: Boolean = !done && (p.limit < 0 || received < p.limit)
      override def next(): Iterator[JsonNode] = {
        val lim = if (p.limit > 0) p.limit - received else -1
        val body = BtQuery.requestJson(rs, lim, resumeKey, p.reversed)
        val resp = M.readTree(client.postJson(s"/bt/${p.spec.table}:readRows", body))
        val rows = resp.path("rows").elements().asScala.toSeq
        if (rows.isEmpty || resp.path("lastRowKey").asText("").isEmpty) done = true
        else resumeKey = BtQuery.unb64(resp.path("lastRowKey").asText())
        if (!resp.path("moreRows").asBoolean(false)) done = true
        received += rows.size
        rows.iterator
      }
    }
    val it = pages.flatten.map { row =>
      val cells = row.path("cells")
      conv(Row.fromSeq(required.fields.toSeq.map { f =>
        val c = cells.path(f.name)
        if (c.isMissingNode || c.isNull) null
        else LineCodec.parse(BtQuery.unb64(c.asText()), f.dataType)
      })).asInstanceOf[InternalRow]
    }
    IteratorReader(it)
  }
}
