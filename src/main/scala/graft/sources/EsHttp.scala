package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.expressions.SortOrder
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Elasticsearch-protocol connector: the SQL→query-DSL translation the
  * reference's ES backend performs (`backends/elasticsearch/sqltoes.go:
  * 112-279` compiles WHERE into bool/term/range/wildcard/exists JSON;
  * :285-365 compiles aggregates into terms+stats aggs; `esresults.go`
  * walks hits and buckets) — here compiled client-side, POSTed over a
  * REAL socket to the `_search` endpoint, and decoded back into rows.
  *
  * Pushdown surface (the ES accept-list):
  *   - filters: `=` → term, IN → terms, ranges → range, LIKE-shapes →
  *     wildcard, IS [NOT] NULL → exists, AND/OR → bool must/should,
  *     `!=`/NOT(=) → bool must_not(term) + must(exists) — the exists
  *     conjunct restores SQL's 3VL (ES must_not alone would match
  *     missing-field docs). Anything else is declined and polyfilled.
  *   - aggregations: single-key terms buckets (or global stats) carrying
  *     count/value_count/min/max/sum/avg, executed server-side and
  *     consumed COMPLETE — the scan emits final buckets and Spark plans
  *     no aggregate, exactly the reference's server-side agg execution.
  *     Multi-key GROUP BY and distinct aggs are declined (the real ES
  *     shape for those is the composite agg — out of surface).
  *   - limit: rides as `size` (partial — Spark trims again).
  *
  * Executor-safe by construction: partitions carry the endpoint spec +
  * compiled DSL (plain strings), and the reader builds its own pooled
  * client — no driver-registry lookups ([[ClusterSmoke]] enforces this).
  *
  * 100 TB: pushed filters/aggs execute inside the backend (the point of
  * the translation). Un-aggregated hit scans fan out as N sliced-scroll
  * partitions (ES's parallel-scan API — `slice` is only legal in a
  * scroll context, so each task opens `?scroll=` and pages through
  * `/_search/scroll`); a single-partition read pages `from`/`size`.
  */
object EsDsl {

  private[graft] val M = new ObjectMapper()

  /** Compile one Spark filter to a DSL node; None = not expressible. */
  def compile(f: Filter): Option[ObjectNode] = f match {
    case EqualTo(a, v) if v != null => Some(leaf("term", a, v))
    case EqualNullSafe(a, v) if v != null => Some(leaf("term", a, v))
    case In(a, vs) if vs != null && vs.nonEmpty && !vs.contains(null) =>
      val o = M.createObjectNode()
      val arr = o.putObject("terms").putArray(a)
      vs.foreach(v => putVal(arr, v))
      Some(o)
    case GreaterThan(a, v) if v != null => Some(range(a, "gt", v))
    case GreaterThanOrEqual(a, v) if v != null => Some(range(a, "gte", v))
    case LessThan(a, v) if v != null => Some(range(a, "lt", v))
    case LessThanOrEqual(a, v) if v != null => Some(range(a, "lte", v))
    case StringStartsWith(a, v) => Some(wildcard(a, esc(v) + "*"))
    case StringEndsWith(a, v) => Some(wildcard(a, "*" + esc(v)))
    case StringContains(a, v) => Some(wildcard(a, "*" + esc(v) + "*"))
    case IsNotNull(a) => Some(exists(a))
    case IsNull(a) =>
      Some(bool(mustNot = Seq(exists(a))))
    case And(l, r) =>
      for (cl <- compile(l); cr <- compile(r)) yield bool(must = Seq(cl, cr))
    case Or(l, r) =>
      for (cl <- compile(l); cr <- compile(r)) yield bool(should = Seq(cl, cr))
    case Not(EqualTo(a, v)) if v != null =>
      // SQL `a != v`: must_not(term) alone matches docs with a missing —
      // the exists conjunct keeps 3VL (NULL != v is not TRUE)
      Some(bool(must = Seq(exists(a)), mustNot = Seq(leaf("term", a, v))))
    case _ => None
  }

  def compileAll(filters: Seq[ObjectNode]): ObjectNode =
    if (filters.size == 1) filters.head else bool(must = filters)

  private def esc(v: String): String = v.replace("\\", "\\\\")
    .replace("*", "\\*").replace("?", "\\?")

  private def putVal(arr: ArrayNode, v: Any): Unit = v match {
    case null => arr.addNull()
    case b: Boolean => arr.add(b)
    case i: Int => arr.add(i)
    case l: Long => arr.add(l)
    case d: Double => arr.add(d)
    case f: Float => arr.add(f.toDouble)
    case s: Short => arr.add(s.toInt)
    case other => arr.add(other.toString)
  }

  private def setVal(o: ObjectNode, k: String, v: Any): Unit = v match {
    case null => o.putNull(k)
    case b: Boolean => o.put(k, b)
    case i: Int => o.put(k, i)
    case l: Long => o.put(k, l)
    case d: Double => o.put(k, d)
    case f: Float => o.put(k, f.toDouble)
    case s: Short => o.put(k, s.toInt)
    case other => o.put(k, other.toString)
  }

  private def leaf(kind: String, field: String, v: Any): ObjectNode = {
    val o = M.createObjectNode()
    setVal(o.putObject(kind), field, v)
    o
  }

  private def range(field: String, op: String, v: Any): ObjectNode = {
    val o = M.createObjectNode()
    setVal(o.putObject("range").putObject(field), op, v)
    o
  }

  private def wildcard(field: String, pattern: String): ObjectNode = {
    val o = M.createObjectNode()
    o.putObject("wildcard").put(field, pattern)
    o
  }

  private def exists(field: String): ObjectNode = {
    val o = M.createObjectNode()
    o.putObject("exists").put("field", field)
    o
  }

  private def bool(must: Seq[ObjectNode] = Nil, should: Seq[ObjectNode] = Nil,
      mustNot: Seq[ObjectNode] = Nil): ObjectNode = {
    val o = M.createObjectNode()
    val b = o.putObject("bool")
    if (must.nonEmpty) { val a = b.putArray("must"); must.foreach(a.add) }
    if (should.nonEmpty) {
      val a = b.putArray("should"); should.foreach(a.add)
      b.put("minimum_should_match", 1)
    }
    if (mustNot.nonEmpty) { val a = b.putArray("must_not"); mustNot.foreach(a.add) }
    o
  }

  // ---- server-side evaluation -------------------------------------------

  /** Evaluate a query node against an external-typed row (the loopback
    * backend's executor — a real deployment's ES does this natively). */
  def eval(node: JsonNode, row: Array[Any], schema: StructType,
      textFields: Map[String, Boolean] = Map.empty): Boolean = {
    // a real index resolves `f.keyword` to the raw (un-analyzed) value
    // when the text field f declares the keyword multi-field; a path
    // with no mapping matches nothing (ES: unmapped field). A RAW
    // reference to a text field hits the ANALYZED terms: term-level
    // queries compare against lowercased whitespace tokens, never the
    // original value — the silent-wrongness hazard the client-side
    // decline/retarget guard exists for.
    // dotted-path lookup through nested struct columns (the reference's
    // own fixture shape has `repository.name`-style text subfields):
    // (value — null if the row's struct chain is null —, declared type),
    // or None for a path the mapping doesn't know
    def fieldAt(path: String): Option[(Any, DataType)] = {
      val parts = path.split('.')
      val i = schema.fieldNames.indexWhere(_.equalsIgnoreCase(parts(0)))
      if (i < 0) return None
      var cur: Any = row(i)
      var dt: DataType = schema.fields(i).dataType
      var k = 1
      while (k < parts.length) {
        dt match {
          case st: StructType =>
            val j = st.fieldNames.indexWhere(_.equalsIgnoreCase(parts(k)))
            if (j < 0) return None
            dt = st.fields(j).dataType
            cur = cur match {
              case r: org.apache.spark.sql.Row => r.get(j)
              case _ => null // null struct up the chain: field exists, value null
            }
          case _ => return None // non-struct mid-path: unmapped
        }
        k += 1
      }
      Some((cur, dt))
    }
    def resolve(name: String): (Option[(Any, DataType)], Boolean) = {
      val lc = name.toLowerCase
      if (lc.endsWith(".keyword")) {
        val base = lc.stripSuffix(".keyword")
        if (textFields.get(base).contains(true)) (fieldAt(base), false)
        else (None, false) // unmapped path: matches nothing
      } else (fieldAt(name), textFields.contains(lc))
    }
    def value(name: String): Any =
      resolve(name)._1.map(_._1).orNull
    def tokens(v: Any): Seq[String] =
      v.toString.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty)
    def cmpAll(name: String, jv: JsonNode): Seq[Int] = {
      resolve(name) match {
        case (Some((v, dt)), analyzed) if v != null =>
          if (analyzed) tokens(v).flatMap(t => FilterEval.cmp(t, jv.asText()))
          else FilterEval.cmp(v, LineCodec.parse(jv.asText(), dt)).toSeq
        case _ => Nil
      }
    }
    val it = node.properties().iterator()
    if (!it.hasNext) return true
    val e = it.next()
    e.getKey match {
      case "match_all" => true
      case "term" =>
        val f = e.getValue.properties().iterator().next()
        cmpAll(f.getKey, f.getValue).contains(0)
      case "terms" =>
        val f = e.getValue.properties().iterator().next()
        f.getValue.elements().asScala.exists(v => cmpAll(f.getKey, v).contains(0))
      case "range" =>
        val f = e.getValue.properties().iterator().next()
        val bounds = f.getValue.properties().asScala.toSeq
        def sat(c: Int, k: String): Boolean = k match {
          case "gt" => c > 0; case "gte" => c >= 0
          case "lt" => c < 0; case "lte" => c <= 0
          case _ => false
        }
        resolve(f.getKey) match {
          case (Some((v, dt)), analyzed) if v != null =>
            if (analyzed)
              // Lucene evaluates a range against INDIVIDUAL terms: ONE
              // token must satisfy every bound — per-bound independent
              // matching (token A > gt, token B < lt) would admit docs
              // real ES rejects
              tokens(v).exists(t => bounds.forall(b =>
                FilterEval.cmp(t, b.getValue.asText()).exists(sat(_, b.getKey))))
            else bounds.forall(b =>
              FilterEval.cmp(v, LineCodec.parse(b.getValue.asText(), dt))
                .exists(sat(_, b.getKey)))
          case _ => false
        }
      case "wildcard" =>
        val f = e.getValue.properties().iterator().next()
        resolve(f.getKey) match {
          case (Some((s: String, _)), analyzed) =>
            if (analyzed) tokens(s).exists(wildcardMatch(_, f.getValue.asText()))
            else wildcardMatch(s, f.getValue.asText())
          case _ => false
        }
      case "exists" => value(e.getValue.get("field").asText()) != null
      case "bool" =>
        val b = e.getValue
        def arr(k: String): Seq[JsonNode] =
          Option(b.get(k)).map(_.elements().asScala.toSeq).getOrElse(Nil)
        arr("must").forall(eval(_, row, schema, textFields)) &&
          arr("must_not").forall(!eval(_, row, schema, textFields)) &&
          (arr("should").isEmpty ||
            arr("should").exists(eval(_, row, schema, textFields)))
      case other => throw new IllegalArgumentException(s"unsupported query node: $other")
    }
  }

  /** ES wildcard semantics: `*` any run, `?` any one char, `\` escapes. */
  def wildcardMatch(s: String, pattern: String): Boolean = {
    val rx = new StringBuilder("(?s)^")
    var i = 0
    while (i < pattern.length) {
      pattern.charAt(i) match {
        case '\\' if i + 1 < pattern.length =>
          rx.append(java.util.regex.Pattern.quote(pattern.charAt(i + 1).toString)); i += 1
        case '*' => rx.append(".*")
        case '?' => rx.append(".")
        case c => rx.append(java.util.regex.Pattern.quote(c.toString))
      }
      i += 1
    }
    rx.append("$")
    s.matches(rx.toString)
  }
}

/** Serializable ES endpoint pointer (executor JVMs rebuild the client).
  * `slices` = default scan fan-out via ES's sliced parallel-read API
  * (each task ships `"slice": {id, max}` with its requests).
  * `cardinalityThreshold` = the precision_threshold shipped with pushed
  * cardinality aggregations (ES caps it at 40000).
  * `paging` picks the hit-scan mechanism:
  *   - `"pit"` (default): point-in-time + `search_after` — the documented
  *     deep-pagination API. Stateless continuations (the sort cursor is
  *     client-held), so a lost-response RETRY re-reads the same page —
  *     safe where a scroll retry would skip one — and `from`'s
  *     max_result_window cap (10 000 by default on a real cluster) never
  *     applies. Slicing works the same as in a scroll context.
  *   - `"scroll"`: the legacy sliced-scroll path (server-held cursor;
  *     continuations must not retry) with from/size for single-stream
  *     reads — kept for pre-PIT clusters (< ES 7.10). */
final case class EsEndpointSpec(baseUrl: String, table: String, cfg: WireClientConfig,
    slices: Int = 1, cardinalityThreshold: Int = 40000,
    paging: String = EsEndpointSpec.DefaultPaging,
    /** Buckets per composite-aggregation page (after_key cursor). */
    compositePageSize: Int = 1000) {
  // stringly-typed discriminator: an unknown value would silently fall
  // through to the legacy arms (and from/size would reintroduce the
  // max_result_window cap on deep scans) — refuse at construction
  require(EsEndpointSpec.PagingModes.contains(paging),
    s"paging must be one of ${EsEndpointSpec.PagingModes.mkString("'", "'/'", "'")}, " +
      s"got '$paging'")
}

object EsEndpointSpec {
  /** The one whitelist CREATE SOURCE validation and construction share. */
  val PagingModes: Set[String] = Set("pit", "scroll")
  val DefaultPaging = "pit"
}

/** `analyzed` = text-typed columns (lowercase) mapped to their `.keyword`
  * retarget path when the mapping declares the multi-field, or None —
  * operations needing exact values (term-level filters, terms buckets,
  * value_count/cardinality) retarget through it or DECLINE (real ES
  * disables fielddata on text: pushing anyway 400s or silently matches
  * analyzed tokens). */
final case class EsEndpoint(source: String, table: String, schema: StructType,
    spec: EsEndpointSpec, analyzed: Map[String, Option[String]] = Map.empty)
  extends WireEndpoint {
  def newTable(): Table = new EsTable(this)
}

class EsTable(val ep: EsEndpoint) extends Table with SupportsRead with WireScanTable {
  override def name(): String =
    s"${SourceRegistry.CatalogName}.${ep.source}.${ep.table}"
  override def schema(): StructType = ep.schema
  override def capabilities(): util.Set[TableCapability] =
    util.Set.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new EsScanBuilder(ep, WireFanout.hintFrom(options),
      options.getBoolean(EsTable.ApproxDistinctOption, false))
}

object EsTable {
  /** Read option opting a scan into APPROXIMATE distinct-count pushdown
    * (the dialect's explicitly-approximate `cardinality()` spelling —
    * the reference maps only that function to the ES cardinality agg,
    * sqltoes.go:599-611, never exact COUNT(DISTINCT)). */
  val ApproxDistinctOption = "graft.approx_distinct"

  /** The documented default `index.max_result_window`: a plain search
    * refuses from+size beyond it, so a pushed sorted window must fit. */
  val MaxResultWindow = 10000
}

class EsScanBuilder(ep: EsEndpoint, hint: Option[Int] = None,
    approxDistinct: Boolean = false) extends ScanBuilder
  with PushedFilter
  with SupportsPushDownRequiredColumns
  with SupportsPushDownLimit
  with SupportsPushDownTopN
  with SupportsPushDownAggregates {

  private var required: StructType = ep.schema
  private var limit: Int = -1
  private var orders: Seq[SortKey[String]] = Nil // target: the server field
  private var agg: Option[(Seq[Int], Seq[AggDef])] = None
  // TopN over a pushed aggregate; target: the group's OUTPUT position
  private var aggOrders: Seq[SortKey[Int]] = Nil

  /** The field name a server-side exact-value operation must target:
    * analyzed (text) columns retarget to their `.keyword` multi-field;
    * None when the column is text WITHOUT one — the operation must not
    * push (real ES disables fielddata on text: aggs/sorts 400, and
    * term-level queries silently match analyzed tokens, not the value). */
  private def serverField(name: String): Option[String] =
    ep.analyzed.get(name.toLowerCase) match {
      case None => Some(name) // not analyzed: target the field itself
      case Some(kw) => kw
    }

  /** A filter tree with its exact-value references retargeted through
    * [[serverField]]; None when any reference lands on a text column
    * with no keyword sub-field (the filter then declines and Spark
    * polyfills it over the hit scan). exists/missing (IS [NOT] NULL)
    * keep the raw field — real ES serves `exists` on text directly. */
  private def serverFilter(f: Filter): Option[Filter] =
    PushedFilter.mapRefs(f, rawNullTests = true)(serverField)

  override protected def acceptFilters(filters: Array[Filter]): collection.Seq[Filter] =
    filters.filter(f => serverFilter(f).exists(rf => EsDsl.compile(rf).isDefined))

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** `size` caps the first page; partial — a real ES caps page sizes. */
  override def pushLimit(n: Int): Boolean = { limit = n; true }
  override def isPartiallyPushed(): Boolean = true

  /** ORDER BY + LIMIT rides the search body's `sort` array with an
    * explicit `missing` placement (`_first`/`_last` gives EXACT Spark
    * null ordering for any direction combo — the real default is
    * `_last`). A sorted window is ONE coordinated search: the cluster
    * merges per-shard top-n, so client-side fan-out would only re-read
    * what the server already reduced — the scan collapses to a single
    * plain request (EsScan.planInputPartitions) bounded by the
    * documented 10k result window; larger windows decline and polyfill.
    * Analyzed text retargets to `.keyword` or declines (fielddata is
    * disabled on text — a raw-text sort answers 400). Still PARTIAL
    * (Spark re-sorts the n returned rows): a real cluster caps page
    * sizes, and correctness must never hang on server sort nuances. */
  override def pushTopN(so: Array[SortOrder], n: Int): Boolean = {
    if (agg.isDefined) return pushAggTopN(so, n)
    if (n > EsTable.MaxResultWindow) return false
    PushedWindow.keys(so)(name =>
      ep.schema.fieldNames.find(_.equalsIgnoreCase(name)).flatMap(serverField)) match {
      case Some(ks) => orders = ks; limit = n; true
      case None => false
    }
  }

  /** TopN over a pushed aggregate: sort keys that are GROUP columns ride
    * the composite aggregation's per-source `order`/`missing_order` (the
    * public fields), with the SOURCE ARRAY reordered so the sort keys
    * lead — composite pages stream in source order, so the reader can
    * stop after the page that completes n buckets instead of paging the
    * whole group space (the remaining group keys trail as ascending
    * tiebreak sources, which only REFINES the requested order — the
    * first n buckets still contain the true top-n). Sorts on aggregate
    * OUTPUTS decline: the terms/composite `order: {agg: ...}` shape is
    * per-shard approximate for metrics (doc_count_error_upper_bound is
    * the documented admission), never a contractual exact window. The
    * push stays PARTIAL (Spark re-sorts), and runtime group-key pruning
    * shuts off under it (the ordered-window soundness rule). */
  private def pushAggTopN(so: Array[SortOrder], n: Int): Boolean = {
    val (groupIdx, _) = agg.get
    if (groupIdx.isEmpty) return false // a global aggregate has no window
    val groupNames = groupIdx.map(i => ep.schema.fields(i).name)
    val flat = PushedWindow.keys(so)(PushedWindow.byName(groupNames.zipWithIndex))
      .getOrElse(return false)
    if (flat.map(_.target).distinct.size != flat.size) return false // dup sort key
    aggOrders = flat
    limit = n
    true
  }

  /** [[serverField]] by schema index (agg targets). */
  private def serverFieldIdx(i: Int): Option[String] =
    serverField(ep.schema.fields(i).name)

  /** [[PushedAgg.translate]] under ES's rules. A terms bucket, a
    * value_count and a cardinality need per-document field data: text
    * columns with no keyword sub-field decline (Spark plans the aggregate
    * itself). Min/max/avg are numeric metrics on real ES. Distinct counts
    * push as the ES `cardinality` aggregation ONLY under the explicit
    * approx opt-in (the dialect's cardinality()/approx_count_distinct
    * spelling — the reference maps exactly that function to the agg,
    * sqltoes.go:599-611). ES cardinality is HLL++-backed: documented as
    * "close to accurate" below precision_threshold and approximate beyond
    * it — never a contractual exact count. SQL's exact COUNT(DISTINCT)
    * therefore DECLINES here and polyfills engine-side over the hit scan;
    * a silent approximation past 40k distincts per group is a
    * scale-correctness bug this guard exists to prevent. One group key
    * rides terms buckets; two or more the composite aggregation (the
    * public multi-source bucket API, paged by after_key). */
  private def pushedAgg(a: Aggregation): Option[(Seq[Int], Seq[AggDef])] = {
    import AggFn._
    def hasField(f: StructField) = serverField(f.name).isDefined
    PushedAgg.translate(a, ep.schema, hasField, {
      case (Count, f) => hasField(f)
      case (CountDistinct, f) => approxDistinct && hasField(f)
      case (Min | Max | Avg, f) => f.dataType.isInstanceOf[NumericType]
      case _ => true
    })
  }

  /** ES aggs execute server-side and return FINAL buckets (the reference
    * consumes them as final results, esresults.go) — complete pushdown. */
  override def supportCompletePushDown(a: Aggregation): Boolean =
    pushedAgg(a).isDefined
  override def pushAggregation(a: Aggregation): Boolean =
    pushedAgg(a) match {
      case Some(t) => agg = Some(t); true
      case None => false
    }

  override def build(): Scan = {
    val dsl = EsDsl.compileAll(
      pushed.toSeq.flatMap(serverFilter).flatMap(EsDsl.compile) match {
        case Nil => Seq({ val o = EsDsl.M.createObjectNode(); o.putObject("match_all"); o })
        case fs => fs
      })
    agg match {
      case Some((groupIdx, aggs)) =>
        val body = EsDsl.M.createObjectNode()
        body.set[ObjectNode]("query", dsl)
        body.put("size", 0)
        val metrics = EsDsl.M.createObjectNode()
        // COUNT(*) needs no metric: it is the bucket's doc_count
        aggs.zipWithIndex.filter(_._1.col >= 0).foreach { case (d, i) =>
          val mo = metrics.putObject(s"agg_$i").putObject(d.fn match {
            case AggFn.Count => "value_count"
            case AggFn.CountDistinct => "cardinality"
            case AggFn.Sum => "sum"
            case _ => d.tag
          })
          // pushedAgg() only accepts columns with a server target
          val target = serverFieldIdx(d.col).get
          mo.put("field", target)
          if (d.fn == AggFn.CountDistinct)
            mo.put("precision_threshold", ep.spec.cardinalityThreshold)
          // ES sum over zero docs is 0.0, SQL SUM is NULL: a companion
          // value_count disambiguates (the reader nulls a 0-count sum)
          if (d.fn == AggFn.Sum)
            metrics.putObject(s"agg_${i}_n").putObject("value_count")
              .put("field", target)
        }
        val aggsNode = body.putObject("aggs")
        groupIdx match {
          case Seq(g) if aggOrders.isEmpty =>
            val by = aggsNode.putObject("by")
            // pushedAgg() only accepts group keys with a server target
            val groupTarget = serverFieldIdx(g).get
            by.putObject("terms").put("field", groupTarget)
              .put("size", Int.MaxValue)
            if (!metrics.isEmpty) by.set[ObjectNode]("aggs", metrics)
            // SQL GROUP BY keeps the NULL group; ES terms buckets omit
            // docs missing the field — a sibling `missing` aggregation
            // (the real ES feature for exactly this) carries them
            val nulls = aggsNode.putObject("nulls")
            nulls.putObject("missing").put("field", groupTarget)
            if (!metrics.isEmpty) nulls.set[ObjectNode]("aggs", metrics)
          case Seq() =>
            metrics.properties().asScala.foreach(e =>
              aggsNode.set[JsonNode](e.getKey, e.getValue))
          case keys =>
            // MULTI-KEY groups (and any ORDERED grouped window) ride the
            // public composite aggregation: one terms source per key,
            // missing_bucket carrying the SQL NULL group natively, paged
            // by after_key (the reader's cursor loop) so the bucket
            // count is never capped by one response. Under a pushed
            // TopN the SOURCE ARRAY leads with the sort keys (composite
            // pages stream in source order — the public per-source
            // `order`/`missing_order` fields), the remaining group keys
            // trail as ascending tiebreaks, and the page size caps at
            // the window so the reader stops after ⌈n/size⌉ pages.
            // Source NAMES stay bound to the OUTPUT position (k<pos>),
            // so the reader's key decode is order-independent.
            val by = aggsNode.putObject("by")
            val comp = by.putObject("composite")
            val pageSize =
              if (limit > 0) math.min(ep.spec.compositePageSize, limit)
              else ep.spec.compositePageSize
            comp.put("size", pageSize)
            val srcs = comp.putArray("sources")
            val lead = aggOrders.map(_.target)
            val srcOrder = lead ++ keys.indices.filterNot(lead.contains)
            srcOrder.foreach { outPos =>
              val t = srcs.addObject().putObject(s"k$outPos").putObject("terms")
              t.put("field", serverFieldIdx(keys(outPos)).get)
              t.put("missing_bucket", true)
              aggOrders.find(_.target == outPos).foreach { k =>
                t.put("order", if (k.desc) "desc" else "asc")
                t.put("missing_order", if (k.nullsFirst) "first" else "last")
              }
            }
            if (!metrics.isEmpty) by.set[ObjectNode]("aggs", metrics)
        }
        new EsScan(ep, required = PushedAgg.outSchema(ep.schema, groupIdx, aggs),
          dslBody = body.toString, pushed = pushed, aggMode = true,
          aggs = aggs, groupCount = groupIdx.size,
          limit = if (aggOrders.nonEmpty) limit else -1,
          hint = hint, sorted = aggOrders.nonEmpty)
      case None =>
        val body = EsDsl.M.createObjectNode()
        body.set[ObjectNode]("query", dsl)
        if (orders.nonEmpty) {
          val sortArr = body.putArray("sort")
          orders.foreach { k =>
            val o = sortArr.addObject().putObject(k.target)
            o.put("order", if (k.desc) "desc" else "asc")
            o.put("missing", if (k.nullsFirst) "_first" else "_last")
          }
        }
        new EsScan(ep, required, body.toString, pushed,
          aggMode = false, aggs = Nil, groupCount = 0, limit = limit,
          hint = hint, sorted = orders.nonEmpty)
    }
  }
}

class EsScan(ep: EsEndpoint, required: StructType, dslBody: String,
    pushed: Array[Filter], aggMode: Boolean, aggs: Seq[AggDef],
    groupCount: Int, limit: Int, hint: Option[Int] = None,
    sorted: Boolean = false)
  extends Scan with Batch with WireRuntimeFilter[JsonNode] {

  override def readSchema(): StructType = required

  /** A pushed limit (the search `size`, or the bucket cap of an ordered
    * aggregate) prints as `limit=`; a scan without one prints none. */
  override def description(): String =
    s"GraftEsScan endpoint=${ep.source}/${ep.table} agg=$aggMode " +
      s"query=$dslBody ${if (limit >= 0) s"limit=$limit " else ""}" +
      s"PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${required.catalogString}"

  override def toBatch: Batch = this

  // ---- runtime semi-join reduction ([[WireRuntimeFilter]]) ---------------
  // each accepted key set becomes a `terms` filter; all of them AND onto
  // the shipped query. Under agg pushdown only GROUP-KEY pruning is
  // offered (dropping whole buckets the join above would drop anyway).

  @volatile private var runtimeTerms: Seq[ObjectNode] = Nil

  /** Exact-value server target: the field itself, its `.keyword`
    * subfield for analyzed text, or None (decline — a terms filter on
    * analyzed tokens would drop rows whose VALUE matches). */
  private def serverTarget(name: String): Option[String] =
    ep.analyzed.get(name.toLowerCase) match {
      case None => Some(name)
      case Some(kw) => kw
    }

  // a pushed sorted window must never gain a filter beneath it: even
  // under the PARTIAL contract Spark re-applies its Sort/Limit BELOW the
  // join, so a runtime filter here would window the filtered subset
  override protected def delegatesOrderedWindow: Boolean = PushedWindow.ordered(sorted, 0)

  override protected def runtimeFilterColumns: Seq[String] = {
    def jsonExact(dt: DataType): Boolean = dt match {
      case ShortType | IntegerType | LongType | FloatType | DoubleType |
           BooleanType | StringType => true
      case _ => false
    }
    val candidates =
      if (aggMode) required.fields.take(groupCount).toSeq else required.fields.toSeq
    candidates
      .filter(f => jsonExact(f.dataType) && serverTarget(f.name).isDefined)
      .map(_.name)
  }

  override protected def renderRuntimeKey(key: Any): Option[JsonNode] = {
    val n = EsDsl.M.getNodeFactory
    Some(key match {
      case null => n.nullNode()
      case b: java.lang.Boolean => n.booleanNode(b.booleanValue())
      case i: java.lang.Integer => n.numberNode(i.intValue())
      case l: java.lang.Long => n.numberNode(l.longValue())
      case d: java.lang.Double => n.numberNode(d.doubleValue())
      case f: java.lang.Float => n.numberNode(f.doubleValue())
      case s: java.lang.Short => n.numberNode(s.intValue())
      case s: String => n.textNode(s)
      case other => n.textNode(other.toString)
    })
  }

  override protected def applyRuntimeFilter(sets: Seq[(String, Seq[JsonNode])]): String = {
    runtimeTerms = sets.map { case (name, keys) =>
      val o = EsDsl.M.createObjectNode()
      val arr = o.putObject("terms").putArray(serverTarget(name).get)
      // null keys never survive the equi-join above, so they are
      // droppable here (and a terms filter can't carry null anyway)
      keys.filterNot(_.isNull).foreach(k => arr.add(k))
      o
    }
    runtimeTerms.map(_.toString).mkString(", ")
  }

  /** [[dslBody]] with any runtime terms ANDed onto its query. */
  private def effectiveBody: String =
    if (runtimeTerms.isEmpty) dslBody
    else {
      val body = EsDsl.M.readTree(dslBody).asInstanceOf[ObjectNode]
      val wrapped = EsDsl.M.createObjectNode()
      val must = wrapped.putObject("bool").putArray("must")
      // a body with no query node is an implicit match_all — the terms
      // alone become the query (adding a null node would be invalid DSL)
      val q = body.get("query")
      if (q != null && !q.isNull) must.add(q)
      runtimeTerms.foreach(must.add)
      body.set[ObjectNode]("query", wrapped)
      body.toString
    }

  /** Hit scans fan out with ES's sliced scroll (`"slice": {id, max}` —
    * the public parallel-read API; each slice is a disjoint, stable
    * subset of the index, so the union of slices is exactly the hit
    * set). Aggregation pushdown stays single-partition: ES cannot slice
    * an aggs request, and the COMPLETE-agg result is metadata-sized. */
  override def planInputPartitions(): Array[InputPartition] = {
    // a sorted window is one coordinated search (the cluster already
    // merged per-shard top-n): single partition, plain paging, no PIT
    val n = if (aggMode || sorted) 1 else WireFanout.effective(ep.spec.slices, hint)
    // PIT paging: open ONE point-in-time here on the driver and share its
    // id across every slice task — the documented sliced-PIT usage. Each
    // slice opening its own PIT would snapshot the index at a different
    // instant, so the slice union would be a torn read on a live index.
    // Nobody deletes it: tasks can die at any point and no DSv2 hook
    // marks end-of-scan, so lifetime is keep_alive-bounded (each page
    // request refreshes it) — the standard pattern for batch scans.
    // (Spark may plan a batch more than once — AQE plan copies — which
    // opens a surplus context that is never paged; it expires with its
    // keep_alive, same as a context left by a killed task.)
    val pitId: Option[String] =
      if (!aggMode && !sorted && ep.spec.paging == "pit") {
        val client = new HttpRestClient(ep.spec.baseUrl, ep.spec.cfg)
        Some(EsDsl.M.readTree(client.postJson(
          s"/es/${ep.spec.table}/_pit", "",
          Map("keep_alive" -> EsScan.PitKeepAlive))).path("id").asText())
      } else None
    val body = effectiveBody // static DSL ∧ runtime semi-join terms
    Array.tabulate(n) { i =>
      EsPartition(ep.spec, body, ep.schema.json, required.json,
        aggMode, aggs, groupCount, limit,
        sliceId = i, sliceMax = n, pitId = pitId, sorted = sorted)
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = new EsReaderFactory
}

final case class EsPartition(spec: EsEndpointSpec, dslBody: String,
    fullSchemaJson: String, requiredSchemaJson: String,
    aggMode: Boolean, aggs: Seq[AggDef], groupCount: Int,
    limit: Int, sliceId: Int = 0, sliceMax: Int = 1,
    pitId: Option[String] = None, sorted: Boolean = false) extends InputPartition

object EsScan {
  /** PIT keep_alive: refreshed by every page request, so it has to
    * outlive the longest GAP between touches, not the scan — and the
    * first gap is planning→first-task-launch (the PIT opens at
    * planInputPartitions; on a queued cluster the scan stage may not
    * start for a while). 5m covers realistic stage-queueing delay; a
    * scan stalled longer fails with the real 404 (retries can't help —
    * the snapshot is gone by definition) and the query re-runs. */
  val PitKeepAlive = "5m"
}

class EsReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[EsPartition]
    val full = DataType.fromJson(p.fullSchemaJson).asInstanceOf[StructType]
    val required = DataType.fromJson(p.requiredSchemaJson).asInstanceOf[StructType]
    val client = new HttpRestClient(p.spec.baseUrl, p.spec.cfg)
    val path = s"/es/${p.spec.table}/_search"
    val conv = CatalystTypeConverters.createToCatalystConverter(required)
    val baseBody = EsDsl.M.readTree(p.dslBody).asInstanceOf[ObjectNode]
    val isComposite = p.aggMode &&
      !baseBody.path("aggs").path("by").path("composite").isMissingNode
    val it: Iterator[InternalRow] =
      if (isComposite) {
        // composite aggregation: page buckets with the after_key cursor
        // until a short page — the documented exhaustive-bucket protocol
        // (one response never caps the group count). Under a pushed
        // ordered window (p.limit > 0) the sources stream in the
        // requested order, so paging stops at the page that completes
        // the window — ⌈n/size⌉ pages instead of the whole group space.
        val base = baseBody
        val pageSize = base.path("aggs").path("by").path("composite")
          .path("size").asInt(1000)
        def decodeKey(v: JsonNode, dt: DataType): Any =
          if (v.isNull || v.isMissingNode) null
          else dt match {
            case LongType => v.asLong()
            case IntegerType => v.asInt()
            case ShortType => v.asInt().toShort
            case DoubleType => v.asDouble()
            case FloatType => v.asDouble().toFloat
            case BooleanType => v.asBoolean()
            case StringType => v.asText()
            case other => LineCodec.parse(v.asText(), other)
          }
        // stream page-by-page: the after_key protocol is already a cursor,
        // so the reader holds exactly ONE page (≤ `size` buckets) in memory
        // at a time — a high-cardinality multi-key GROUP BY never
        // materializes the full grouped result in the executor
        val pages: Iterator[Seq[Row]] = new Iterator[Seq[Row]] {
          private var after: Option[JsonNode] = None
          private var done = false
          private var emitted = 0L
          override def hasNext: Boolean =
            !done && (p.limit < 0 || emitted < p.limit)
          override def next(): Seq[Row] = {
            val body = base.deepCopy()
            after.foreach(a => body.path("aggs").path("by").path("composite")
              .asInstanceOf[ObjectNode].set[JsonNode]("after", a))
            val resp = EsDsl.M.readTree(client.postJson(path, body.toString))
            val byN = resp.path("aggregations").path("by")
            val buckets = byN.path("buckets").elements().asScala.toSeq
            val rows = buckets.map { b =>
              val keyObj = b.path("key")
              val keys = (0 until p.groupCount).map(i =>
                decodeKey(keyObj.path(s"k$i"), required.fields(i).dataType))
              Row.fromSeq(keys ++ p.aggs.zipWithIndex.map { case (d, i) => metric(b, d, i) })
            }
            val ak = byN.path("after_key")
            if (buckets.size < pageSize || ak.isMissingNode || ak.isNull) done = true
            else after = Some(ak)
            emitted += rows.size
            rows
          }
        }
        pages.flatten.map(conv(_).asInstanceOf[InternalRow])
      } else if (p.aggMode) {
        val resp = EsDsl.M.readTree(client.postJson(path, p.dslBody))
        val rows: Iterator[Row] =
          if (p.groupCount == 1) {
            val buckets = resp.path("aggregations").path("by").path("buckets")
            val keyed = buckets.elements().asScala.map { b =>
              val key = LineCodec.parse(b.get("key").asText(), required.fields(0).dataType)
              Row.fromSeq(key +: p.aggs.zipWithIndex.map { case (d, i) => metric(b, d, i) })
            }
            // the `missing` sibling carries the SQL NULL group
            val nullsNode = resp.path("aggregations").path("nulls")
            val nullGroup =
              if (nullsNode.path("doc_count").asLong(0L) > 0)
                Iterator.single(Row.fromSeq(
                  null +: p.aggs.zipWithIndex.map { case (d, i) => metric(nullsNode, d, i) }))
              else Iterator.empty
            keyed ++ nullGroup
          } else {
            val aggsNode = resp.path("aggregations")
            Iterator.single(Row.fromSeq(p.aggs.zipWithIndex.map { case (d, i) =>
              if (d.col < 0) resp.path("hits").path("total").path("value").asLong()
              else metric(aggsNode, d, i)
            }))
          }
        rows.map(conv(_).asInstanceOf[InternalRow])
      } else {
        val pageSize = math.max(1, math.min(p.spec.cfg.pageSize,
          if (p.limit > 0) p.limit else p.spec.cfg.pageSize))
        var done = false
        var yielded = 0L
        val pages: Iterator[Iterator[String]] =
          // a sorted window always rides the plain arm: its body carries
          // the custom `sort`, which the PIT arm's _shard_doc cursor and
          // a scroll context would both clobber or refuse
          if (p.spec.paging == "pit" && !p.sorted) new Iterator[Iterator[String]] {
            // point-in-time + search_after (the default): page the PIT —
            // an immutable index snapshot, opened ONCE on the driver and
            // shared by every slice (EsScan.planInputPartitions) — by the
            // _shard_doc sort cursor. The server holds NO paging state,
            // so every request here may ride the RETRYING exchange: a
            // retried continuation names the same cursor and re-reads
            // the same page (the scroll arm below must fail loudly
            // instead). No task deletes the shared PIT (sibling slices
            // may still be reading); keep_alive expires it server-side.
            private var pitId: String = p.pitId.getOrElse(
              throw new IllegalStateException("pit paging planned without a PIT id"))
            private var lastSort: Option[Long] = None
            override def hasNext: Boolean =
              !done && (p.limit < 0 || yielded < p.limit)
            override def next(): Iterator[String] = {
              val want = if (p.limit > 0) math.min(pageSize.toLong, p.limit - yielded)
                else pageSize.toLong
              val body = EsDsl.M.readTree(p.dslBody).asInstanceOf[ObjectNode]
              body.put("size", want)
              val pitNode = body.putObject("pit")
              pitNode.put("id", pitId)
              pitNode.put("keep_alive", EsScan.PitKeepAlive)
              // _shard_doc: the PIT-scoped stable unique doc order — the
              // cheapest sort a cluster can serve and the documented
              // search_after cursor for full scans
              body.putArray("sort").addObject().put("_shard_doc", "asc")
              if (p.sliceMax > 1) {
                val sl = body.putObject("slice")
                sl.put("id", p.sliceId)
                sl.put("max", p.sliceMax)
              }
              lastSort.foreach(s => body.putArray("search_after").add(s))
              // PIT searches go to the INDEX-LESS /_search (the PIT id
              // already pins the index — real ES refuses a path index)
              val resp = EsDsl.M.readTree(client.postJson("/es/_search", body.toString))
              // the documented contract: every response MAY carry a
              // renewed pit_id (shard relocation mid-scan) and clients
              // must use the most recently returned id from then on
              Option(resp.path("pit_id").asText(null)).filter(_.nonEmpty)
                .foreach(pitId = _)
              val hits = resp.path("hits").path("hits").elements().asScala.toArray
              hits.lastOption.foreach(h => lastSort = Some(h.path("sort").get(0).asLong()))
              var srcs = hits.map(h => h.path("_source").toString)
              // unlike a scroll batch, a coordinated search returns
              // min(size, remaining) GLOBALLY — a short page means the
              // stream is drained, so stopping here is lossless and
              // saves the trailing empty-page round-trip
              if (srcs.length < want) done = true
              if (p.limit > 0 && yielded + srcs.length > p.limit)
                srcs = srcs.take((p.limit - yielded).toInt)
              yielded += srcs.length
              srcs.iterator
            }
          }
          else if (p.sliceMax > 1) new Iterator[Iterator[String]] {
            // sliced scroll: `slice` is only legal in a scroll (or PIT)
            // context — real ES 400s it in a plain from/size _search,
            // and the loopback server enforces the same. Open with
            // ?scroll= and page via /_search/scroll; no `from` anywhere
            // (also refused in a scroll context).
            private var scrollId: Option[String] = None
            override def hasNext: Boolean = {
              val more = !done && (p.limit < 0 || yielded < p.limit)
              if (!more) scrollId.foreach { id =>
                // early stop (pushed limit): free the server cursor
                try client.deleteJson("/es/_search/scroll",
                  s"""{"scroll_id":"$id"}""")
                catch { case _: Exception => () } // best-effort clear
                scrollId = None
              }
              more
            }
            override def next(): Iterator[String] = {
              val resp = scrollId match {
                case None =>
                  val body = EsDsl.M.readTree(p.dslBody).asInstanceOf[ObjectNode]
                  body.put("size", pageSize)
                  val sl = body.putObject("slice")
                  sl.put("id", p.sliceId)
                  sl.put("max", p.sliceMax)
                  EsDsl.M.readTree(client.postJson(path, body.toString,
                    Map("scroll" -> "1m")))
                case Some(id) =>
                  // a scroll continuation is NOT idempotent (the server
                  // advances the cursor): it must never ride the retrying
                  // exchange — a retry after a lost response would skip a
                  // page silently. Fail loudly; Spark re-runs the task
                  // from a fresh scroll.
                  EsDsl.M.readTree(client.postJsonOnce("/es/_search/scroll",
                    s"""{"scroll":"1m","scroll_id":"$id"}"""))
              }
              scrollId = Option(resp.path("_scroll_id").asText(null)).filter(_.nonEmpty)
              val hits = resp.path("hits").path("hits")
              var srcs = hits.elements().asScala.map(h => h.path("_source").toString).toArray
              // the documented scroll contract: page until the hits array
              // is EMPTY. A batch can legitimately come back short of
              // `size` while more results remain (size applies per shard
              // and shards drain unevenly) — stopping on a short page
              // would silently drop rows against a real cluster.
              if (srcs.isEmpty) done = true
              if (p.limit > 0 && yielded + srcs.length > p.limit)
                srcs = srcs.take((p.limit - yielded).toInt)
              yielded += srcs.length
              srcs.iterator
            }
          } else new Iterator[Iterator[String]] {
            // single-stream read: plain from/size paging (a pushed
            // limit caps the total and stops fetching early)
            private var from = 0L
            override def hasNext: Boolean = !done && (p.limit < 0 || yielded < p.limit)
            override def next(): Iterator[String] = {
              val want = if (p.limit > 0) math.min(pageSize.toLong, p.limit - yielded)
                else pageSize.toLong
              val body = EsDsl.M.readTree(p.dslBody).asInstanceOf[ObjectNode]
              body.put("from", from)
              body.put("size", want)
              val resp = EsDsl.M.readTree(client.postJson(path, body.toString))
              val hits = resp.path("hits").path("hits")
              val srcs = hits.elements().asScala.map(h => h.path("_source").toString).toArray
              from += want
              yielded += srcs.length
              if (srcs.length < want) done = true
              srcs.iterator
            }
          }
        // decode each _source document directly against the REQUIRED
        // schema: nodeToValue pulls fields by name and recurses per
        // struct, so top-level projection AND nested-column pruning both
        // come out right (a pruned struct<segment> reads only segment
        // from a {nationkey, segment} document)
        JsonCodec.lineRecords(pages.flatten, required).map { row =>
          conv(Row.fromSeq(row.toSeq)).asInstanceOf[InternalRow]
        }
      }
    IteratorReader(it)
  }

  private def metric(node: JsonNode, d: AggDef, i: Int): Any =
    if (d.col < 0) node.path("doc_count").asLong() // COUNT(*)
    // ES sum over zero present values is 0.0 where SQL SUM is NULL —
    // the companion value_count decides which it was
    else if (d.fn == AggFn.Sum &&
      node.path(s"agg_${i}_n").path("value").asLong(-1L) == 0L) null
    else {
      val v = node.path(s"agg_$i").path("value")
      if (v.isNull || v.isMissingNode) null
      else d.out match {
        case LongType => v.asLong()
        case IntegerType => v.asInt()
        case DoubleType => v.asDouble()
        case FloatType => v.asDouble().toFloat
        case StringType => v.asText()
        case other => LineCodec.parse(v.asText(), other)
      }
    }
}
