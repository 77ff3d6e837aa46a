package graft.sources

import org.apache.spark.sql.connector.read.SupportsPushDownFilters
import org.apache.spark.sql.sources._

/** The WHERE contract of the scan builders (reference: each backend's
  * translator pushes what its backend can express and leaves the rest to
  * the engine as a poly-filled residual, `sql_to_cql.go:441-468`,
  * `sql_to_datastore.go:376-382`). The bookkeeping — store the accepted
  * filters, report them, hand the rest back — lives here once; each
  * builder keeps only its accept rule and its compiled form. */
trait PushedFilter extends SupportsPushDownFilters {

  /** The accepted filters, in the order `pushedFilters()` reports them. */
  protected var pushed: Array[Filter] = Array.empty

  /** The filters of `filters` the backend answers exactly, in the order
    * it reports them; the builder stores its compiled form as it goes.
    * Everything else stays with Spark as the residual. */
  protected def acceptFilters(filters: Array[Filter]): collection.Seq[Filter]

  /** True when a push must decline everything and keep the earlier
    * `pushed` (BigQuery's post-join call, whose references name the
    * joined output). */
  protected def filtersClosed: Boolean = false

  final override def pushFilters(filters: Array[Filter]): Array[Filter] =
    if (filtersClosed) filters
    else {
      pushed = acceptFilters(filters).toArray
      filters.filterNot(pushed.contains)
    }

  final override def pushedFilters(): Array[Filter] = pushed
}

object PushedFilter {

  /** `f` with every column reference renamed by `rename`; None when
    * `rename` refuses one or `f` is a shape outside Spark's public
    * filter set. `rawNullTests` keeps IS [NOT] NULL references as they
    * are (ES serves `exists` on an analyzed field directly). */
  def mapRefs(f: Filter, rawNullTests: Boolean = false)(
      rename: String => Option[String]): Option[Filter] = {
    def go(f: Filter): Option[Filter] = f match {
      case EqualTo(a, v) => rename(a).map(EqualTo(_, v))
      case EqualNullSafe(a, v) => rename(a).map(EqualNullSafe(_, v))
      case GreaterThan(a, v) => rename(a).map(GreaterThan(_, v))
      case GreaterThanOrEqual(a, v) => rename(a).map(GreaterThanOrEqual(_, v))
      case LessThan(a, v) => rename(a).map(LessThan(_, v))
      case LessThanOrEqual(a, v) => rename(a).map(LessThanOrEqual(_, v))
      case In(a, vs) => rename(a).map(In(_, vs))
      case StringStartsWith(a, v) => rename(a).map(StringStartsWith(_, v))
      case StringEndsWith(a, v) => rename(a).map(StringEndsWith(_, v))
      case StringContains(a, v) => rename(a).map(StringContains(_, v))
      case IsNull(_) | IsNotNull(_) if rawNullTests => Some(f)
      case IsNull(a) => rename(a).map(IsNull(_))
      case IsNotNull(a) => rename(a).map(IsNotNull(_))
      case And(l, r) => for (a <- go(l); b <- go(r)) yield And(a, b)
      case Or(l, r) => for (a <- go(l); b <- go(r)) yield Or(a, b)
      case Not(c) => go(c).map(Not(_))
      case _: AlwaysTrue | _: AlwaysFalse => Some(f)
      case _ => None
    }
    go(f)
  }

  /** The IS NOT NULL conjuncts the backend already guarantees: those on
    * a `neverNull` column (case-insensitive), in filter order. A builder
    * absorbs them so a fully-pushed WHERE leaves no Filter node behind,
    * which would also block limit and aggregate pushdown. */
  def notNulls(filters: collection.Seq[Filter], neverNull: Iterable[String]): Seq[Filter] = {
    val cols = neverNull.map(_.toLowerCase).toSet
    filters.filter {
      case IsNotNull(a) => cols(a.toLowerCase)
      case _ => false
    }.toSeq
  }

  /** True when a conjunct pins `key` to specific values (or to null):
    * range tiling over `key` is then pointless — all but one shard would
    * be provably empty — so a fanned-out scan collapses to one request. */
  def pins(filters: collection.Seq[Filter], key: String): Boolean = filters.exists {
    case EqualTo(a, _) => a.equalsIgnoreCase(key)
    case EqualNullSafe(a, _) => a.equalsIgnoreCase(key)
    case In(a, _) => a.equalsIgnoreCase(key)
    case IsNull(a) => a.equalsIgnoreCase(key)
    case _ => false
  }

  /** The keys a key-addressed DELETE removes: the intersection of the
    * conjunction's EqualTo and In sets on `key`, each value in the
    * backend's form. None unless every conjunct is one of those or an
    * IS NOT NULL on `key`, at least one pins values, and `render` takes
    * every value. An empty set is a contradiction: nothing to delete. */
  def keySet[K](filters: collection.Seq[Filter], key: String)(
      render: Any => Option[K]): Option[Set[K]] = {
    def all(vs: Seq[Any]): Option[Set[K]] = {
      val ks = vs.map(render)
      if (ks.exists(_.isEmpty)) None else Some(ks.flatten.toSet)
    }
    val sets = filters.map {
      case EqualTo(a, v) if a.equalsIgnoreCase(key) => all(Seq(v)).map(Some(_))
      case In(a, vs) if a.equalsIgnoreCase(key) && vs != null => all(vs.toSeq).map(Some(_))
      case IsNotNull(a) if a.equalsIgnoreCase(key) => Some(None)
      case _ => None
    }
    if (sets.exists(_.isEmpty)) None
    else sets.flatten.flatten.reduceOption(_ intersect _)
  }
}
