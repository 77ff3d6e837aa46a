package graft.sources

import org.apache.spark.sql.connector.expressions.{NamedReference, NullOrdering, SortDirection, SortOrder}

/** One pushed sort key: the backend `target` its column resolved to (a
  * field name, a schema index, a SQL reference), its direction, and
  * where Spark places its nulls. */
final case class SortKey[T](target: T, desc: Boolean, nullsFirst: Boolean) {

  /** ASC NULLS FIRST or DESC NULLS LAST: the one placement a backend
    * that always orders nulls lowest (Mongo, Datastore) serves. */
  def nullsLowest: Boolean = desc != nullsFirst
}

/** The ORDER BY / LIMIT / OFFSET contract of the scan builders
  * (reference: each backend translates the window into its own request,
  * `sqltoes.go:239-259`, `sql_to_mgo.go:220-245`,
  * `sql_to_datastore.go:118-133`, and poly-fills what it cannot). The
  * sort-key decode, the limit arithmetic, the ordered-window rule and
  * the row comparator live here once; each builder keeps only its
  * backend's accept rule over the decoded keys. */
object PushedWindow {

  /** Spark's pushed sort orders as keys. Each key must be a single-part
    * column reference that `resolve` maps to a target; one that is not
    * (a nested path, an expression, an unresolvable name) declines the
    * whole list. */
  def keys[T](orders: Array[SortOrder])(resolve: String => Option[T])
      : Option[Seq[SortKey[T]]] = {
    val ks = orders.toSeq.map { o =>
      o.expression() match {
        case nr: NamedReference if nr.fieldNames().length == 1 =>
          resolve(nr.fieldNames()(0)).map(SortKey(_,
            o.direction() == SortDirection.DESCENDING,
            o.nullOrdering() == NullOrdering.NULLS_FIRST))
        case _ => None
      }
    }
    if (ks.exists(_.isEmpty)) None else Some(ks.flatten)
  }

  /** Case-insensitive resolution over `(name, target)` pairs: the first
    * matching name wins. */
  def byName[T](targets: Seq[(String, T)]): String => Option[T] =
    name => targets.collectFirst { case (n, t) if n.equalsIgnoreCase(name) => t }

  /** The backend's LIMIT for a pushed window, -1 for none. Spark pushes
    * its limit inclusive of the offset (take(limit + offset), then
    * drop(offset)); a backend's LIMIT counts the rows after its skip. */
  def wireLimit(limit: Int, offset: Int): Int =
    if (limit < 0) -1 else math.max(0, limit - math.max(0, offset))

  /** The ordered-window rule of [[WireRuntimeFilter]]: a scan whose
    * server answers a pushed sort or a pushed offset delegated an
    * ordered window, and must never gain a filter beneath it. */
  def ordered(sorted: Boolean, offset: Int): Boolean = sorted || offset > 0

  /** The row comparator of a pushed sort: lexicographic over the keys,
    * each key's nulls placed by `nullsFirst` in either direction, values
    * compared by [[FilterEval.cmp]] and reversed for DESC; incomparable
    * values tie. `get` reads one key's value from a row. */
  def ordering[R, T](keys: Seq[SortKey[T]])(get: (R, T) => Any): Ordering[R] = {
    val ks = keys.toIndexedSeq
    (x: R, y: R) => {
      var i = 0
      var r = 0
      while (r == 0 && i < ks.length) {
        val k = ks(i)
        val (a, b) = (get(x, k.target), get(y, k.target))
        r =
          if (a == null && b == null) 0
          else if (a == null) { if (k.nullsFirst) -1 else 1 }
          else if (b == null) { if (k.nullsFirst) 1 else -1 }
          else {
            val c = FilterEval.cmp(a, b).getOrElse(0)
            if (k.desc) -c else c
          }
        i += 1
      }
      r
    }
  }
}
