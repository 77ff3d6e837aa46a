package graft.sources

import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.connector.expressions.{Expressions, Literal, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering

/** Partition fan-out for the protocol connectors.
  *
  * The reference's distributed mode runs one worker per table partition
  * and injects a per-worker range predicate into each backend scan
  * (`planner/sql_master.go:75-98` sizes the actor fleet from
  * `Tbl.Partition`/`Tbl.PartitionCt`; `backends/mongo/sql_to_mgo.go:
  * 189-210` ANDs a `$gte/$lt` partition-range filter into the shipped
  * query). Here the same idea maps onto DSv2's native unit of
  * parallelism: `planInputPartitions()` returns N partitions, each
  * carrying its slice of the key space in the protocol's own parallel-
  * scan vocabulary (Mongo range filters, ES slice-scroll, CQL token
  * ranges, BigTable sampled row ranges, Datastore/BQ key ranges), and
  * every Spark task opens its own socket. Without this, an
  * un-aggregated backend table streams through ONE task — at 100 TB
  * that task IS the query.
  *
  * Split points live in endpoint metadata (the analogue of the
  * reference's table-loader partition metadata): real deployments get
  * them from shard/chunk/ring metadata; the loopback fixtures register
  * key quantiles at setup. The statement-level `WITH distributed=true,
  * node_ct=N` hint overrides the endpoint default through a session
  * conf read driver-side at plan time.
  */
object WireFanout {

  /** Session-level override (a tuning knob like
    * spark.sql.shuffle.partitions): wire scans planned while it is set
    * fan out to that count unless a statement hint overrides it. */
  val ConfKey = "spark.graft.wire.fanout"

  /** Per-relation read option carrying the statement-level `node_ct`
    * hint. The engine injects it into the statement's own
    * DataSourceV2Relation options (not the session conf), so the hint
    * rides inside the plan: it survives the statement's laziness and
    * cannot bleed into scans planned by other statements. */
  val OptionKey = "graft.node_ct"

  /** Statement hint carried in the relation's read options, if any. */
  def hintFrom(options: org.apache.spark.sql.util.CaseInsensitiveStringMap): Option[Int] =
    Option(options.get(OptionKey)).map(_.toInt)

  /** Effective scan fan-out: statement hint > session conf > endpoint
    * default. Called on the driver in planInputPartitions. */
  def effective(default: Int, hint: Option[Int] = None): Int = {
    val conf =
      try org.apache.spark.sql.SparkSession.active.conf.getOption(ConfKey)
        .map(_.toInt)
      catch { case _: Exception => None }
    math.max(1, hint.orElse(conf).getOrElse(default))
  }

  /** Thin a sorted split-point list to at most n-1 evenly-spread points
    * (n ranges). Grouping contiguous ranges this way preserves range
    * semantics: a coalesced group of ranges is itself one range. */
  def thin[A](splits: IndexedSeq[A], n: Int): Seq[A] = {
    val want = math.min(splits.size, math.max(0, n - 1))
    (1 to want).map(j => splits(j * splits.size / (want + 1)))
  }

  /** k split points -> k+1 contiguous (lo, hi) ranges; None = open. */
  def ranges[A](pts: Seq[A]): Seq[(Option[A], Option[A])] =
    (None +: pts.map(Some(_))).zip(pts.map(Some(_)) :+ None)
}

/** Marker for DSv2 tables whose scans honor the [[WireFanout.OptionKey]]
  * read option — the engine's `node_ct` hint targets only these. */
trait WireScanTable

/** Range-partitioning metadata for a wire table: a partition key and
  * sorted interior split points (k points -> k+1 scan partitions). The
  * analogue of the reference's `Table.Partition{Keys, Partitions}`. */
final case class WireSplits(key: String, points: Seq[Any])

/** Runtime semi-join reduction (dynamic filtering) for the wire scans:
  * Spark's dynamic-pruning pass hands a probe-side scan the build side's
  * distinct join keys as `col IN (...)` BEFORE partition planning, and
  * the scan ANDs them onto its request (Mongo `$in`, ES `terms`, CQL
  * partition-key `IN`, BigTable `rowKeys`, BQ rendered `IN`), so the
  * server streams only rows that can survive the join. Spark inserts it
  * only when the build side keeps a residual `Filter` and the join is a
  * broadcast chosen at plan time. Fully pushed filters leave no `Filter`
  * and wire scans report no size, so a SQL join of two wire tables is a
  * sort-merge join without it. Purely an optimization: the join re-checks
  * every key, so declining a predicate (a non-literal or unconvertible
  * key, a key the backend cannot render exactly, a set beyond the cap)
  * is always safe; pruning only ever applies the EXACT key set.
  *
  * The one soundness rule: a scan that delegated an ORDERED window (a
  * pushed sort or offset, with Spark's own Sort/Limit/Offset removed or
  * re-applied below the join) must never gain a filter beneath it.
  * The server would window the filtered subset instead of filtering the
  * windowed result, admitting rows the true answer cannot contain. A
  * plain LIMIT without sort stays eligible: any n qualifying rows is a
  * valid LIMIT answer, so pre-filtering only changes WHICH valid answer.
  *
  * Each scan supplies only what is per-backend: whether it delegated an
  * ordered window, which output columns it can filter exactly, how one
  * key renders for its wire, and how the accepted `(column, keys)` sets
  * combine into its request. */
trait WireRuntimeFilter[K] extends SupportsRuntimeV2Filtering {

  /** True when a pushed sort or offset is answered by the server. */
  protected def delegatesOrderedWindow: Boolean

  /** Output columns whose keys the backend can apply exactly. */
  protected def runtimeFilterColumns: Seq[String]

  /** One decoded key in wire form; None declines its whole predicate. */
  protected def renderRuntimeKey(key: Any): Option[K]

  /** Stores the accepted `(column, rendered keys)` sets (never empty)
    * for the request and returns their description. */
  protected def applyRuntimeFilter(sets: Seq[(String, Seq[K])]): String

  /** Last runtime filter applied (rendered), for plan/wire asserts. */
  @volatile private[graft] var runtimeFilterDesc: String = ""

  final override def filterAttributes(): Array[NamedReference] =
    if (delegatesOrderedWindow) Array.empty
    else runtimeFilterColumns.map(Expressions.column).toArray

  final override def filter(predicates: Array[Predicate]): Unit = {
    if (delegatesOrderedWindow) return
    val offered = runtimeFilterColumns.map(_.toLowerCase).toSet
    val sets = predicates.toSeq.flatMap { p =>
      if (p.name() != "IN" || p.children().isEmpty) None
      else p.children()(0) match {
        case ref: NamedReference if ref.fieldNames().length == 1 &&
            offered.contains(ref.fieldNames()(0).toLowerCase) =>
          val keys = p.children().toSeq.drop(1)
          if (keys.size > WireRuntimeFilter.RuntimeInCap) None
          else {
            val rendered = keys.map {
              case lv: Literal[_] =>
                try renderRuntimeKey(CatalystTypeConverters
                  .createToScalaConverter(lv.dataType)(lv.value))
                catch { case NonFatal(_) => None }
              case _ => None
            }
            if (rendered.exists(_.isEmpty)) None
            else Some(ref.fieldNames()(0) -> rendered.flatten)
          }
        case _ => None
      }
    }
    if (sets.nonEmpty) runtimeFilterDesc = applyRuntimeFilter(sets)
  }
}

object WireRuntimeFilter {

  /** Beyond this many build-side keys the IN no longer pays for its
    * request bloat (the classic dynamic-filter distinct-value cap). */
  val RuntimeInCap = 10000
}
