package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{GQuery, Tables}

/** Graph analytics over relationally-derived graphs (beyond-reference;
  * the link-analysis surface a data platform runs for source-quality
  * ranking — e.g. domain PageRank as a quality prior in crawl curation,
  * the public CommonCrawl/OpenWebText recipe).
  *
  * The graph here derives from the star schema itself: customers and
  * suppliers are nodes, an order line connecting them is an (undirected)
  * edge — the bipartite "who trades with whom" graph.
  *
  * Cross-engine determinism: ranks are exact integers (1e9 fixed point);
  * each iteration divides by degree and applies damping with integer
  * floor division only — every intermediate is nonnegative, so Spark's
  * `DIV` and DuckDB's `//` (both truncating) agree with floor exactly,
  * and the final ranks are bit-identical against an 8-stage unrolled
  * materialized-CTE DuckDB oracle.
  *
  * Scale design (100 TB): the canonical distributed PageRank shape — the
  * edge list (with degree) is built ONCE and persisted; each of the 8
  * rounds is one equi-join of the rank table onto the edges (shuffle on
  * src) and one map-side-combined aggregation onto dst; the rank table
  * never leaves the cluster and the driver holds zero graph state. The
  * edge table is repartitioned by src before persisting, so every round
  * reuses one cached partitioning; each round's ranks are eagerly
  * localCheckpoint-ed (the GraphX discipline) so planning stays O(1)
  * per round and no multi-round lineage accumulates.
  */
object Graph {

  private val PrIters = 8
  private val R0 = 1000000000L        // initial rank, 1e9 fixed point
  private val PrBase = 150000000L     // (1 − d)·1e9 with damping d = 0.85
  private val PrParts = 8             // rank-round shuffle partitions
  private val PrBatch = 2             // rounds composed per localCheckpoint

  val queries: Seq[GQuery] = Seq(

    // PageRank over the customer–supplier trade graph, top-20 nodes.
    // Degree-normalized contributions with damping 0.85, 8 synchronous
    // iterations from a uniform start — the textbook formulation (Brin &
    // Page 1998), in exact 1e9 fixed point.
    GQuery("q_graph_pagerank", {
      val iters = (1 to PrIters).map { t =>
        val prev = if (t == 1) "r0" else s"r${t - 1}"
        s"""c$t AS MATERIALIZED (
           |  SELECT ed.dst AS node, CAST(sum(p.r // ed.deg) AS BIGINT) AS s
           |  FROM ed JOIN $prev p ON ed.src = p.node GROUP BY 1),
           |r$t AS MATERIALIZED (
           |  SELECT n.node,
           |         CAST($PrBase + (85 * COALESCE(c$t.s, 0)) // 100 AS BIGINT) AS r
           |  FROM n LEFT JOIN c$t ON n.node = c$t.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH p AS MATERIALIZED (
         |  SELECT DISTINCT o.o_custkey * 2 AS a, l.l_suppkey * 2 + 1 AS b
         |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         |e AS MATERIALIZED (
         |  SELECT a AS src, b AS dst FROM p
         |  UNION ALL SELECT b AS src, a AS dst FROM p),
         |d AS MATERIALIZED (
         |  SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
         |ed AS MATERIALIZED (
         |  SELECT e.src, e.dst, d.deg FROM e JOIN d ON e.src = d.src),
         |n AS MATERIALIZED (SELECT src AS node FROM d),
         |r0 AS MATERIALIZED (
         |  SELECT node, CAST($R0 AS BIGINT) AS r FROM n),
         |$iters
         |SELECT CASE WHEN node % 2 = 0 THEN 'c' ELSE 's' END AS node_type,
         |       CAST(node // 2 AS BIGINT) AS node_key,
         |       r AS rank_e9
         |FROM r$PrIters
         |ORDER BY rank_e9 DESC, node_type, node_key LIMIT 20""".stripMargin
    }) { (s, d) =>
      val orders = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val li = Tables.load(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
      // Persisted once (r16): the deduped pair list feeds FOUR consumers —
      // the degree aggregation, both union arms of the edge list, and
      // (transitively) the node table. Unpersisted, Catalyst re-executed
      // the orders⨝lineitem⨝distinct subtree for each consumer because
      // union arms and separate actions do not share plan fragments.
      val pairs = orders
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK) // released by the harness clearCache
      val e = pairs.select(col("a").as("src"), col("b").as("dst"))
        .union(pairs.select(col("b").as("src"), col("a").as("dst")))
      val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
      // Edge list with per-src degree: built once, LAID OUT by src once
      // (repartition before persist), so every round's rank join reuses
      // the cached hash(src) partitioning — the big edge side never
      // re-shuffles; only the node-sized rank table moves per round.
      // The degree attach is hinted SHUFFLE_HASH (guide §3.1): deg is
      // node-sized (far smaller per partition than the edge stream), and
      // a sort-merge join would sort the edge list for no benefit — the
      // repartition right after establishes the layout anyway.
      val ed = e.join(deg.hint("shuffle_hash"), "src")
        .repartition(col("src"))
        .persist(StorageLevel.MEMORY_AND_DISK) // 8 rank joins; released by the harness clearCache
      // node table: only the r0 seed consumes it now (see the round
      // function below — the per-round left join was removed r17), so it
      // needs neither a persist nor a layout of its own
      val nodes = deg.select(col("src").as("node"))
      // Eager localCheckpoint per round (the GraphX discipline): round
      // t+1 plans against a node-sized leaf instead of a t-round-deep
      // composed plan, keeping Catalyst planning/codegen O(1) per round
      // instead of O(iters) — values are unchanged, only lineage is cut.
      // The checkpointed rank RDDs are node-sized (not corpus-sized).
      // The iteration is overhead-bound at bench scale: ~16k rank rows
      // over the session's 32 shuffle partitions is ~500 rows/task across
      // 8 rounds × 3 stages. Size the round partitioning to the RANK
      // table (a deployment would set this to nodes/target-partition-
      // size, independent of the corpus-sized session default). Safe to
      // set/restore here because every round materializes eagerly inside
      // this function; only the final node-sized projection runs later.
      val oldParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", PrParts.toString)
      val finalRanks = try {
        // Both per-round joins are hinted SHUFFLE_HASH (guide §3.1): the
        // build sides (the rank table, the contribution aggregate) are
        // node-sized, so a per-partition hash table always fits, while the
        // default sort-merge join re-SORTED the cached edge partitions
        // every round (the cache preserves hash(src) partitioning but not
        // order) — 8 corpus-sized sorts bought nothing. Results identical;
        // at 100× the rank table still never leaves the cluster.
        // The oracle's per-round `n LEFT JOIN c_t` is an identity on THIS
        // graph and is elided (r17): the edge list is symmetrized (both
        // directions of every distinct pair ride `e`), so every node in n
        // (out-degree >= 1 by construction) also has in-degree >= 1 and
        // appears in every round's contribution aggregate — the left join
        // never null-extends and coalesce(s, 0) never fires. Dropping it
        // removes a node-sized join per round (8 total) and the node
        // table's 8-consumer persist; values are bit-identical (oracle-
        // checked) because the rank recurrence sees the same s per node.
        def round(r: org.apache.spark.sql.DataFrame) = {
          ed.join(r.withColumnRenamed("node", "src").hint("shuffle_hash"),
              Seq("src"))
            .select(col("dst").as("node"), expr("r DIV deg").as("c"))
            .groupBy("node").agg(sum("c").as("s"))
            .select(col("node"),
              (lit(PrBase) + expr("(85 * s) DIV 100")).as("r"))
        }
        // TWO rounds compose lazily per eager localCheckpoint: half the
        // synchronous jobs (4 instead of 8) while the checkpointed leaf
        // stays node-sized and the plan never grows past two rounds deep
        // (r9: checkpoint-every-round beat never-checkpointing 12.3 vs
        // 16-21s; this keeps the O(1)-depth property at half the
        // per-round job overhead, the residual cost at toy scale).
        var ranks = nodes.select(col("node"), lit(R0).as("r")).localCheckpoint(true)
        var t = 1
        while (t <= PrIters) {
          var step = ranks
          var k = 0
          while (k < PrBatch && t + k <= PrIters) { step = round(step); k += 1 }
          ranks = step.localCheckpoint(true)
          t += k
        }
        ranks
      } finally {
        s.conf.set("spark.sql.shuffle.partitions", oldParts)
      }
      finalRanks.select(
          when(col("node") % 2 === 0, lit("c")).otherwise(lit("s")).as("node_type"),
          expr("node DIV 2").cast("long").as("node_key"),
          col("r").as("rank_e9"))
        .orderBy(col("rank_e9").desc, col("node_type"), col("node_key"))
        .limit(20)
    }
  )
}
