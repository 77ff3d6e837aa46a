package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{GQuery, Tables}

/** Scan / filter / aggregate operator surface (SURVEY.md §2.2, §2.4, §2.6).
  *
  * Mirrors the predicate + aggregation semantics the reference pushes to its
  * backends (dataux backends/elasticsearch/sqltoes.go:487-586,
  * backends/mongo/sql_to_mgo.go:437-655): =, !=, <, <=, >, >=, AND/OR
  * nesting, BETWEEN, IN, LIKE, exists/missing, field-vs-field compare,
  * count/min/max/avg/sum/distinct, GROUP BY, HAVING, ORDER BY/LIMIT/OFFSET.
  * Here each is a declarative DataFrame plan so Catalyst pushes filters and
  * projections into the parquet scan (verified via PushedFilters in explain).
  */
object Relational {

  private def li(s: SparkSession, d: String) = Tables.load(s, d, "lineitem")
  private def ord(s: SparkSession, d: String) = Tables.load(s, d, "orders")

  // Z-order layout (q_layout_zorder): grid bit width per interleaved key
  // and bucket fan-out (buckets stand in for the part files OPTIMIZE
  // writes)
  private val ZBits = 16
  private val ZBuckets = 16L
  /** How long `q_profile_stats` waits for its overlapped distinct counts. */
  private val ProfileStatsDeadline = scala.concurrent.duration.Duration(10, "minutes")
  private def part(s: SparkSession, d: String) = Tables.load(s, d, "part")
  private def cust(s: SparkSession, d: String) = Tables.load(s, d, "customer")

  val queries: Seq[GQuery] = Seq(

    // --- scans + predicate pushdown --------------------------------------
    GQuery(
      "q_scan_project",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_quantity > 45.0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      li(s, d)
        .filter(col("l_quantity") > 45.0)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    },

    GQuery(
      "q_filter_ops",
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
        |FROM lineitem
        |WHERE (l_returnflag <> 'N' AND l_discount >= 0.09)
        |   OR (l_quantity <= 2.0 AND l_tax < 0.01)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      li(s, d)
        .filter((col("l_returnflag") =!= "N" && col("l_discount") >= 0.09) ||
                (col("l_quantity") <= 2.0 && col("l_tax") < 0.01))
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    },

    GQuery(
      "q_between",
      """SELECT l_returnflag,
        |       count(*) AS n,
        |       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      li(s, d)
        .filter(col("l_shipdate").between(
          lit("1996-01-01").cast("timestamp"),
          lit("1996-12-31").cast("timestamp")))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity").cast("decimal(18,2)")), 2)
            .cast("double").as("sum_qty"))
        .orderBy("l_returnflag")
    },

    GQuery(
      "q_in",
      """SELECT o_orderkey, o_orderpriority FROM orders
        |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') AND o_totalprice > 400000
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      ord(s, d)
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH") &&
                col("o_totalprice") > 400000)
        .select("o_orderkey", "o_orderpriority")
        .orderBy("o_orderkey")
    },

    GQuery(
      "q_like",
      """SELECT p_partkey, p_name FROM part
        |WHERE p_name LIKE '%red%' OR p_name LIKE 'small%'
        |ORDER BY p_partkey""".stripMargin) { (s, d) =>
      part(s, d)
        .filter(col("p_name").like("%red%") || col("p_name").like("small%"))
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")
    },

    GQuery(
      "q_field_compare",
      """SELECT l_orderkey, l_linenumber, l_discount, l_tax FROM lineitem
        |WHERE l_discount > l_tax AND l_quantity < 3
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      li(s, d)
        .filter(col("l_discount") > col("l_tax") && col("l_quantity") < 3)
        .select("l_orderkey", "l_linenumber", "l_discount", "l_tax")
        .orderBy("l_orderkey", "l_linenumber")
    },

    // exists()/missing() polyfill semantics (null checks over a left join)
    GQuery(
      "q_missing",
      """SELECT c.c_custkey, c.c_name
        |FROM customer c LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 450000) o
        |  ON c.c_custkey = o.o_custkey
        |WHERE o.o_orderkey IS NULL
        |ORDER BY c.c_custkey""".stripMargin) { (s, d) =>
      val c = cust(s, d)
      val o = ord(s, d).filter(col("o_totalprice") > 450000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .filter(o("o_orderkey").isNull)
        .select(c("c_custkey"), c("c_name"))
        .orderBy("c_custkey")
    },

    // --- aggregates -------------------------------------------------------
    // Determinism: double sums/avgs are order-sensitive (partition order
    // can flip a rounding boundary vs the oracle), so every SUM over the
    // 2-decimal money/quantity columns goes through DECIMAL(18,2) — exact,
    // order-insensitive addition in both engines — and AVG is the exact
    // decimal sum over the count, one IEEE division in both engines.
    GQuery(
      "q_agg_global",
      """SELECT count(*) AS n_rows,
        |       count(l_quantity) AS n_qty,
        |       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 1) AS DOUBLE) AS sum_qty,
        |       round(min(l_extendedprice), 2) AS min_price,
        |       round(max(l_extendedprice), 2) AS max_price,
        |       CAST(round(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) * 100 AS BIGINT)
        |                  * 1000.0 / count(l_discount)) AS BIGINT) / 100000.0 AS avg_disc
        |FROM lineitem""".stripMargin) { (s, d) =>
      // avg at 5 decimals in INTEGER space (see q_text_quality): exact
      // cents / count, so the decimal tie digit cannot straddle an ulp
      li(s, d).agg(
        count(lit(1)).as("n_rows"),
        count(col("l_quantity")).as("n_qty"),
        round(sum(col("l_quantity").cast("decimal(18,2)")), 1)
          .cast("double").as("sum_qty"),
        round(min("l_extendedprice"), 2).as("min_price"),
        round(max("l_extendedprice"), 2).as("max_price"),
        (round((sum(col("l_discount").cast("decimal(18,2)")) * 100).cast("long") *
          lit(1000.0) / count(col("l_discount"))).cast("long") / lit(100000.0))
          .as("avg_disc"))
    },

    // TPC-H Q1 shape: the canonical partial/final hash aggregate.
    GQuery(
      "q1_agg",
      """SELECT l_returnflag, l_linestatus,
        |       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 1) AS DOUBLE) AS sum_qty,
        |       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 1) AS DOUBLE) AS sum_base_price,
        |       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                      (1 - CAST(l_discount AS DECIMAL(18,2)))), 1) AS DOUBLE) AS sum_disc_price,
        |       CAST(round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT)
        |                  * 100.0 / count(l_quantity)) AS BIGINT) / 10000.0 AS avg_qty,
        |       CAST(round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |                  * 10.0 / count(l_extendedprice)) AS BIGINT) / 1000.0 AS avg_price,
        |       CAST(round(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) * 100 AS BIGINT)
        |                  * 1000.0 / count(l_discount)) AS BIGINT) / 100000.0 AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      val dq = col("l_quantity").cast("decimal(18,2)")
      val dp = col("l_extendedprice").cast("decimal(18,2)")
      val dd = col("l_discount").cast("decimal(18,2)")
      li(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum(dq), 1).cast("double").as("sum_qty"),
          round(sum(dp), 1).cast("double").as("sum_base_price"),
          round(sum(dp * (lit(1) - dd)), 1).cast("double").as("sum_disc_price"),
          // integer-space avg rounding: exact cents over exact counts
          (round((sum(dq) * 100).cast("long") * lit(100.0) /
            count(col("l_quantity"))).cast("long") / lit(10000.0)).as("avg_qty"),
          (round((sum(dp) * 100).cast("long") * lit(10.0) /
            count(col("l_extendedprice"))).cast("long") / lit(1000.0)).as("avg_price"),
          (round((sum(dd) * 100).cast("long") * lit(1000.0) /
            count(col("l_discount"))).cast("long") / lit(100000.0)).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    GQuery(
      "q_group_having",
      """SELECT o_orderpriority, count(*) AS n
        |FROM orders GROUP BY o_orderpriority HAVING count(*) > 100
        |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      ord(s, d)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .filter(col("n") > 100)
        .orderBy("o_orderpriority")
    },

    GQuery(
      "q_distinct_count",
      """SELECT count(DISTINCT l_partkey) AS n_parts,
        |       count(DISTINCT l_suppkey) AS n_supps FROM lineitem""".stripMargin) {
      (s, d) =>
        li(s, d).agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"))
    },

    GQuery(
      "q_distinct_rows",
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      li(s, d)
        .select("l_returnflag", "l_linestatus")
        .distinct()
        .orderBy("l_returnflag", "l_linestatus")
    },

    // `cardinality(f)` (ES approximate distinct). HLL++ sketch values differ
    // across engines, so the oracle checks the *tolerance contract* instead:
    // Spark emits the exact distinct counts (value-comparable) plus booleans
    // asserting the sketch landed within 10% of exact; DuckDB computes the
    // same exact counts and asserts the same booleans as TRUE.
    GQuery(
      "q_cardinality",
      """SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
        |       TRUE AS parts_within_10pct,
        |       TRUE AS orders_within_10pct
        |FROM lineitem""".stripMargin) { (s, d) =>
      // One aggregation per column, cross-joined (both are single rows):
      // two distinct-aggregate groups in one agg would make Spark Expand
      // the scan ×3 through the shuffle; separately, each pass is a
      // single-column pruned scan with partial-distinct combine.
      val parts = li(s, d)
        .agg(approx_count_distinct(col("l_partkey")).as("ap"),
          countDistinct(col("l_partkey")).as("exact_parts"))
      val orders = li(s, d)
        .agg(approx_count_distinct(col("l_orderkey")).as("ao"),
          countDistinct(col("l_orderkey")).as("exact_orders"))
      parts.crossJoin(orders)
        .select(
          col("exact_parts"), col("exact_orders"),
          (abs(col("ap") - col("exact_parts")) <=
            col("exact_parts") * 0.1).as("parts_within_10pct"),
          (abs(col("ao") - col("exact_orders")) <=
            col("exact_orders") * 0.1).as("orders_within_10pct"))
    },

    // Quantile sketch (t-digest style percentile_approx) with the same
    // tolerance-oracle pattern as q_cardinality. The verification arm is
    // rank-based: a second pruned pass counts rows <= each sketch value, and
    // the sketch passes when that rank lands within p ± 0.5% of the total —
    // the accuracy contract percentile_approx(…, 10000) states (rank error
    // <= n/10000), checked without ever buffering the column (the exact
    // `percentile` it replaces held every value in one aggregation buffer).
    GQuery(
      "q_quantile_sketch",
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       TRUE AS p50_rank_ok,
        |       TRUE AS p90_rank_ok,
        |       TRUE AS p99_rank_ok
        |FROM lineitem""".stripMargin) { (s, d) =>
      val sketch = li(s, d).agg(
        expr("percentile_approx(l_extendedprice, array(0.5, 0.9, 0.99), 10000)").as("ap"))
      // 1-row sketch broadcast into a second single-column scan: both
      // passes are pruned scans + one partial/final agg — O(1) state per
      // task at any scale.
      li(s, d).select(col("l_extendedprice").as("x"))
        .crossJoin(broadcast(sketch))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("x") <= col("ap").getItem(0), 1L).otherwise(0L)).as("r50"),
          sum(when(col("x") <= col("ap").getItem(1), 1L).otherwise(0L)).as("r90"),
          sum(when(col("x") <= col("ap").getItem(2), 1L).otherwise(0L)).as("r99"))
        .select(
          col("n_rows"),
          (abs(col("r50") / col("n_rows") - 0.5) <= 0.005).as("p50_rank_ok"),
          (abs(col("r90") / col("n_rows") - 0.9) <= 0.005).as("p90_rank_ok"),
          (abs(col("r99") / col("n_rows") - 0.99) <= 0.005).as("p99_rank_ok"))
    },

    // EXACT grouped percentiles (percentile_cont semantics) WITHOUT the
    // per-group value buffer of Spark's exact `percentile` aggregate and
    // without a single-task-per-group window: counts per (group, value),
    // the two-pass grouped prefix sum turns them into 0-based rank ranges
    // [prev, cum) per value, and each requested quantile becomes two rank
    // probes (floor/ceil of (n-1)·q) against that table with a broadcast
    // ranks side (groups × quantiles rows). Interpolation runs in PURE
    // integer quarter-cents: for q ∈ {25,50,75}, frac((n-1)·q/100) is a
    // multiple of 1/4, so p·4 = 4·v_lo + m·(v_hi − v_lo) with
    // m = ((n-1)·q mod 100)/25 ∈ {0..3} — bit-identical to DuckDB's
    // interpolated quantile_cont ×4 (exact in doubles at these widths).
    //
    // Scale (100 TB): the value table is |distinct (group, value)| not
    // |rows|; the prefix sum is the two-pass shape (per-partition
    // subtotals + broadcast offsets — a dominant group never lands on one
    // task); the probes are one broadcast-joined pass over that table.
    GQuery(
      "q_agg_percentiles",
      """WITH c AS (
        |  SELECT l_returnflag AS g,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS v
        |  FROM lineitem)
        |SELECT g AS l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |       CAST(round(quantile_cont(v, 0.25) * 4) AS BIGINT) AS p25_qc,
        |       CAST(round(quantile_cont(v, 0.50) * 4) AS BIGINT) AS p50_qc,
        |       CAST(round(quantile_cont(v, 0.75) * 4) AS BIGINT) AS p75_qc
        |FROM c GROUP BY g ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      // persisted: the prefix-sum pass and the per-group totals both
      // consume it — without the cache each would redo the corpus scan
      // and the (g, v) count shuffle
      val vc = li(s, d)
        .select(col("l_returnflag").as("g"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("v"))
        .groupBy("g", "v").agg(count(lit(1)).as("cnt"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cum = graft.operators.GroupedPrefixSum
        .runningSum(vc, Seq("g"), Seq(col("v")), col("cnt"), "cum")
        .withColumn("prev", col("cum") - col("cnt"))
      val ranks = vc.groupBy("g").agg(sum("cnt").as("n"))
        .withColumn("q", explode(expr("array(25L, 50L, 75L)")))
        .withColumn("t", (col("n") - 1) * col("q"))
        .select(col("g").as("rg"), col("n"), col("q"),
          expr("t DIV 100").as("k_lo"),
          expr("(t % 100) DIV 25").as("m"))
        .withColumn("k_hi",
          col("k_lo") + when(col("m") > 0, 1L).otherwise(0L))
      // ONE probe pass (r16): both rank probes (k_lo, k_hi) ride a single
      // broadcast join over the rank-range table — the earlier shape ran
      // the join twice (two full passes over the |distinct (g, v)| table)
      // and joined the two results back. A row matches when EITHER probe
      // lands in its [prev, cum) range; the conditional max per (g, q)
      // reassembles v_lo/v_hi (when k_lo = k_hi, m = 0 and one row serves
      // both). Same broadcast-ranks, same exact-integer interpolation.
      def hit(k: String): Column =
        col(k) >= col("prev") && col(k) < col("cum")
      cum.join(broadcast(ranks),
          col("g") === col("rg") && (hit("k_lo") || hit("k_hi")))
        .groupBy(col("g"), col("q"), col("n"), col("m"))
        .agg(max(when(hit("k_lo"), col("v"))).as("v_lo"),
          max(when(hit("k_hi"), col("v"))).as("v_hi"))
        .select(col("g"), col("n"), col("q"),
          (lit(4L) * col("v_lo") + col("m") * (col("v_hi") - col("v_lo")))
            .as("p_qc"))
        .groupBy(col("g").as("l_returnflag"), col("n"))
        .agg(max(when(col("q") === 25, col("p_qc"))).as("p25_qc"),
          max(when(col("q") === 50, col("p_qc"))).as("p50_qc"),
          max(when(col("q") === 75, col("p_qc"))).as("p75_qc"))
        .orderBy("l_returnflag")
    },

    // `terms(field, n)` (ES top-N buckets): groupBy/count/orderBy/limit.
    GQuery(
      "q_terms",
      """SELECT p_brand AS key, count(*) AS cnt FROM part
        |GROUP BY p_brand ORDER BY cnt DESC, key LIMIT 5""".stripMargin) { (s, d) =>
      part(s, d)
        .groupBy(col("p_brand").as("key"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("key"))
        .limit(5)
    },

    GQuery(
      "q_agg_over_expr",
      """SELECT p_brand,
        |       CAST(round(sum(length(CAST(p_name AS VARCHAR))) * 1000000.0
        |                  / count(*)) AS BIGINT) / 1000000.0 AS avg_len
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin) { (s, d) =>
      // integer-space avg rounding (see q_text_quality)
      part(s, d)
        .groupBy("p_brand")
        .agg((round(sum(length(col("p_name").cast("string"))).cast("long") *
          lit(1000000.0) / count(lit(1))).cast("long") / lit(1000000.0))
          .as("avg_len"))
        .orderBy("p_brand")
    },

    // --- order / limit / offset -------------------------------------------
    GQuery(
      "q_topk",
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |LIMIT 10""".stripMargin) { (s, d) =>
      li(s, d)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
          col("l_linenumber"))
        .limit(10)
    },

    GQuery(
      "q_offset",
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 10 OFFSET 20""".stripMargin) { (s, d) =>
      ord(s, d)
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .offset(20)
        .limit(10)
    },

    // Scalar subqueries, correlated and uncorrelated. The correlated
    // per-order COUNT is the classic "COUNT bug" shape (an order with no
    // lineitems must read 0, not NULL) — Catalyst decorrelates it to a
    // left outer aggregate join, so the per-row subquery never executes
    // per row; the uncorrelated min() evaluates once and broadcasts as a
    // literal. All-integer outputs keep the compare exact.
    GQuery(
      "q_scalar_subquery",
      """SELECT o_orderkey,
        |       (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |        WHERE l_orderkey = o_orderkey) AS n_items,
        |       CAST(o_custkey - (SELECT min(o_custkey) FROM orders) AS BIGINT)
        |         AS custkey_off
        |FROM orders WHERE o_orderkey < 200
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      Tables.registerAll(s, d)
      s.sql(
        """SELECT o_orderkey,
          |       (SELECT count(*) FROM lineitem
          |        WHERE l_orderkey = o_orderkey) AS n_items,
          |       o_custkey - (SELECT min(o_custkey) FROM orders) AS custkey_off
          |FROM orders WHERE o_orderkey < 200
          |ORDER BY o_orderkey""".stripMargin)
    },

    // Exact grouped MODE (most frequent value, deterministic smallest-value
    // tie-break) — the remaining member of the median/mode family the
    // reference lacks: counts per (group, value) in one partial+final hash
    // aggregate, then the winner per group as ONE map-side-combinable
    // struct-max (max of (cnt, -v) picks highest count, then smallest
    // value) — no per-group value buffer, no window, both shuffles keyed
    // and partially aggregated.
    GQuery(
      "q_agg_mode",
      """WITH c AS (
        |  SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS v,
        |         count(*) AS cnt
        |  FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT g, v, cnt,
        |             row_number() OVER (PARTITION BY g ORDER BY cnt DESC, v) AS rn
        |      FROM c)
        |SELECT g AS l_returnflag, v AS mode_qty, CAST(cnt AS BIGINT) AS mode_cnt
        |FROM r WHERE rn = 1 ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      li(s, d)
        .select(col("l_returnflag").as("g"),
          expr("CAST(l_quantity AS BIGINT)").as("v"))
        .groupBy("g", "v").agg(count(lit(1)).as("cnt"))
        .groupBy("g")
        .agg(max(struct(col("cnt").as("c"), (-col("v")).as("nv"))).as("w"))
        .select(col("g").as("l_returnflag"),
          (-col("w.nv")).as("mode_qty"), col("w.c").as("mode_cnt"))
        .orderBy("l_returnflag")
    },

    // Correlated EXISTS / NOT EXISTS subqueries through the SQL text
    // surface — Catalyst decorrelates both into the same left-semi /
    // left-anti hash joins as q_join_semi/q_join_anti (asserted shapes),
    // so the SQL sugar inherits that scale discipline: no per-row
    // re-execution of the subquery, one shuffle per correlation key.
    GQuery(
      "q_exists_subquery",
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 150000)
        |  AND NOT EXISTS (SELECT 1 FROM orders o2
        |                  WHERE o2.o_custkey = c.c_custkey
        |                    AND o2.o_orderstatus = 'F'
        |                    AND o2.o_totalprice < 50000)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.registerAll(s, d)
      s.sql(
        """SELECT c_custkey, c_name FROM customer c
          |WHERE EXISTS (SELECT 1 FROM orders o
          |              WHERE o.o_custkey = c.c_custkey
          |                AND o.o_totalprice > 150000)
          |  AND NOT EXISTS (SELECT 1 FROM orders o2
          |                  WHERE o2.o_custkey = c.c_custkey
          |                    AND o2.o_orderstatus = 'F'
          |                    AND o2.o_totalprice < 50000)
          |ORDER BY c_custkey""".stripMargin)
    },

    // Table profiling — the ANALYZE/data-quality scan run before trusting
    // a new 100 TB drop: per-column non-null count, null count, EXACT
    // distinct count, min/max (rendered per type family AFTER the
    // aggregate, so numeric ordering is never string ordering), and total
    // rendered length. Plain aggregates ride ONE pass; the five exact
    // COUNT(DISTINCT)s run as five single-column two-stage aggregates
    // overlapped on a small driver pool (r16 — the one-agg shape's 6-way
    // Expand was 85% of the query, see the builder comment). At petabyte
    // scale the same layout swaps count_distinct for
    // approx_count_distinct, which folds back into the single pass (the
    // q_cardinality tolerance-gate pattern).
    GQuery(
      "q_profile_stats", {
        def duck(c: String, render: String => String, lenExpr: String) =
          s"""SELECT '$c' AS col_name,
             |       CAST(count($c) AS BIGINT) AS n_nonnull,
             |       CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
             |       ${render(s"min($c)")} AS min_v,
             |       ${render(s"max($c)")} AS max_v,
             |       CAST(sum(len($lenExpr)) AS BIGINT) AS total_len
             |FROM lineitem""".stripMargin
        val str = (e: String) => s"CAST($e AS VARCHAR)"
        val ts = (e: String) => s"strftime($e, '%Y-%m-%d %H:%M:%S')"
        val parts = Seq(
          duck("l_orderkey", str, "CAST(l_orderkey AS VARCHAR)"),
          duck("l_linenumber", str, "CAST(l_linenumber AS VARCHAR)"),
          duck("l_returnflag", str, "l_returnflag"),
          duck("l_linestatus", str, "l_linestatus"),
          duck("l_shipdate", ts, "strftime(l_shipdate, '%Y-%m-%d %H:%M:%S')"))
        s"""WITH t AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM lineitem)
           |SELECT p.col_name, t.n_rows, p.n_nonnull,
           |       t.n_rows - p.n_nonnull AS n_null,
           |       p.n_distinct, p.min_v, p.max_v, p.total_len
           |FROM (${parts.mkString("\nUNION ALL\n")}) p CROSS JOIN t
           |ORDER BY col_name""".stripMargin
      }) { (s, d) =>
      val cols = Seq("l_orderkey", "l_linenumber", "l_returnflag",
        "l_linestatus", "l_shipdate")
      // render AFTER aggregating: min/max compare in the native type
      def rendered(e: Column, c: String): Column =
        if (c == "l_shipdate") date_format(e, "yyyy-MM-dd HH:mm:ss")
        else e.cast("string")
      // EXACT distinct counts as five SINGLE-column two-stage aggregates
      // overlapped on a small driver pool (r16, guide §2.6), instead of
      // folding all five COUNT(DISTINCT)s into the one agg: that shape
      // planned a 6-way Expand whose partial hash aggregate dragged every
      // plain-agg buffer through each expanded group — measured 10.1 s at
      // sf0.1 vs 1.8 s for the plain aggs alone; the five per-column
      // aggregates (0.5 s overlapped) are partial-aggregated map-side
      // over column-pruned scans, so nothing but distinct values
      // shuffles. Five driver scalars, same exact values. At petabyte
      // scale the documented swap to approx_count_distinct folds back
      // into the single pass with no layout change.
      // The five jobs carry one job tag: past ProfileStatsDeadline, or when
      // one count fails, the query fails and no tagged job outlives it.
      val nd: Map[String, Long] = {
        import scala.concurrent.{Await, ExecutionContext, Future}
        val sc = s.sparkContext
        val tag = s"q_profile_stats-${java.util.UUID.randomUUID}"
        val stopped = new java.util.concurrent.atomic.AtomicBoolean(false)
        val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
        try {
          implicit val ec: ExecutionContext =
            ExecutionContext.fromExecutor(pool)
          val counts = Future.traverse(cols) { c =>
            Future {
              if (stopped.get) throw new java.util.concurrent.CancellationException(c)
              sc.addJobTag(tag)
              try c -> li(s, d).agg(countDistinct(col(c))).first().getLong(0)
              finally sc.removeJobTag(tag)
            }
          }
          try Await.result(counts, ProfileStatsDeadline).toMap
          catch {
            case e: Exception =>
              // queued counts now start no job; a count already past its
              // check may still submit one, so cancel the tag until every
              // pool thread is done (no interrupt: a thread interrupted in
              // runJob returns while its job runs on)
              stopped.set(true)
              pool.shutdown()
              sc.cancelJobsWithTag(tag)
              while (!pool.awaitTermination(1, java.util.concurrent.TimeUnit.SECONDS))
                sc.cancelJobsWithTag(tag)
              e match {
                case t: java.util.concurrent.TimeoutException =>
                  throw new IllegalStateException(
                    s"q_profile_stats: the distinct counts did not finish within " +
                      s"$ProfileStatsDeadline; their jobs were cancelled", t)
                case _ => throw e
              }
          }
        } finally pool.shutdown()
      }
      val aggs: Seq[Column] = count(lit(1)).as("n_rows") +: cols.flatMap { c =>
        Seq(
          count(col(c)).as(s"nn_$c"),
          rendered(min(col(c)), c).as(s"min_$c"),
          rendered(max(col(c)), c).as(s"max_$c"),
          sum(length(rendered(col(c), c))).as(s"len_$c"))
      }
      val one = li(s, d).agg(aggs.head, aggs.tail: _*)
      val stacked = cols
        .map(c => s"'$c', nn_$c, ${nd(c)}L, min_$c, max_$c, len_$c")
        .mkString(", ")
      one.select(col("n_rows"), expr(s"stack(${cols.size}, $stacked) as " +
          "(col_name, n_nonnull, n_distinct, min_v, max_v, total_len)"))
        .select(col("col_name"), col("n_rows"), col("n_nonnull"),
          (col("n_rows") - col("n_nonnull")).as("n_null"), col("n_distinct"),
          col("min_v"), col("max_v"), col("total_len"))
        .orderBy("col_name")
    },

    // Declarative data-quality constraint checking (the Deequ/dbt-test
    // shape): uniqueness, completeness, domain membership, range, and
    // cross-table referential integrity, each reported as (constraint,
    // n_checked, n_violations, passed). Constraints are chosen so some
    // FAIL with non-zero counts on this data (an all-zero report can't
    // distinguish a correct checker from a broken one): the RI check
    // references only the %7-surviving customer keys (a stand-in for an
    // "active" dimension subset), the domain check omits 'P', and the
    // range check uses a threshold real rows violate. Scale shape: the
    // four single-table constraints fold into ONE conditional-aggregate
    // pass over orders (count + exact distinct + filtered counts share
    // the scan), and the RI check is a LEFT ANTI join against the
    // referenced key set — at 100 TB the anti join shuffles on the key,
    // pruned to the keys column on both sides; nothing else leaves the
    // scans. The uniqueness violation count is n - countDistinct, exact.
    GQuery(
      "q_profile_constraints",
      """WITH s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(count(DISTINCT o_orderkey) AS BIGINT) AS nd,
        |         CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT) AS null_cust,
        |         CAST(count(*) FILTER (
        |           WHERE o_orderstatus NOT IN ('O', 'F')) AS BIGINT) AS bad_status,
        |         CAST(count(*) FILTER (WHERE o_totalprice < 1000.0) AS BIGINT) AS bad_price
        |  FROM orders),
        |ri AS (
        |  SELECT CAST(count(*) AS BIGINT) AS orphans
        |  FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                    WHERE c.c_custkey % 7 <> 0
        |                      AND o.o_custkey = c.c_custkey))
        |SELECT * FROM (
        |  SELECT 'orders.o_custkey references active customers' AS constraint_name,
        |         s.n AS n_checked, ri.orphans AS n_violations, ri.orphans = 0 AS passed
        |  FROM s CROSS JOIN ri
        |  UNION ALL SELECT 'orders.o_custkey not_null', n, null_cust, null_cust = 0 FROM s
        |  UNION ALL SELECT 'orders.o_orderkey unique', n, n - nd, n = nd FROM s
        |  UNION ALL SELECT 'orders.o_orderstatus in (O,F)', n, bad_status,
        |                   bad_status = 0 FROM s
        |  UNION ALL SELECT 'orders.o_totalprice >= 1000', n, bad_price,
        |                   bad_price = 0 FROM s)
        |ORDER BY constraint_name""".stripMargin) { (s, d) =>
      val o = ord(s, d)
      val single = o.agg(
        count(lit(1)).as("n"),
        countDistinct("o_orderkey").as("nd"),
        count(when(col("o_custkey").isNull, 1)).as("null_cust"),
        count(when(!col("o_orderstatus").isin("O", "F"), 1)).as("bad_status"),
        count(when(col("o_totalprice") < 1000.0, 1)).as("bad_price"))
      val orphans = o.select("o_custkey")
        .join(Tables.load(s, d, "customer").select("c_custkey")
          .filter(col("c_custkey") % 7 =!= 0),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("orphans"))
      single.crossJoin(orphans)
        .select(expr(
          """stack(5,
            |  'orders.o_custkey references active customers', n, orphans, orphans = 0,
            |  'orders.o_custkey not_null', n, null_cust, null_cust = 0,
            |  'orders.o_orderkey unique', n, n - nd, n = nd,
            |  'orders.o_orderstatus in (O,F)', n, bad_status, bad_status = 0,
            |  'orders.o_totalprice >= 1000', n, bad_price, bad_price = 0)
            |AS (constraint_name, n_checked, n_violations, passed)"""
            .stripMargin.replace("\n", " ")))
        .orderBy("constraint_name")
    },

    // Z-order (Morton) data layout — the multi-dimensional clustering an
    // OPTIMIZE ... ZORDER BY runs so per-file min/max sidecars can prune
    // on EVERY clustered dimension, not just a sort prefix. The z-value
    // interleaves the bits of both keys (one codegen'd integer
    // projection, statically unrolled shifts); bucketing rows by z-rank
    // then bounds BOTH key ranges per bucket, where a plain (a, b) sort
    // bounds only `a` and leaves `b` spanning its whole domain in every
    // bucket. The gate lays lineitem out both ways and emits each
    // bucket's per-dimension bounding box plus its area — the file-skip
    // quality metric: for a 2-dim point/range query, expected files
    // scanned is proportional to the summed box areas.
    //   Determinism: buckets are NTILE's exact fill rule computed in
    // closed form from a global rank over a unique total order — the
    // same integer formula on both engines.
    //   Scale (100 TB): the z projection is shuffle-free; the global
    // rank is the two-pass GroupedPrefixSum (range shuffle + metadata
    // offsets), NOT a single-task global window — the same one
    // range-shuffle any OPTIMIZE pays. Buckets stand in for part files.
    GQuery(
      "q_layout_zorder", {
        // grid-normalized interleave: an/bn live on the same 2^ZBits grid
        // whatever the raw domains, a's bits on the higher (odd) positions
        val zterms = (0 until ZBits).map(i =>
          s"(((an >> $i) & 1) << ${2 * i + 1}) + " +
            s"(((bn >> $i) & 1) << ${2 * i})").mkString(" + ")
        def ntileSql(rnk: String) =
          s"""CASE WHEN $rnk <= (t.q + 1) * t.rem
             |  THEN ($rnk - 1) // (t.q + 1) + 1
             |  ELSE t.rem + ($rnk - 1 - t.rem * (t.q + 1)) // t.q + 1
             |END""".stripMargin.replace("\n", " ")
        s"""WITH base AS (
           |  SELECT l_partkey AS a, l_suppkey AS b, l_orderkey, l_linenumber
           |  FROM lineitem),
           |t AS (SELECT count(*) // $ZBuckets AS q,
           |             count(*) % $ZBuckets AS rem,
           |             max(a) AS mxa, max(b) AS mxb FROM base),
           |src AS (
           |  SELECT a, b, l_orderkey, l_linenumber, CAST($zterms AS BIGINT) AS z
           |  FROM (SELECT base.*,
           |          (a * ${1L << ZBits}) // (t.mxa + 1) AS an,
           |          (b * ${1L << ZBits}) // (t.mxb + 1) AS bn
           |        FROM base CROSS JOIN t)),
           |rz AS (
           |  SELECT a, b,
           |         row_number() OVER (ORDER BY z, l_orderkey, l_linenumber) AS rnk
           |  FROM src),
           |rs AS (
           |  SELECT a, b,
           |         row_number() OVER (ORDER BY a, b, l_orderkey, l_linenumber) AS rnk
           |  FROM src),
           |lay AS (
           |  SELECT 'zorder' AS layout,
           |         CAST(${ntileSql("rz.rnk")} AS BIGINT) AS bucket, a, b
           |  FROM rz CROSS JOIN t
           |  UNION ALL
           |  SELECT 'sort_ab' AS layout,
           |         CAST(${ntileSql("rs.rnk")} AS BIGINT) AS bucket, a, b
           |  FROM rs CROSS JOIN t)
           |SELECT layout, bucket, CAST(count(*) AS BIGINT) AS n,
           |       min(a) AS min_a, max(a) AS max_a,
           |       min(b) AS min_b, max(b) AS max_b,
           |       CAST((max(a) - min(a)) * (max(b) - min(b)) AS BIGINT) AS box_area
           |FROM lay GROUP BY layout, bucket
           |ORDER BY layout, bucket""".stripMargin
      }) { (s, d) =>
      val base = li(s, d)
        .select(col("l_partkey").as("a"), col("l_suppkey").as("b"),
          col("l_orderkey"), col("l_linenumber"))
        // persisted (r16, guide §5): THREE consumers read this projection
        // — the metadata job below and each layout arm's range shuffle —
        // so unpersisted the parquet scan ran three times; released by
        // the harness clearCache
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // one metadata job: row count (for the NTILE fill rule) + per-dim
      // maxima (for the grid normalization)
      val meta = base.agg(count(lit(1)), max("a"), max("b")).collect().head
      val (total, mxa, mxb) = (meta.getLong(0), meta.getLong(1), meta.getLong(2))
      val (q, rem) = (total / ZBuckets, total % ZBuckets)
      val grid = 1L << ZBits
      def norm(name: String, mx: Long): Column =
        expr(s"($name * $grid) div ${mx + 1}")
      val z = (0 until ZBits).map { i =>
        shiftleft(shiftright(col("an"), i).bitwiseAND(lit(1L)), 2 * i + 1) +
          shiftleft(shiftright(col("bn"), i).bitwiseAND(lit(1L)), 2 * i)
      }.reduce(_ + _)
      val src = base
        .withColumn("an", norm("a", mxa))
        .withColumn("bn", norm("b", mxb))
        .withColumn("z", z.cast("long"))
        .drop("an", "bn")
      // NTILE's fill rule from the 1-based rank, in closed integer form
      // (`div` = exact integer division; Column `/` would go through
      // doubles)
      val bucketOf: Column = expr(
        s"""CASE WHEN rnk <= ${(q + 1) * rem}
           |  THEN (rnk - 1) div ${q + 1} + 1
           |  ELSE $rem + (rnk - 1 - ${rem * (q + 1)}) div $q + 1
           |END""".stripMargin.replace("\n", " ")).cast("long")
      def laidOut(name: String, order: Seq[Column]) =
        graft.operators.GroupedPrefixSum
          .runningSum(src, Seq.empty, order, lit(1L), "rnk")
          .select(lit(name).as("layout"),
            bucketOf.as("bucket"), col("a"), col("b"))
      val lay = laidOut("zorder",
          Seq(col("z"), col("l_orderkey"), col("l_linenumber")))
        .unionAll(laidOut("sort_ab",
          Seq(col("a"), col("b"), col("l_orderkey"), col("l_linenumber"))))
      lay.groupBy("layout", "bucket")
        .agg(count(lit(1)).as("n"),
          min("a").as("min_a"), max("a").as("max_a"),
          min("b").as("min_b"), max("b").as("max_b"))
        .withColumn("box_area",
          ((col("max_a") - col("min_a")) * (col("max_b") - col("min_b")))
            .cast("long"))
        .orderBy("layout", "bucket")
    },

    // Snapshot diffing / CDC between two table versions: classify every
    // key as added / removed / changed between an old and a new snapshot
    // (both derived deterministically from `documents`: the old snapshot
    // misses doc_id%13==0, the new misses doc_id%17==0 and rewrites the
    // text of doc_id%11==0). The scale trick is FINGERPRINT-FIRST: each
    // side reduces to (key, md5(payload)) BEFORE the full outer join, so
    // only two thin (key, hash) streams shuffle — never the payloads —
    // and unchanged rows (the overwhelming majority at 100 TB) are
    // dropped right after the join. Payload retrieval for changed keys
    // would be a second key-pruned scan, not part of the diff itself.
    GQuery(
      "q_cdc_snapshot_diff",
      """WITH oldv AS (
        |  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 13 <> 0),
        |newv AS (
        |  SELECT doc_id,
        |         md5(CASE WHEN doc_id % 11 = 0 THEN upper(text) ELSE text END) AS h
        |  FROM documents WHERE doc_id % 17 <> 0)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |       CASE WHEN o.doc_id IS NULL THEN 'added'
        |            WHEN n.doc_id IS NULL THEN 'removed'
        |            ELSE 'changed' END AS change,
        |       o.h AS old_md5, n.h AS new_md5
        |FROM oldv o FULL OUTER JOIN newv n ON o.doc_id = n.doc_id
        |WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR o.h <> n.h
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val base = Tables.load(s, d, "documents")
      val oldv = base.filter(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"), md5(col("text")).as("old_md5"))
      val newv = base.filter(col("doc_id") % 17 =!= 0)
        .select(col("doc_id"),
          md5(when(col("doc_id") % 11 === 0, upper(col("text")))
            .otherwise(col("text"))).as("new_md5"))
      oldv.join(newv, Seq("doc_id"), "full_outer")
        .filter(col("old_md5").isNull || col("new_md5").isNull ||
          col("old_md5") =!= col("new_md5"))
        .select(col("doc_id"),
          when(col("old_md5").isNull, "added")
            .when(col("new_md5").isNull, "removed")
            .otherwise("changed").as("change"),
          col("old_md5"), col("new_md5"))
        .orderBy("doc_id")
    },

    // Incremental aggregate maintenance — the materialized-view merge
    // idiom: a stored per-group aggregate table (base, event_id%10<>0
    // standing in for history) absorbs a delta batch by ALGEBRAIC MERGE
    // (counts add, integer sums add, min/min, max/max) instead of a full
    // recompute. The oracle IS the full recompute over all events, so the
    // gate proves merge == recompute. At 100 TB only the delta shuffles;
    // the history table is metadata-sized (one row per group) and never
    // rescanned. The value sum is kept in integer cents (round(value*100)
    // per row) — associative and order-free, so partial merges are exact.
    GQuery(
      "q_incr_agg_merge",
      """WITH ev AS (
        |  SELECT event_type, event_id,
        |         CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       CAST(min(event_id) AS BIGINT) AS min_eid,
        |       CAST(max(event_id) AS BIGINT) AS max_eid
        |FROM ev GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val ev = Tables.load(s, d, "events")
        .select(col("event_type"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents"))
      def aggOf(part: org.apache.spark.sql.DataFrame) =
        part.groupBy("event_type").agg(
          count(lit(1)).as("n"), sum("cents").as("sum_cents"),
          min("event_id").as("min_eid"), max("event_id").as("max_eid"))
      val baseAgg = aggOf(ev.filter(col("event_id") % 10 =!= 0))  // stored MV
      val deltaAgg = aggOf(ev.filter(col("event_id") % 10 === 0)) // new batch
      baseAgg.unionByName(deltaAgg)
        .groupBy("event_type")
        .agg(sum("n").as("n"), sum("sum_cents").as("sum_cents"),
          min("min_eid").as("min_eid"), max("max_eid").as("max_eid"))
        .orderBy("event_type")
    }
  )
}
