package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{GQuery, Tables}
import graft.engine.GraftEngine
import graft.sources.{BqEndpoint, BqEndpointSpec, BtEndpoint, BtEndpointSpec,
  CqlEndpoint, CqlEndpointSpec, DsEndpoint, DsEndpointSpec, EsDiscovery,
  EsEndpoint, EsEndpointSpec, FedData, HttpRestClient, LoopbackCqlServer,
  LoopbackMongoServer, LoopbackRestServer, MongoEndpoint, MongoEndpointSpec,
  SourceRegistry, WireClientConfig, WireEndpoints}

/** Federation surface: queries over the DSv2 file connector
  * (graft.sources.*) — the Spark-native equivalent of the reference's
  * multi-backend SQL layer (SURVEY.md §2.1/§2.9).
  *
  * Every query here reads CSV/JSONL staged *through the connector's own
  * write path* from the driver parquet ([[graft.sources.FedData]]), so the
  * DuckDB oracle runs the same logical query over the parquet originals:
  * a value-exact round-trip proof of codec + pushdown + polyfill.
  */
object Federation {

  private def fed(s: SparkSession, d: String): Unit = FedData.ensure(s, d)
  private val C = SourceRegistry.CatalogName

  /** The shared item_id/name/qty/price fixture schema of the DML gates. */
  private def dmlSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("item_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("name",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("qty",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("price",
        org.apache.spark.sql.types.DoubleType)))

  val queries: Seq[GQuery] = Seq(

    // Full accept-list pushdown: range + prefix predicates land in the
    // scan (golden-plan asserted in FileSourceSpec); only pushed columns
    // are parsed (column pruning reaches the CSV reader).
    GQuery(
      "q_src_csv_pushdown",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |WHERE n_regionkey >= 2 AND n_name LIKE 'NATION_1%'
        |ORDER BY n_nationkey""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.SourceName}.nation_csv")
        .filter(col("n_regionkey") >= 2 && col("n_name").startsWith("NATION_1"))
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    },

    // Residual polyfill: the OR tree is declined by the connector's
    // accept-list (Cassandra-style AND-only conjunctions,
    // sql_to_cql.go:441-468) and re-applied by Spark post-scan, while the
    // range conjunct still pushes — the reference's partial-pushdown
    // semantics (sql_to_cql.go:199-204).
    GQuery(
      "q_src_csv_residual",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |WHERE (n_regionkey = 0 OR n_name LIKE '%7') AND n_nationkey >= 5
        |ORDER BY n_nationkey""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.SourceName}.nation_csv")
        .filter((col("n_regionkey") === 0 || col("n_name").endsWith("7")) &&
          col("n_nationkey") >= 5)
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    },

    // JSONL scan with IN + range pushdown and double round-trip.
    GQuery(
      "q_src_json_filter",
      """SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
        |WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE') AND c_acctbal > 9000.0
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.SourceName}.customer_json")
        .filter(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE") &&
          col("c_acctbal") > 9000.0)
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
        .orderBy("c_custkey")
    },

    // Timestamp round-trip through the text codec + range pushdown on a
    // timestamp column (the reference pushes date BETWEEN to its backends,
    // backends/mongo/mgo_test.go BETWEEN-dates cases).
    GQuery(
      "q_src_ts_roundtrip",
      """SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-03-01'
        |  AND o_orderkey < 50000
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      fed(s, d)
      // NTZ literals keep the comparison cast-free, so the range pushes
      // into the scan instead of becoming a residual around a Cast.
      s.table(s"$C.${FedData.SourceName}.orders_csv")
        .filter(col("o_orderdate") >= lit(java.time.LocalDateTime.parse("1997-01-01T00:00")) &&
          col("o_orderdate") < lit(java.time.LocalDateTime.parse("1997-03-01T00:00")) &&
          col("o_orderkey") < 50000)
        .select("o_orderkey", "o_orderdate", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // Heterogeneous-source federation join (reference:
    // backends/tests/multi_backend_test.go:168-200, mongo ⨝ es): CSV
    // nation ⨝ JSONL customer ⨝ parquet orders across two catalogs in one
    // plan. The tiny CSV dimension is broadcast — no shuffle for it at any
    // scale; the customer⨝orders equi-join shuffles on the key, the layout
    // that survives 1000 executors.
    GQuery(
      "q_src_join_hetero",
      """SELECT n.n_name, count(*) AS n_orders,
        |       CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(18,2))), 1) AS DOUBLE) AS revenue
        |FROM nation n
        |JOIN customer c ON c.c_nationkey = n.n_nationkey
        |JOIN orders o ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderstatus = 'F'
        |GROUP BY n.n_name
        |ORDER BY n.n_name""".stripMargin) { (s, d) =>
      fed(s, d)
      val nation = s.table(s"$C.${FedData.SourceName}.nation_csv")
      val cust = s.table(s"$C.${FedData.SourceName}.customer_json")
        .filter(col("c_mktsegment") === "BUILDING")
      val ord = Tables.load(s, d, "orders")
        .filter(col("o_orderstatus") === "F")
      ord.join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_orders"),
          // decimal sum: order-insensitive exact addition, so partition
          // ordering can never flip a rounding boundary vs the oracle
          round(sum(col("o_totalprice").cast("decimal(18,2)")), 1)
            .cast("double").as("revenue"))
        .orderBy("n_name")
    },

    // `_files` meta-table (reference: backends/files/filesource_test.go:
    // 221-238): which tables exist in the source and in what format.
    // File counts/sizes vary with write parallelism, so the stable
    // projection is (table, format).
    GQuery(
      "q_src_files_meta",
      """SELECT * FROM (VALUES ('customer_json', 'json'),
        |                      ('nation_csv', 'csv'),
        |                      ('orders_csv', 'csv')) AS t(table_name, format)
        |ORDER BY table_name""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.SourceName}._files")
        .filter(col("table_name").isin("customer_json", "nation_csv", "orders_csv"))
        .select("table_name", "format").distinct()
        .orderBy("table_name")
    },

    // Top-N pushdown (reference: SQL ORDER BY/LIMIT → ES `sort`+`size`,
    // backends/elasticsearch/sqltoes.go:239-259; Datastore Order,
    // sql_to_datastore.go:118-133): each file ships only its local top-10
    // via a bounded heap, Spark's global TopN merges the candidates. The
    // sort carries a unique tiebreaker so the result is deterministic.
    GQuery(
      "q_src_topn_pushdown",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderstatus = 'O'
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.SourceName}.orders_csv")
        .filter(col("o_orderstatus") === "O")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    },

    // Cassandra-profile source: only equality/IN on the declared key
    // column (c_custkey) pushes (sql_to_cql.go:441-468); the balance range
    // is declined and polyfilled by Spark — the reference's key-constrained
    // pushdown with engine-side residual (sql_to_cql.go:199-204).
    GQuery(
      "q_src_key_pushdown",
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_custkey IN (1, 7, 42, 99, 123, 456) AND c_acctbal > 1000.0
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.KvSourceName}.customer_kv")
        .filter(col("c_custkey").isin(1, 7, 42, 99, 123, 456) &&
          col("c_acctbal") > 1000.0)
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    },

    // Get-by-key short-circuit (reference: Datastore rewrites key-equality
    // lookups into direct gets, sql_to_datastore.go:70-150): per-file
    // [min,max] key ranges recorded at write commit prune the scan's file
    // list — the kv table is staged range-partitioned on c_custkey, so the
    // two requested keys touch two of the four part files and the rest are
    // never opened (plan-asserted in FileSourceSpec).
    GQuery(
      "q_src_get_by_key",
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE c_custkey IN (7, 1402) ORDER BY c_custkey""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.KvSourceName}.customer_kv")
        .filter(col("c_custkey").isin(7, 1402))
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    },

    // BigTable-profile source: the row-key prefix predicate pushes as a
    // row range (sql_to_bt.go:150-239 PrefixRange); the non-key p_size
    // conjunct is declined and re-applied by Spark.
    GQuery(
      "q_src_prefix_scan",
      """SELECT p_partkey, p_name, p_size FROM part
        |WHERE p_name LIKE 'red%' AND p_size >= 25
        |ORDER BY p_partkey""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.BtSourceName}.part_bt")
        .filter(col("p_name").startsWith("red") && col("p_size") >= 25)
        .select("p_partkey", "p_name", "p_size")
        .orderBy("p_partkey")
    },

    // Full-statement passthrough (reference: the BigQuery backend
    // re-renders the entire SQL statement in the target dialect and ships
    // it as ONE job — filters, aggregate, sort, limit all consumed,
    // backends/bigquery/sql_to_bq.go:72-104). The OR tree (declined by
    // every other profile) pushes, the aggregate is COMPLETE (no Spark-side
    // partial/final pair), and the sort+limit is consumed exactly — the
    // Spark plan is a bare V2 scan (golden-plan in FileSourceSpec).
    // avg over an integer key: exact integer sum / count, so the one IEEE
    // division matches the oracle bit-for-bit.
    GQuery(
      "q_src_passthrough",
      """SELECT o_orderpriority, count(*) AS n_orders,
        |       CAST(min(o_orderkey) AS BIGINT) AS min_key,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       avg(o_custkey) AS avg_cust
        |FROM orders
        |WHERE o_orderstatus = 'F' OR o_totalprice > 200000.0
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority
        |LIMIT 4""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.BqSourceName}.orders_bq")
        .filter(col("o_orderstatus") === "F" || col("o_totalprice") > 200000.0)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          min("o_orderkey").as("min_key"),
          sum("o_custkey").as("sum_cust"),
          avg("o_custkey").as("avg_cust"))
        .orderBy("o_orderpriority")
        .limit(4)
    },

    // REST-shaped source (reference: the Lytics backend turns WHERE
    // equality into URL query params and streams JSON,
    // backends/lytics/generator.go:96-111; Kube sql_to_kube.go is the same
    // shape): an in-process endpoint behind the same DSv2 Table/
    // ScanBuilder — the connector framework is not file-bound. The
    // n_regionkey equality ships as an API param; LIKE is outside the API
    // surface, declined and polyfilled by Spark.
    GQuery(
      "q_src_rest",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |WHERE n_regionkey = 2 AND n_name LIKE '%2'
        |ORDER BY n_nationkey""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.RestSourceName}.nation_api")
        .filter(col("n_regionkey") === 2 && col("n_name").endsWith("2"))
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    },

    // REST SegmentQL filter pushdown (reference: the Lytics backend
    // compiles the ENTIRE WHERE tree into a FilterStatement and ships
    // its text to the ad-hoc segment-scan API — generator.go:96-111 +
    // resultreader.go PageAdHocSegment — not just param equalities):
    // the IN list, the OR tree, the range, the anchored LIKE AND the
    // EXISTS/NOT pair over the null-bearing opt_tag column all render
    // into ONE `filterql` statement the server parses, type-checks
    // against the listing schema and applies with proper 3VL — on the
    // NULL rows `NOT (opt_tag = ...)` stays UNKNOWN and the server must
    // DROP them; a two-valued evaluator would return them and fail the
    // oracle. (Catalyst also infers IsNotNull from the null-intolerant
    // NOT-equality, so the shipped statement carries the EXISTS form
    // too — see PLANS.md.) Residual is EMPTY — nothing left for Spark
    // to polyfill (asserted in HttpRestSpec), so only matching rows
    // cross the wire.
    GQuery(
      "q_src_rest_filterql",
      """WITH seg AS (
        |  SELECT c_custkey, c_name, c_mktsegment, c_nationkey, c_acctbal,
        |         CASE WHEN c_custkey % 3 = 0 THEN NULL
        |              ELSE 'tag-' || CAST(c_custkey % 7 AS VARCHAR) END AS opt_tag
        |  FROM customer)
        |SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM seg
        |WHERE (c_mktsegment IN ('BUILDING', 'MACHINERY') OR c_acctbal > 9500.0)
        |  AND c_nationkey >= 10 AND c_name LIKE '%7'
        |  AND NOT (opt_tag = 'tag-3')
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.RestSourceName}.segments_api")
        .filter((col("c_mktsegment").isin("BUILDING", "MACHINERY") ||
          col("c_acctbal") > 9500.0) &&
          col("c_nationkey") >= 10 && col("c_name").endsWith("7") &&
          !(col("opt_tag") === "tag-3"))
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
        .orderBy("c_custkey")
    },

    // KUBERNETES-PROTOCOL scan (reference: _kube/source.go:180-340
    // describes pods/nodes/services as typed tables; sql_to_kube.go
    // splits WHERE into pushable/polyfill): the typed pods table is
    // listed with `GET /api/v1/pods?fieldSelector=metadata.namespace=
    // default,status.phase=Running` — both equalities ride the API's
    // own selector surface (the server 400s unsupported selector keys)
    // — and the nested {metadata,spec,status} items flatten back into
    // columns. The cluster objects derive deterministically from
    // `supplier`, so the oracle reproduces the listing in SQL.
    GQuery(
      "q_src_kube",
      """SELECT 'pod-' || CAST(s_suppkey AS VARCHAR) AS name,
        |       'default' AS namespace, 'Running' AS phase,
        |       'node-' || CAST(s_nationkey AS VARCHAR) AS nodename
        |FROM supplier
        |WHERE s_nationkey % 2 = 0 AND s_suppkey % 3 = 0
        |ORDER BY name""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.KubeSourceName}.pods")
        .filter(col("namespace") === "default" && col("phase") === "Running")
        .select("name", "namespace", "phase", "nodename")
        .orderBy("name")
    },

    // ES-PROTOCOL scan over a real socket (reference: sqltoes.go:112-279
    // compiles WHERE into bool/term/range/wildcard DSL JSON and POSTs it
    // to _search): the range + wildcard + OR tree all compile and ship
    // server-side; hits stream back from/size-paged. The whole predicate
    // is inside the ES accept-list, so Spark's residual is empty.
    GQuery(
      "q_src_es_query",
      """SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer
        |WHERE (c_mktsegment = 'BUILDING' OR c_mktsegment = 'MACHINERY')
        |  AND c_acctbal >= 9000.0 AND c_name LIKE '%000%'
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.EsSourceName}.customer_es")
        .filter((col("c_mktsegment") === "BUILDING" || col("c_mktsegment") === "MACHINERY")
          && col("c_acctbal") >= 9000.0 && col("c_name").contains("000"))
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
        .orderBy("c_custkey")
    },

    // ES-protocol AGGREGATIONS (reference: sqltoes.go:285-365 compiles
    // GROUP BY + stats into terms buckets with metric sub-aggs;
    // esresults.go walks the buckets as FINAL results): the terms+stats
    // request executes server-side over the socket and the scan emits
    // final buckets — COMPLETE pushdown, Spark plans no aggregate
    // (asserted in EsHttpSpec). avg over an integer key: exact integer
    // sum / count, one IEEE division on both sides.
    GQuery(
      "q_src_es_agg",
      """SELECT c_mktsegment, count(*) AS n_cust,
        |       CAST(min(c_custkey) AS BIGINT) AS min_key,
        |       CAST(max(c_custkey) AS BIGINT) AS max_key,
        |       CAST(sum(c_custkey) AS BIGINT) AS sum_key,
        |       avg(c_custkey) AS avg_key
        |FROM customer WHERE c_acctbal > 0.0
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.EsSourceName}.customer_es")
        .filter(col("c_acctbal") > 0.0)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_cust"),
          min("c_custkey").as("min_key"),
          max("c_custkey").as("max_key"),
          sum("c_custkey").as("sum_key"),
          avg("c_custkey").as("avg_key"))
        .orderBy("c_mktsegment")
    },

    // MULTI-KEY ES grouped aggregate (beyond-ref: the reference's single
    // terms surface, sqltoes.go:285-365, caps at one bucket key): two
    // group keys compile to the public COMPOSITE aggregation — one terms
    // source per key, missing_bucket carrying the SQL NULL group, paged
    // exhaustively by after_key so no single response caps the group
    // count (EsHttpSpec drives the cursor loop at page size 2). The
    // WHERE ships in the same request's query.
    GQuery(
      "q_src_es_agg_multi",
      """SELECT o_orderstatus, o_custkey, count(*) AS n_orders,
        |       CAST(min(o_orderkey) AS BIGINT) AS min_key,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM orders
        |WHERE o_custkey <= 1500
        |GROUP BY o_orderstatus, o_custkey
        |ORDER BY o_orderstatus, o_custkey""".stripMargin) { (s, d) =>
      fed(s, d)
      // the range predicate rides the nested query, keeping the per-page
      // server work proportional to the MATCHED rows (a composite page
      // re-runs the query, exactly like real ES) while the ~4.4k
      // surviving groups still take 5 after_key pages at size 1000
      s.table(s"$C.${FedData.EsSourceName}.orders_es")
        .filter(col("o_custkey") <= 1500)
        .groupBy("o_orderstatus", "o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          min("o_orderkey").as("min_key"),
          sum("o_orderkey").as("sum_key"))
        .orderBy("o_orderstatus", "o_custkey")
    },

    // ES grouped ORDERED WINDOW: TopN over the pushed aggregate rides
    // the composite aggregation's per-source `order`/`missing_order`
    // with the SOURCE ARRAY reordered so the sort keys lead (here
    // o_custkey before o_orderstatus — the reverse of the group order),
    // and the after_key cursor STOPS at the page that completes the
    // window: 20 buckets cross the wire instead of the whole group
    // space. Sorts on aggregate outputs decline (ES terms order-by-
    // metric is per-shard approximate); runtime group pruning shuts off
    // under the window (EsHttpSpec plants the excluded-group case).
    GQuery(
      "q_src_es_agg_topn",
      """SELECT o_orderstatus, o_custkey, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM orders
        |GROUP BY o_orderstatus, o_custkey
        |ORDER BY o_custkey, o_orderstatus DESC LIMIT 20""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.EsSourceName}.orders_es")
        .groupBy("o_orderstatus", "o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum("o_orderkey").as("sum_key"))
        .orderBy(col("o_custkey"), col("o_orderstatus").desc)
        .limit(20)
    },

    // ES DEEP pagination: a near-full-table hit scan over the orders
    // fixture rides point-in-time + search_after (the documented deep-
    // paging API; sliced 4-way, dozens of continuation requests per
    // slice at sf0.1) — the regime where plain from/size paging would
    // hit a real cluster's max_result_window cap (10 000 default) and a
    // retried scroll continuation would skip a page. The PIT cursor is
    // client-held, so continuations retry losslessly (EsHttpSpec proves
    // the fault arm); values oracle exactly against the parquet truth.
    GQuery(
      "q_src_es_deep_page",
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_totalprice > 1000.0
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.EsSourceName}.orders_es")
        .filter(col("o_totalprice") > 1000.0)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // ES TopN pushdown (r15): ORDER BY + LIMIT ride the search body's
    // `sort` array (explicit `missing` placement = exact Spark null
    // ordering) with `size` = n — ONE coordinated search, because the
    // cluster merges per-shard top-n itself; the 4-way PIT fan-out this
    // fixture normally plans collapses to a single sorted request
    // (EsHttpSpec asserts the body, the single request, no PIT open,
    // and the runtime-filter soundness decline). Still partial: Spark
    // re-sorts the n returned rows — correctness never hangs on server
    // sort nuances. Windows beyond the 10k max_result_window decline.
    GQuery(
      "q_src_es_topn",
      """SELECT o_orderkey, o_custkey,
        |       CAST(o_totalprice AS DOUBLE) AS price
        |FROM orders
        |ORDER BY price DESC, o_orderkey
        |LIMIT 20""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.EsSourceName}.orders_es")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").as("price"))
        .orderBy(col("price").desc, col("o_orderkey"))
        .limit(20)
    },

    // ES cardinality pushdown (reference: sqltoes.go:599-611 maps the
    // dialect's EXPLICITLY-APPROXIMATE cardinality() function — never
    // exact COUNT(DISTINCT) — to the ES cardinality agg): under the
    // approx opt-in the distinct count ships as a cardinality sub-agg
    // per terms bucket with precision_threshold at its 40000 max. ES
    // cardinality is HLL++-backed (approximate past the threshold, so
    // plain COUNT(DISTINCT) DECLINES and polyfills engine-side —
    // EsHttpSpec proves both arms); the fixture's distinct counts sit
    // far below the threshold, where the loopback answers exactly, so
    // the gate stays value-oracled against SQL COUNT(DISTINCT).
    GQuery(
      "q_src_es_cardinality",
      """SELECT c_mktsegment, count(DISTINCT c_nationkey) AS n_nations
        |FROM customer
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      fed(s, d)
      s.read.option(graft.sources.EsTable.ApproxDistinctOption, "true")
        .table(s"$C.${FedData.EsSourceName}.customer_es")
        .groupBy("c_mktsegment")
        .agg(countDistinct(col("c_nationkey")).as("n_nations"))
        .orderBy("c_mktsegment")
    },

    // ES terms per field (reference: sqltoes.go:612-634 compiles
    // terms(field, n) into terms buckets; the result shape is (field,
    // key, count) rows): one COMPLETE-pushed terms+count query per
    // field, unioned — each scan returns final buckets, Spark plans no
    // aggregate (plan-asserted in EsHttpSpec).
    GQuery(
      "q_src_es_terms",
      """SELECT field, key, cnt FROM (
        |  SELECT 'c_mktsegment' AS field, CAST(c_mktsegment AS VARCHAR) AS key,
        |         count(*) AS cnt FROM customer GROUP BY 2
        |  UNION ALL
        |  SELECT 'c_nationkey' AS field, CAST(c_nationkey AS VARCHAR) AS key,
        |         count(*) AS cnt FROM customer GROUP BY 2
        |) ORDER BY field, key""".stripMargin) { (s, d) =>
      fed(s, d)
      def top(f: String) =
        s.table(s"$C.${FedData.EsSourceName}.customer_es")
          .groupBy(f).agg(count(lit(1)).as("cnt"))
          .select(lit(f).as("field"), col(f).cast("string").as("key"), col("cnt"))
      top("c_mktsegment").unionAll(top("c_nationkey")).orderBy("field", "key")
    },

    // SCHEMA DISCOVERY, ES: the endpoint registered with NO declared
    // schema — its StructType came off the wire (GET /{index}/_mapping,
    // elasticsearch/source.go:154-255), with the index's nested objects
    // walked into REAL struct columns (the reference flattens to dotted
    // names; SURVEY §1.2's declared upgrade). The gate projects nested
    // fields through the discovered structs and value-oracles against
    // the flat parquet origin.
    GQuery(
      "q_src_discovery_es",
      """SELECT c_custkey, c_name AS name, c_mktsegment AS segment,
        |       c_acctbal AS balance
        |FROM customer WHERE c_custkey % 7 = 0
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.EsSourceName}.customer_esdoc")
        .filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey"), col("profile.name").as("name"),
          col("market.segment").as("segment"),
          col("profile.balance").as("balance"))
        .orderBy("c_custkey")
    },

    // ES TEXT-vs-KEYWORD fidelity end-to-end (real ES disables fielddata
    // on analyzed text fields: aggs/sorts on them 400, and term-level
    // queries silently hit analyzed tokens): c_name maps as text WITH a
    // .keyword multi-field — the LIKE prefix RETARGETS to it server-side;
    // c_mktsegment maps as text with NO sub-field — the GROUP BY declines
    // pushdown and Spark aggregates over the hit scan. Both the retarget
    // map and the schema come off the discovery mapping walk.
    GQuery(
      "q_src_es_text",
      """SELECT c_mktsegment, count(*) AS n_cust,
        |       CAST(sum(c_custkey) AS BIGINT) AS sum_key
        |FROM customer WHERE c_name LIKE 'Customer#00000012%'
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      fed(s, d)
      if (WireEndpoints.get(FedData.EsSourceName, "customer_txt").isEmpty) {
        val customer = Tables.load(s, d, "customer")
          .select("c_custkey", "c_name", "c_mktsegment")
        LoopbackRestServer.registerEsText("customer_txt", customer.schema,
          customer.collect().map(_.toSeq.toArray).toSeq,
          Map("c_name" -> true, "c_mktsegment" -> false))
        val url = LoopbackRestServer.ensureStarted()
        val meta = EsDiscovery.mappingMeta(new HttpRestClient(url), "customer_txt")
        WireEndpoints.register(EsEndpoint(FedData.EsSourceName, "customer_txt",
          meta.schema, EsEndpointSpec(url, "customer_txt", WireClientConfig()),
          analyzed = meta.analyzed))
      }
      s.table(s"$C.${FedData.EsSourceName}.customer_txt")
        .filter(col("c_name").startsWith("Customer#00000012"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_cust"), sum("c_custkey").as("sum_key"))
        .orderBy("c_mktsegment")
    },

    // SCHEMA DISCOVERY, Mongo: collection registered schema-less; field
    // types inferred by sampling documents through a real OP_MSG `find`
    // and switching on BSON runtime types (mgo_source.go:269-311). The
    // pushed filter then compiles against the DISCOVERED types.
    GQuery(
      "q_src_discovery_mongo",
      """SELECT p_partkey, p_name, p_size, p_retailprice FROM part
        |WHERE p_size >= 40 AND p_brand = 'Brand#19'
        |ORDER BY p_partkey""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.MongoSourceName}.part_mongo")
        .filter(col("p_size") >= 40 && col("p_brand") === "Brand#19")
        .select("p_partkey", "p_name", "p_size", "p_retailprice")
        .orderBy("p_partkey")
    },

    // CQL COLLECTION columns: list<text> and map<text,bigint> cells ride
    // the real native-protocol v4 collection payloads, and their types
    // DISCOVER from system_schema's "list<text>" type names (the
    // reference's gocql.TableMetadata set/map arms, cassandra/
    // source.go:202-255). The partition-key predicate still compiles
    // server-side; the gate flattens the collections for the oracle.
    GQuery(
      "q_src_cql_collections",
      """SELECT c_custkey,
        |       c_mktsegment || '|' || substr(c_name, 1, 8) AS tags_s,
        |       CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        |FROM customer WHERE c_mktsegment = 'BUILDING'
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.CqlSourceName}.customer_tags_cql")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"),
          array_join(col("tags"), "|").as("tags_s"),
          element_at(col("props"), "bal_cents").as("bal_cents"))
        .orderBy("c_custkey")
    },

    // SCHEMA DISCOVERY, Mongo NESTED: a collection of sub-documents,
    // types discovered by sampling (BDoc values recurse into REAL
    // struct columns where the reference degrades them to strings,
    // mgo_source.go:335-360); the top-level key predicate still pushes
    // over the wire (nested references decline -> Spark polyfills),
    // and the scan decodes sub-documents into struct rows.
    GQuery(
      "q_src_discovery_mongo_nested",
      """SELECT c_custkey, c_name AS name, c_mktsegment AS segment,
        |       c_acctbal AS balance
        |FROM customer WHERE c_custkey % 5 = 0 AND c_mktsegment <> 'MACHINERY'
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.MongoSourceName}.customer_mgdoc")
        .filter(col("c_custkey") % 5 === 0 && col("market.segment") =!= "MACHINERY")
        .select(col("c_custkey"), col("profile.name").as("name"),
          col("market.segment").as("segment"),
          col("profile.balance").as("balance"))
        .orderBy("c_custkey")
    },

    // SCHEMA DISCOVERY, BigTable: column types GUESSED by scanning
    // sampled cells (bigtable/source.go:193-251) — integer-looking cells
    // discover as bigint (both arms cast). The fixture's composite row
    // key (name#id — BT keys must be unique) keeps the name-prefix
    // predicate compilable into a key rowRange against the discovered
    // schema; it is semantically p_name LIKE 's%' because the key
    // starts with the name.
    GQuery(
      "q_src_discovery_bt",
      """SELECT p_name, CAST(p_partkey AS BIGINT) AS partkey,
        |       CAST(p_size AS BIGINT) AS size_b, p_retailprice
        |FROM part WHERE p_name LIKE 's%' AND p_size >= 20
        |ORDER BY p_name, partkey""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.BtSourceName}.part_btd")
        .filter(col("row_key").startsWith("s") && col("p_size") >= 20)
        .select(col("p_name"), col("p_partkey").cast("long").as("partkey"),
          col("p_size").cast("long").as("size_b"), col("p_retailprice"))
        .orderBy("p_name", "partkey")
    },

    // CREATE SOURCE → LIVE DISCOVERY composition (the reference's runtime
    // registration, models/serverctx.go:136-188 + mysql_handler.go:253-260):
    // the statement registers an ES wire source by URL alone, discovery
    // lists the cluster's indices and walks each mapping into a schema,
    // and the table is queried — no schema ever declared anywhere.
    GQuery(
      "q_src_create_source",
      """SELECT s_suppkey, s_name, s_acctbal FROM supplier
        |WHERE s_acctbal > 1000.0
        |ORDER BY s_suppkey""".stripMargin) { (s, d) =>
      fed(s, d)
      if (WireEndpoints.get("es_rt", "supplier_rt").isEmpty) {
        val sup = Tables.load(s, d, "supplier")
          .select("s_suppkey", "s_name", "s_acctbal")
        LoopbackRestServer.registerEs("supplier_rt", sup.schema,
          sup.collect().map(_.toSeq.toArray).toSeq)
        val url = LoopbackRestServer.ensureStarted()
        new GraftEngine(s).sql(
          s"""CREATE SOURCE es_rt WITH {"protocol": "es", "url": "$url", "fanout": 4}""")
      }
      s.table(s"$C.es_rt.supplier_rt")
        .filter(col("s_acctbal") > 1000.0)
        .select("s_suppkey", "s_name", "s_acctbal")
        .orderBy("s_suppkey")
    },

    // CREATE SOURCE → REST discovery (the reference registers its Lytics
    // backend through the SAME config/CREATE-source flow as every wire
    // backend, models/config.go:34-49): the statement registers the API
    // by URL alone, discovery reads the catalog route (listing names +
    // each listing's declared filterable params), the schema live-samples
    // through the widen lattice, and scans push param equalities as the
    // query string. The OR tree here is outside the param surface, so it
    // declines and Spark polyfills — the residual contract end-to-end
    // against a runtime-registered endpoint.
    GQuery(
      "q_src_create_source_rest",
      """SELECT r_regionkey, r_name FROM region
        |WHERE r_regionkey = 2 OR r_regionkey = 0
        |ORDER BY r_regionkey""".stripMargin) { (s, d) =>
      fed(s, d)
      if (WireEndpoints.get("rest_rt", "region_api").isEmpty) {
        val reg = Tables.load(s, d, "region").select("r_regionkey", "r_name")
        LoopbackRestServer.registerRestApi("region_api", reg.schema,
          Set("r_regionkey"), reg.collect().map(_.toSeq.toArray).toSeq)
        val url = LoopbackRestServer.ensureStarted()
        new GraftEngine(s).sql(
          s"""CREATE SOURCE rest_rt WITH {"protocol": "rest", "url": "$url"}""")
      }
      s.table(s"$C.rest_rt.region_api")
        .filter(col("r_regionkey") === 2 || col("r_regionkey") === 0)
        .select("r_regionkey", "r_name")
        .orderBy("r_regionkey")
    },

    // MONGO-PROTOCOL scan over a real socket (reference: sql_to_mgo.go:
    // 441-637 compiles the WHERE tree into a bson filter document —
    // IN→$in, ranges→$gt/$lte, LIKE→regex, AND/OR→$and/$or — and ships
    // it in one `find`): the whole predicate compiles, so Spark's
    // residual is empty and the cursor streams back only matching rows.
    GQuery(
      "q_src_mongo_find",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderstatus IN ('F', 'P') AND o_totalprice > 150000.0
        |  AND o_orderpriority LIKE '%URGENT'
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.MongoSourceName}.orders_mongo")
        .filter(col("o_orderstatus").isin("F", "P") && col("o_totalprice") > 150000.0
          && col("o_orderpriority").endsWith("URGENT"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // Mongo sort+limit pushdown (reference: sql_to_mgo.go:220-245 passes
    // ORDER BY as the query's sort document and LIMIT as the page size):
    // the top-N executes server-side — the cursor returns 10 rows, not
    // the table — and Spark's TopN merges per-partition candidates
    // (partial pushdown, correct under sharded multi-partition scans).
    GQuery(
      "q_src_mongo_topn",
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderstatus = 'O'
        |ORDER BY o_totalprice DESC, o_orderkey DESC LIMIT 10""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.MongoSourceName}.orders_mongo")
        .filter(col("o_orderstatus") === "O")
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").desc)
        .limit(10)
    },

    // Mongo `!=` pushdown under SQL 3VL (reference: != → $ne,
    // sql_to_mgo.go:553-554 — but Mongo's $ne matches null rows, SQL's
    // != does not): the compiled filter wraps $nor with {f: {$ne: null}}
    // guards so the backend returns exactly SQL's rows.
    GQuery(
      "q_src_mongo_ne",
      """SELECT o_orderpriority, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM orders
        |WHERE o_orderstatus <> 'O' AND o_orderpriority <> '5-LOW'
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.MongoSourceName}.orders_mongo")
        .filter(col("o_orderstatus") =!= "O" && col("o_orderpriority") =!= "5-LOW")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum("o_orderkey").as("sum_key"))
        .orderBy("o_orderpriority")
    },

    // Mongo aggregation-pipeline pushdown (beyond-ref: the reference's
    // Mongo backend polyfills GROUP BY engine-side over the find stream;
    // real MongoDB serves it natively via the public `aggregate`
    // command): the WHERE compiles into a $match stage and the MULTI-KEY
    // grouped aggregate into ONE $group stage (composite _id — beyond
    // the ES connector's single-terms surface), shipped over the socket;
    // the scan emits FINAL buckets, so Spark plans no aggregate at all
    // (bare-scan plan + wire pipeline asserted in MongoSourceSpec).
    // SUM's null-vs-0 and COUNT(col)'s non-null-only semantics ride
    // companion $cond counts (MongoAgg's scaladoc).
    GQuery(
      "q_src_mongo_agg",
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        |       CAST(min(o_orderkey) AS BIGINT) AS min_key,
        |       CAST(max(o_totalprice) AS DOUBLE) AS max_price,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       avg(o_custkey) AS avg_cust
        |FROM orders
        |WHERE o_totalprice > 50000.0
        |GROUP BY o_orderstatus, o_orderpriority
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.MongoSourceName}.orders_mongo")
        .filter(col("o_totalprice") > 50000.0)
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          min("o_orderkey").as("min_key"),
          max("o_totalprice").as("max_price"),
          sum("o_custkey").as("sum_cust"),
          avg("o_custkey").as("avg_cust"))
        .orderBy("o_orderstatus", "o_orderpriority")
    },

    // Runtime semi-join reduction over the wire (beyond-ref; Trino's
    // "dynamic filtering"): the broadcast dim side's distinct join keys
    // flow back into the Mongo scan BEFORE partition planning and ship
    // as a `$in` ANDed onto the find filter (SupportsRuntimeV2Filtering;
    // wire-asserted in MongoSourceSpec). It fires here because both of
    // Spark's preconditions hold: the dim side is a parquet scan that
    // keeps a residual Filter, and the `broadcast` hint fixes the join
    // strategy at plan time. A SQL join between two wire tables meets
    // neither (pushed filters leave no Filter; wire scans report no
    // size), so it runs as a sort-merge join with no runtime filter.
    // Correctness never depends on it: the join re-checks every key, and
    // the scan declines non-wire-exact types or key sets beyond the 10k cap.
    GQuery(
      "q_src_join_dynfilter",
      """SELECT o.o_orderkey, o.o_custkey, c.c_name,
        |       CAST(o.o_totalprice AS DOUBLE) AS price
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'MACHINERY' AND c.c_acctbal > 9000
        |ORDER BY o.o_orderkey""".stripMargin) { (s, d) =>
      fed(s, d)
      val dim = Tables.load(s, d, "customer")
        .filter(col("c_mktsegment") === "MACHINERY" && col("c_acctbal") > 9000)
        .select("c_custkey", "c_name")
      s.table(s"$C.${FedData.MongoSourceName}.orders_mongo")
        .join(broadcast(dim), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("c_name"),
          col("o_totalprice").cast("double").as("price"))
        .orderBy("o_orderkey")
    },

    // SAME-SERVER join pushdown (beyond-ref; Spark 4.1's DSv2 join
    // pushdown + MongoDB's public $lookup): an inner equi-join of two
    // collections living on ONE mongod compiles to a single aggregate
    // pipeline — $match {key != null} (SQL equality never matches null;
    // Mongo's $lookup DOES match null-to-null, so the guard is
    // correctness) → $lookup → $unwind → $project flattening both
    // sides — ONE wire request instead of two scans + an engine
    // shuffle. The left WHERE rides the leading $match; right-side
    // predicates beyond inferred join-key constraints decline the push
    // (MongoSourceSpec proves both the wire shape and the declines).
    GQuery(
      "q_src_join_lookup",
      """SELECT o.o_orderkey, o.o_custkey,
        |       CAST(o.o_totalprice AS DOUBLE) AS price
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE o.o_totalprice > 150000.0
        |ORDER BY o.o_orderkey""".stripMargin) { (s, d) =>
      // the datasourceV2JoinPushdown flag is harness session config
      // (Verify/Bench builders), never mutated here: a builder-side
      // s.conf.set would leak plan-changing state into every later query
      fed(s, d)
      s.table(s"$C.${FedData.MongoSourceName}.orders_mongo")
        .filter(col("o_totalprice") > 150000.0)
        .join(s.table(s"$C.${FedData.MongoSourceName}.customer_mgdoc"),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").cast("double").as("price"))
        .orderBy("o_orderkey")
    },

    // Mongo LEFT OUTER join pushdown (beyond-ref; the public $unwind
    // preserveNullAndEmptyArrays recipe IS SQL LEFT JOIN): customers
    // without a matching order survive null-extended, all computed by
    // ONE aggregate pipeline. The $addFields null-key guard keeps
    // Mongo's null==null $lookup matches out of the SQL answer
    // (MongoSourceSpec proves the guard against planted null keys).
    GQuery(
      "q_src_join_lookup_left",
      """SELECT c.c_custkey, o.o_orderkey
        |FROM customer c
        |LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |WHERE c.c_custkey <= 200
        |ORDER BY c.c_custkey, o.o_orderkey NULLS FIRST""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.MongoSourceName}.customer_mgdoc")
        .filter(col("c_custkey") <= 200)
        .join(s.table(s"$C.${FedData.MongoSourceName}.orders_mongo"),
          col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("o_orderkey"))
        .orderBy(col("c_custkey"), col("o_orderkey").asc_nulls_first)
    },

    // Mongo RIGHT OUTER join pushdown (beyond-ref): the preserved side
    // must DRIVE the $lookup, so the pipeline targets the right
    // collection and looks up into the left one — same preserving
    // $unwind + null-key guard, roles mirrored (MongoSourceSpec proves
    // the drive swap and the null semantics on planted null keys).
    GQuery(
      "q_src_join_lookup_right",
      """SELECT o.o_orderkey, c.c_custkey
        |FROM orders o
        |RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_custkey <= 150
        |ORDER BY c.c_custkey, o.o_orderkey NULLS FIRST""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.MongoSourceName}.orders_mongo")
        .join(s.table(s"$C.${FedData.MongoSourceName}.customer_mgdoc")
            .filter(col("c_custkey") <= 150),
          col("o_custkey") === col("c_custkey"), "right")
        .select(col("o_orderkey"), col("c_custkey"))
        .orderBy(col("c_custkey"), col("o_orderkey").asc_nulls_first)
    },

    // Aggregate OVER a pushed join (beyond-ref): the classic fact⨝dim→
    // aggregate shape compiles to ONE pipeline — $match (fact WHERE) →
    // $lookup → $unwind → $project → $group — and ships back a
    // group-count-sized answer; the engine plans neither a Join nor an
    // Aggregate node (MongoSourceSpec asserts the stage order and the
    // single request).
    GQuery(
      "q_src_join_agg",
      """SELECT c.c_custkey, count(*) AS n_orders,
        |       CAST(min(o.o_orderkey) AS BIGINT) AS min_order,
        |       CAST(sum(o.o_orderkey) AS BIGINT) AS sum_order
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE o.o_orderpriority = '1-URGENT'
        |GROUP BY c.c_custkey
        |ORDER BY c.c_custkey""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.MongoSourceName}.orders_mongo")
        .filter(col("o_orderpriority") === "1-URGENT")
        .join(s.table(s"$C.${FedData.MongoSourceName}.customer_mgdoc"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey")
        .agg(count(lit(1)).as("n_orders"),
          min("o_orderkey").as("min_order"),
          sum("o_orderkey").as("sum_order"))
        .orderBy("c_custkey")
    },

    // TopN OVER a pushed join (r15): ORDER BY + LIMIT append as
    // $sort/$limit stages after the $lookup pipeline's $project — the
    // fact⨝dim→top-k shape ships ONE aggregate command and the server
    // returns exactly k joined rows (MongoSourceSpec asserts stage order
    // and the single request). The delegated ordered window makes the
    // scan ineligible for runtime semi-join filters — same soundness
    // rule as the find path.
    GQuery(
      "q_src_join_lookup_topn",
      """SELECT o.o_orderkey, o.o_custkey,
        |       CAST(o.o_totalprice AS DOUBLE) AS price
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY price DESC, o.o_orderkey
        |LIMIT 12""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.MongoSourceName}.orders_mongo")
        .join(s.table(s"$C.${FedData.MongoSourceName}.customer_mgdoc"),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").as("price"))
        .orderBy(col("price").desc, col("o_orderkey"))
        .limit(12)
    },

    // TopN OVER a pushed $group (r15): group-key sorts target `_id.<k>`
    // in a trailing $sort + $limit — the grouped leaderboard ships whole.
    // This gate exists because the naive accept here was a REAL silent
    // wrong-window bug (sort keys resolve in the raw schema too, but the
    // agg pipeline ignored the find-path sort state): MongoSourceSpec
    // pins the delegation and the decline for sorts on aggregate outputs.
    GQuery(
      "q_src_mongo_agg_topn",
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust
        |FROM orders
        |GROUP BY o_orderstatus, o_orderpriority
        |ORDER BY o_orderstatus DESC, o_orderpriority DESC
        |LIMIT 5""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.MongoSourceName}.orders_mongo")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum("o_custkey").as("sum_cust"))
        .orderBy(col("o_orderstatus").desc, col("o_orderpriority").desc)
        .limit(5)
    },

    // OFFSET pushdown over the Mongo wire (reference: sql_to_mgo.go:
    // 220-245 passes filter/sort/limit/skip into one query): ORDER BY +
    // LIMIT + OFFSET compile to sort+skip+limit in ONE find command —
    // the keyset-less paging shape BI tools emit. A pushed offset is
    // fully delegated (Spark drops its Offset node), so the scan only
    // accepts it single-request: fanned-out scans decline and polyfill
    // (MongoSourceSpec asserts both sides of that rule on the wire).
    GQuery(
      "q_src_mongo_skip",
      """SELECT n_nationkey, n_name FROM nation
        |ORDER BY n_nationkey LIMIT 10 OFFSET 5""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.MongoSourceName}.nation_mongo")
        .select("n_nationkey", "n_name")
        .orderBy("n_nationkey")
        .offset(5)
        .limit(10)
    },

    // CQL aggregation pushdown (beyond-ref; real Cassandra GROUP BY,
    // CASSANDRA-10707): groups on the partition key compile to `GROUP BY`
    // in the shipped CQL with sums/avgs wrapped in cast(...) — CQL's
    // native sum(int) WRAPS and avg(int) TRUNCATES, so the casts are
    // correctness, not style. The grouped scan KEEPS the 4-way token
    // fan-out: every group binds the full partition key, so each token
    // range holds complete groups and the union is exact (CqlSourceSpec
    // asserts the bare plan, the shipped GROUP BY text, and the fan-out).
    GQuery(
      "q_src_cql_agg",
      """SELECT c_mktsegment, count(*) AS n_cust,
        |       CAST(min(c_custkey) AS BIGINT) AS min_key,
        |       CAST(max(c_acctbal) AS DOUBLE) AS max_bal,
        |       CAST(sum(c_nationkey) AS BIGINT) AS sum_nat,
        |       avg(c_nationkey) AS avg_nat
        |FROM customer
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.CqlSourceName}.customer_cql")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_cust"),
          min("c_custkey").as("min_key"),
          max("c_acctbal").as("max_bal"),
          sum("c_nationkey").as("sum_nat"),
          avg("c_nationkey").as("avg_nat"))
        .orderBy("c_mktsegment")
    },

    // CQL runtime semi-join reduction (beyond-ref; Trino's dynamic
    // filtering shape on Cassandra's one legal IN surface): a broadcast
    // dim's distinct join keys compile into `pk IN (...)` — ONE
    // multi-partition read instead of a full token-ring sweep.
    // Correctness never depends on it: the join re-checks every key,
    // and the scan declines on multi-column partition keys, static key
    // restrictions, or key sets beyond the 10k cap (CqlSourceSpec
    // asserts the shipped IN text and the declines).
    GQuery(
      "q_src_cql_dynfilter",
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      fed(s, d)
      val dim = Tables.load(s, d, "customer")
        .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(col("c_mktsegment").as("seg")).distinct()
      s.table(s"$C.${FedData.CqlSourceName}.customer_cql")
        .join(broadcast(dim), col("c_mktsegment") === col("seg"))
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    },

    // BigTable runtime semi-join reduction (beyond-ref): the broadcast
    // dim's join keys become an explicit rowKeys POINT-LOOKUP batch
    // intersected with the statically-compiled row set — the service
    // reads exactly the keys that can survive the join (BtSourceSpec
    // asserts the shipped rowKeys and the intersection).
    GQuery(
      "q_src_bt_dynfilter",
      """SELECT p_partkey, p_name, p_size FROM part
        |WHERE p_size IN (1, 2)
        |ORDER BY p_partkey""".stripMargin) { (s, d) =>
      fed(s, d)
      val dim = Tables.load(s, d, "part")
        .filter(col("p_size").isin(1, 2))
        .select(concat(col("p_name"), lit("#"), col("p_partkey")).as("dk"))
      s.table(s"$C.${FedData.BtSourceName}.part_btd")
        .join(broadcast(dim), col("row_key") === col("dk"))
        .select("p_partkey", "p_name", "p_size")
        .orderBy("p_partkey")
    },

    // CQL-PROTOCOL scan over a real socket (reference: sql_to_cql.go:
    // 430-560 pushes only simple comparisons on partition/clustering key
    // columns — "MUST follow rules of partition keys" — and polyfills
    // the rest): the partition-key equality + clustering range compile
    // to CQL text and ship in a native-protocol QUERY; the residual is
    // empty because the whole predicate is inside the key rules.
    GQuery(
      "q_src_cql_key",
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey BETWEEN 100 AND 2000
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.CqlSourceName}.customer_cql")
        .filter(col("c_mktsegment") === "BUILDING" &&
          col("c_custkey").between(100, 2000))
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    },

    // CQL ordered window under Cassandra's own single-partition rule:
    // the EQ-bound partition key makes ORDER BY legal, the sort keys are
    // the clustering prefix (reverse direction), and the statement ships
    // `... WHERE pk = ... ORDER BY ck DESC LIMIT n` — the server walks
    // the clustering index backwards and returns n rows, not the
    // partition. The push stays partial (Spark re-sorts n rows), and a
    // sort outside the clustering prefix or without the bound key
    // declines (CqlSourceSpec proves both on the wire).
    GQuery(
      "q_src_cql_topn",
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_mktsegment = 'AUTOMOBILE'
        |ORDER BY c_custkey DESC LIMIT 25""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.CqlSourceName}.customer_cql")
        .filter(col("c_mktsegment") === "AUTOMOBILE")
        .orderBy(col("c_custkey").desc)
        .limit(25)
        .select("c_custkey", "c_name")
    },

    // CQL residual polyfill, ENFORCED server-side: the non-key c_acctbal
    // conjunct is outside Cassandra's WHERE rules — the loopback server
    // would refuse it (ALLOW FILTERING) — so the connector declines it
    // and Spark re-applies it over the key-pruned stream. The key
    // conjuncts still push (partition equality + clustering upper bound).
    GQuery(
      "q_src_cql_residual",
      """SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal FROM customer
        |WHERE c_mktsegment = 'MACHINERY' AND c_custkey < 3000
        |  AND c_acctbal > 5000.0
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.CqlSourceName}.customer_cql")
        .filter(col("c_mktsegment") === "MACHINERY" && col("c_custkey") < 3000 &&
          col("c_acctbal") > 5000.0)
        .select(col("c_custkey"), col("c_name"),
          round(col("c_acctbal"), 2).as("acctbal"))
        .orderBy("c_custkey")
    },

    // BQ-PROTOCOL full-statement passthrough over a real socket
    // (reference: sql_to_bq.go:72-104 re-renders the ENTIRE statement in
    // the warehouse dialect and ships it as one job): the OR tree, the
    // grouped aggregate, the sort, the limit and the OFFSET all render
    // to SQL text, POST to the loopback warehouse's jobs.query endpoint,
    // and the scan emits FINAL rows — Spark plans no aggregate, no sort,
    // no limit (the bare-scan golden plan is asserted in BqSourceSpec).
    GQuery(
      "q_src_bq_wire",
      """SELECT o_orderpriority, count(*) AS n_orders,
        |       CAST(max(o_orderkey) AS BIGINT) AS max_key,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |       avg(o_custkey) AS avg_cust
        |FROM orders
        |WHERE o_orderstatus = 'P' OR o_totalprice >= 250000.0
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority
        |LIMIT 3 OFFSET 1""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.BqSourceName}.orders_bqw")
        .filter(col("o_orderstatus") === "P" || col("o_totalprice") >= 250000.0)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          max("o_orderkey").as("max_key"),
          sum("o_custkey").as("sum_cust"),
          avg("o_custkey").as("avg_cust"))
        .orderBy("o_orderpriority")
        .offset(1)
        .limit(3)
    },

    // BQ runtime semi-join reduction (beyond-ref): broadcast-dim join
    // keys re-render as a SQL IN conjunct ANDed into the passthrough
    // statement (and into every range-sharded statement) — the fifth
    // wire backend with the Trino-style dynamic-filter reducer
    // (BqSourceSpec asserts the shipped IN, the sharded composition,
    // group-key pruning under COMPLETE agg pushdown, and the delegated-
    // window soundness decline).
    GQuery(
      "q_src_bq_dynfilter",
      """SELECT o.o_orderkey, o.o_custkey, c.c_name
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'HOUSEHOLD' AND c.c_acctbal > 9000
        |ORDER BY o.o_orderkey""".stripMargin) { (s, d) =>
      fed(s, d)
      val dim = Tables.load(s, d, "customer")
        .filter(col("c_mktsegment") === "HOUSEHOLD" && col("c_acctbal") > 9000)
        .select("c_custkey", "c_name")
      s.table(s"$C.${FedData.BqSourceName}.orders_bqw")
        .join(broadcast(dim), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("c_name"))
        .orderBy("o_orderkey")
    },

    // BQ SAME-WAREHOUSE join pushdown (reference identity: sql_to_bq.go:
    // 72-104 re-renders whatever statement it gets — joins included):
    // two tables on one warehouse render as ONE JOIN statement via Spark
    // 4.1's DSv2 join pushdown. Each side's pushed WHERE re-renders
    // under its alias; the engine plans NO Join node (BqSourceSpec
    // asserts the golden plan and the shipped JOIN text). At 100 TB the
    // warehouse — not the engine — moves the data.
    GQuery(
      "q_src_join_bq",
      """SELECT o.o_orderkey, o.o_custkey, c.c_name,
        |       CAST(o.o_totalprice AS DOUBLE) AS price
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE o.o_totalprice > 400000.0
        |ORDER BY o.o_orderkey""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.BqSourceName}.orders_bqw")
        .filter(col("o_totalprice") > 400000.0)
        .join(s.table(s"$C.${FedData.BqSourceName}.customer_bqw"),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("c_name"),
          col("o_totalprice").cast("double").as("price"))
        .orderBy("o_orderkey")
    },

    // BQ LEFT OUTER join pushdown: the null-extended side's pre-join
    // filter rides the ON clause of the rendered statement (a WHERE
    // there would wrongly drop null-extended rows); customers with no
    // qualifying order survive with NULL order columns — SQL LEFT JOIN
    // exactly, executed wholly by the warehouse.
    GQuery(
      "q_src_join_bq_left",
      """SELECT c.c_custkey, c.c_name, o.o_orderkey
        |FROM customer c
        |LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 450000.0) o
        |  ON c.c_custkey = o.o_custkey
        |WHERE c.c_custkey <= 300
        |ORDER BY c.c_custkey, o.o_orderkey NULLS FIRST""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.BqSourceName}.customer_bqw")
        .filter(col("c_custkey") <= 300)
        .join(s.table(s"$C.${FedData.BqSourceName}.orders_bqw")
            .filter(col("o_totalprice") > 450000.0),
          col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"))
        .orderBy(col("c_custkey"), col("o_orderkey").asc_nulls_first)
    },

    // BQ AGGREGATE over a pushed join (r15): the classic warehouse
    // fact⨝dim→aggregate renders as ONE statement — JOIN + WHERE +
    // side-qualified GROUP BY + agg items all consumed, the answer comes
    // back group-count-sized. The engine plans neither a Join nor an
    // Aggregate node (BqSourceSpec asserts the plan and the statement
    // text). Exactness per the house agg rules: count/sum over INT64 are
    // exact longs, max over a double has no accumulation error.
    GQuery(
      "q_src_join_bq_agg",
      """SELECT c.c_mktsegment, count(*) AS n_orders,
        |       CAST(sum(o.o_custkey) AS BIGINT) AS sum_cust,
        |       CAST(max(o.o_totalprice) AS DOUBLE) AS max_price
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE o.o_orderpriority = '1-URGENT'
        |GROUP BY c.c_mktsegment
        |ORDER BY c.c_mktsegment""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.BqSourceName}.orders_bqw")
        .filter(col("o_orderpriority") === "1-URGENT")
        .join(s.table(s"$C.${FedData.BqSourceName}.customer_bqw"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum("o_custkey").as("sum_cust"),
          max("o_totalprice").as("max_price"))
        .orderBy("c_mktsegment")
    },

    // BQ TOP-N over a pushed join (r15): ORDER BY + LIMIT append to the
    // single joined statement (the warehouse sorts on the driving side's
    // column pre-projection — SQL scoping); the engine reads exactly n
    // rows and plans no Sort/TakeOrdered. The delegated ordered window
    // makes the scan ineligible for runtime semi-join filters — the
    // soundness rule BqSourceSpec proves with a planted excluded key.
    GQuery(
      "q_src_join_bq_topn",
      """SELECT o.o_orderkey, c.c_name,
        |       CAST(o.o_totalprice AS DOUBLE) AS price
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY price DESC, o.o_orderkey
        |LIMIT 15""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.BqSourceName}.orders_bqw")
        .join(s.table(s"$C.${FedData.BqSourceName}.customer_bqw"),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_name"),
          col("o_totalprice").as("price"))
        .orderBy(col("price").desc, col("o_orderkey"))
        .limit(15)
    },

    // DATASTORE aggregation-query pushdown (beyond-ref; the public
    // :runAggregationQuery API): global count(*)/sum/avg compile into
    // ONE aggregation request with the WHERE riding the nested
    // structured query. Semantic guards per the documented behavior:
    // sums ship a companion avg of the same property (avg is documented
    // NULL over zero valid values — disambiguating Datastore's 0-sum
    // from SQL's NULL); an int64-overflow sum degraded to a double is
    // refused loudly; GROUP BY / COUNT(col) / MIN/MAX have no API form
    // and decline (DsSourceSpec proves all of it on the wire).
    GQuery(
      "q_src_ds_agg",
      """SELECT count(*) AS n_events,
        |       CAST(sum(user_id) AS BIGINT) AS sum_user,
        |       avg(user_id) AS avg_user
        |FROM events
        |WHERE event_type = 'click'""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.DsSourceName}.events_ds")
        .filter(col("event_type") === "click")
        .agg(count(lit(1)).as("n_events"),
          sum("user_id").as("sum_user"),
          avg("user_id").as("avg_user"))
    },

    // DATASTORE-PROTOCOL scan over a real socket (reference:
    // sql_to_datastore.go:441-493 compiles WHERE into property-filter
    // chains; :70-150 adds Order + limit): the equality + the single
    // inequality property + the order + the limit all ride ONE
    // structured :runQuery; entityResults stream back endCursor-paged.
    GQuery(
      "q_src_ds_query",
      """SELECT event_id, round(value, 2) AS value FROM events
        |WHERE event_type = 'purchase' AND value > 50.0 AND value <= 90.0
        |ORDER BY value, event_id LIMIT 50""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.DsSourceName}.events_ds")
        .filter(col("event_type") === "purchase" &&
          col("value") > 50.0 && col("value") <= 90.0)
        .orderBy(col("value"), col("event_id"))
        .limit(50)
        .select(col("event_id"), round(col("value"), 2).as("value"))
    },

    // DATASTORE ordered window, FULLY delegated: ORDER BY + LIMIT +
    // OFFSET compile into the one structured :runQuery (`order`,
    // `limit`, `offset` — all public query fields); the ordered window
    // collapses the key-range fan-out to a single cursor stream, so the
    // delegation is exact and Spark plans no Sort/Limit/Offset of its
    // own. At 100 TB the server skips/caps the window — the client
    // reads 40 entities, not the kind.
    GQuery(
      "q_src_ds_window",
      """SELECT event_id, round(value, 2) AS value_r FROM events
        |WHERE event_type = 'view'
        |ORDER BY events.value DESC, event_id LIMIT 40 OFFSET 15""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.DsSourceName}.events_ds")
        .filter(col("event_type") === "view")
        .orderBy(col("value").desc, col("event_id"))
        .offset(15)
        .limit(40)
        .select(col("event_id"), round(col("value"), 2).as("value_r"))
    },

    // Datastore's signature restriction, ENFORCED: ranges on a SECOND
    // property are illegal in the API (the loopback answers the real
    // 400 INVALID_ARGUMENT), so the ts range declines and Spark
    // re-applies it over the value-ranged stream — residual polyfill
    // under a rule the backend itself polices.
    GQuery(
      "q_src_ds_residual",
      """SELECT event_id, event_type FROM events
        |WHERE event_type = 'click' AND value > 95.0
        |  AND ts < TIMESTAMP '2024-01-15 00:00:00'
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.DsSourceName}.events_ds")
        .filter(col("event_type") === "click" && col("value") > 95.0 &&
          col("ts") < lit(java.sql.Timestamp.valueOf("2024-01-15 00:00:00")))
        .select("event_id", "event_type")
        .orderBy("event_id")
    },

    // BIGTABLE-PROTOCOL scan over a real socket (reference:
    // sql_to_bt.go:150-239 compiles row-key predicates into PrefixRange
    // row sets and polyfills everything else): the c_name prefix ships
    // as a [prefix, prefix+MAX) rowRange in a :readRows, the non-key
    // c_acctbal conjunct is declined and re-applied by Spark, and cells
    // stream back base64 with startKeyOpen resume.
    GQuery(
      "q_src_bt_range",
      """SELECT c_name, c_custkey, round(c_acctbal, 2) AS acctbal FROM customer
        |WHERE c_name LIKE 'Customer#0000000%' AND c_acctbal > 1000.0
        |ORDER BY c_name""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.BtSourceName}.customer_btw")
        .filter(col("c_name").startsWith("Customer#0000000") &&
          col("c_acctbal") > 1000.0)
        .select(col("c_name"), col("c_custkey"),
          round(col("c_acctbal"), 2).as("acctbal"))
        .orderBy("c_name")
    },

    // BIGTABLE reversed-scan ordered window: the row key is the table's
    // ONE server-side order, so ORDER BY key DESC LIMIT n rides the
    // public ReadRowsRequest `reversed` flag + rowsLimit — each shard
    // streams its LAST n keys instead of walking the table, and the
    // prefix range composes (the window opens inside the pushed row
    // range). Partial push: Spark re-sorts the n×shards survivors.
    GQuery(
      "q_src_bt_topn",
      """SELECT c_name, c_custkey FROM customer
        |WHERE c_name LIKE 'Customer#00000%'
        |ORDER BY c_name DESC LIMIT 30""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.BtSourceName}.customer_btw")
        .filter(col("c_name").startsWith("Customer#00000"))
        .orderBy(col("c_name").desc)
        .limit(30)
        .select("c_name", "c_custkey")
    },

    // Two LIVE WIRE PROTOCOLS in one plan — the federated join the
    // reference exists for (README.md:1-24 "join data across us"):
    // the ES side ships its segment term filter in a `_search`, the
    // Mongo side ships its status filter in an OP_MSG `find`, Spark
    // joins the two socket streams and aggregates. The ES dimension
    // (filtered customers) broadcasts; the Mongo fact stream never
    // materializes driver-side.
    GQuery(
      "q_src_join_wire",
      """SELECT c_mktsegment, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
        |  AND o.o_orderstatus = 'F'
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      fed(s, d)
      val cust = s.table(s"$C.${FedData.EsSourceName}.customer_es")
        .filter(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
        .select("c_custkey", "c_mktsegment")
      val ords = s.table(s"$C.${FedData.MongoSourceName}.orders_mongo")
        .filter(col("o_orderstatus") === "F")
        .select("o_custkey", "o_orderkey")
      ords.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), sum("o_orderkey").as("sum_key"))
        .orderBy("c_mktsegment")
    },

    // Aggregate pushdown (reference: SQL→ES aggregations,
    // backends/elasticsearch/sqltoes.go:285-365): the scan ships per-file
    // partial count/min/max/sum per group, Spark merges — the raw rows
    // never leave the source.
    GQuery(
      "q_src_agg_pushdown",
      """SELECT c_mktsegment, count(*) AS n_cust,
        |       CAST(min(c_custkey) AS BIGINT) AS min_key,
        |       round(max(c_acctbal), 2) AS max_bal,
        |       CAST(sum(c_custkey) AS BIGINT) AS sum_key
        |FROM customer WHERE c_acctbal > 0.0
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.SourceName}.customer_json")
        .filter(col("c_acctbal") > 0.0)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_cust"),
          min("c_custkey").as("min_key"),
          round(max("c_acctbal"), 2).as("max_bal"),
          sum("c_custkey").as("sum_key"))
        .orderBy("c_mktsegment")
    },

    // Nested-document columns (reference: ES exposes document sub-objects
    // as dotted-path columns, elasticsearch/source.go:154-255, queried as
    // `p.repository.name` in multi_backend_test.go:180-190). Here the
    // staged JSONL round-trips REAL StructType columns through the codec;
    // dotted paths are native GetStructField extractions, and nested-path
    // predicates are inside the connector accept-list, so they push into
    // the scan like any top-level filter (golden-plan in FileSourceSpec).
    GQuery(
      "q_nested_project",
      """SELECT c_custkey, c_name AS name, c_mktsegment AS segment
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.SourceName}.customer_doc")
        .select(col("c_custkey"), col("profile.name").as("name"),
          col("market.segment").as("segment"))
        .orderBy("c_custkey")
    },

    GQuery(
      "q_nested_filter",
      """SELECT c_custkey, c_name AS name, c_acctbal AS balance FROM customer
        |WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 9000.0
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.SourceName}.customer_doc")
        .filter(col("market.segment") === "BUILDING" &&
          col("profile.balance") > 9000.0)
        .select(col("c_custkey"), col("profile.name").as("name"),
          col("profile.balance").as("balance"))
        .orderBy("c_custkey")
    },

    // Aggregation keyed by a nested field: the group key is a struct
    // subfield, the measure a nested double — the shuffle key is the
    // extracted value, so the plan is identical to a flat group-by (no
    // struct travels through the exchange).
    GQuery(
      "q_nested_group",
      """SELECT c_mktsegment AS segment, count(*) AS n_cust,
        |       CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 1) AS DOUBLE) AS total_bal
        |FROM customer GROUP BY 1 ORDER BY segment""".stripMargin) { (s, d) =>
      fed(s, d)
      s.table(s"$C.${FedData.SourceName}.customer_doc")
        .groupBy(col("market.segment").as("segment"))
        .agg(count(lit(1)).as("n_cust"),
          round(sum(col("profile.balance").cast("decimal(18,2)")), 1)
            .cast("double").as("total_bal"))
        .orderBy("segment")
    },

    // Full DML lifecycle on a connector table (reference: cassandra
    // INSERT/UPDATE/DELETE lifecycle, backends/cassandra/cass_test.go:
    // 484-599): CREATE TABLE → INSERT VALUES (DSv2 append) → UPDATE
    // (engine read-modify-write rewrite) → DELETE WHERE
    // (SupportsDelete.deleteWhere) → final SELECT.
    GQuery(
      "q_dml_lifecycle",
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'alpha', CAST(10 AS BIGINT), CAST(1.5 AS DOUBLE)),
        |  (CAST(3 AS BIGINT), 'gamma', CAST(99 AS BIGINT), CAST(3.5 AS DOUBLE)),
        |  (CAST(5 AS BIGINT), 'epsilon', CAST(55 AS BIGINT), CAST(5.5 AS DOUBLE)),
        |  (CAST(6 AS BIGINT), 'zeta', CAST(60 AS BIGINT), CAST(6.5 AS DOUBLE)))
        |       AS t(item_id, name, qty, price)
        |ORDER BY item_id""".stripMargin) { (s, d) =>
      fed(s, d)
      val eng = new GraftEngine(s)
      val t = s"$C.${FedData.SourceName}.dml_items"
      s.sql(s"DROP TABLE IF EXISTS $t")
      s.sql(s"CREATE TABLE $t (item_id BIGINT, name STRING, qty BIGINT, price DOUBLE) " +
        "TBLPROPERTIES ('keys' = 'item_id')")
      s.sql(s"INSERT INTO $t VALUES (1, 'alpha', 10, 1.5), (2, 'beta', 20, 0.5), (3, 'gamma', 30, 3.5)")
      s.sql(s"INSERT INTO $t VALUES (4, 'delta', 40, 0.25), (5, 'epsilon', 50, 5.5)")
      eng.sql(s"UPDATE $t SET qty = 99 WHERE name = 'gamma'")
      s.sql(s"DELETE FROM $t WHERE price < 2.0 AND item_id <> 1")
      // upsert: key 5 replaced, key 6 appended (Put semantics)
      eng.sql(s"UPSERT INTO $t VALUES (5, 'epsilon', 55, 5.5), (6, 'zeta', 60, 6.5)")
      s.table(t).orderBy("item_id")
    },

    // The DML lifecycle OVER THE MONGO WIRE (reference: the Mongo
    // backend's Put/Delete sink, sql_to_mgo.go + mgo CRUD): INSERT INTO
    // streams task batches as OP_MSG `insert` commands, the engine's
    // UPDATE ships ONE `update` with the compiled filter + $set, and
    // DELETE FROM ships ONE `delete` with the compiled filter — every
    // mutation executes inside the backend, nothing round-trips rows.
    GQuery(
      "q_dml_mongo",
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'alpha', CAST(10 AS BIGINT), CAST(1.5 AS DOUBLE)),
        |  (CAST(3 AS BIGINT), 'gamma', CAST(99 AS BIGINT), CAST(3.5 AS DOUBLE)),
        |  (CAST(5 AS BIGINT), 'epsilon', CAST(50 AS BIGINT), CAST(5.5 AS DOUBLE)))
        |       AS t(item_id, name, qty, price)
        |ORDER BY item_id""".stripMargin) { (s, d) =>
      fed(s, d)
      val eng = new GraftEngine(s)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("item_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("name",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("qty",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("price",
          org.apache.spark.sql.types.DoubleType)))
      // fresh mutable collection each run (the driver repeats queries)
      LoopbackMongoServer.register("dml_mongo", schema, Seq.empty)
      val (host, port) = LoopbackMongoServer.ensureStarted()
      WireEndpoints.register(MongoEndpoint(FedData.MongoSourceName, "dml_mongo",
        schema, MongoEndpointSpec(host, port, LoopbackMongoServer.Db,
          "dml_mongo", WireClientConfig(pageSize = 256))))
      val t = s"$C.${FedData.MongoSourceName}.dml_mongo"
      s.sql(s"INSERT INTO $t VALUES (1, 'alpha', 10, 1.5), (2, 'beta', 20, 0.5), " +
        "(3, 'gamma', 30, 3.5)")
      s.sql(s"INSERT INTO $t VALUES (4, 'delta', 40, 0.25), (5, 'epsilon', 50, 5.5)")
      eng.sql(s"UPDATE $t SET qty = 99 WHERE name = 'gamma'")
      s.sql(s"DELETE FROM $t WHERE price < 2.0 AND item_id <> 1")
      s.table(t).orderBy("item_id")
    },

    // The FULL reference lifecycle in one statement sequence (README.md:
    // 64-96: create source, query, mutate): CREATE SOURCE registers the
    // backend at runtime, discovery samples the collection's schema OFF
    // THE WIRE (never declared engine-side), and INSERT/UPDATE/DELETE
    // then write back through the same discovered endpoint — the
    // mutations compile against the sampled types.
    GQuery(
      "q_dml_discovered",
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'alpha', CAST(10 AS BIGINT), CAST(1.5 AS DOUBLE)),
        |  (CAST(3 AS BIGINT), 'gamma', CAST(99 AS BIGINT), CAST(3.5 AS DOUBLE)),
        |  (CAST(5 AS BIGINT), 'epsilon', CAST(50 AS BIGINT), CAST(5.5 AS DOUBLE)))
        |       AS t(item_id, name, qty, price)
        |ORDER BY item_id""".stripMargin) { (s, d) =>
      fed(s, d)
      val eng = new GraftEngine(s)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("item_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("name",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("qty",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("price",
          org.apache.spark.sql.types.DoubleType)))
      // the backend holds seed documents (discovery needs something to
      // sample); re-registering resets the mutable collection each run
      LoopbackMongoServer.register("dml_disc", schema, Seq(
        Array[Any](1L, "alpha", 10L, 1.5),
        Array[Any](2L, "beta", 20L, 0.5)))
      val (host, port) = LoopbackMongoServer.ensureStarted()
      eng.sql(s"""CREATE SOURCE mg_dml WITH {"protocol": "mongo",
        "host": "$host", "port": "$port", "tables_to_load": "dml_disc"}""")
      val t = s"$C.mg_dml.dml_disc"
      s.sql(s"INSERT INTO $t VALUES (3, 'gamma', 30, 3.5), " +
        "(4, 'delta', 40, 0.25), (5, 'epsilon', 50, 5.5)")
      eng.sql(s"UPDATE $t SET qty = 99 WHERE name = 'gamma'")
      s.sql(s"DELETE FROM $t WHERE price < 2.0 AND item_id <> 1")
      s.table(t).orderBy("item_id")
    },

    // The DML lifecycle OVER THE CQL WIRE (reference: prepared upserts
    // sql_to_cql.go:246-361, delete-by-key :368-394): INSERT INTO ships
    // task batches as BEGIN UNLOGGED BATCH of rendered INSERT statements
    // — and Cassandra INSERT is an UPSERT on the primary key, proven by
    // re-inserting key (a,2); DELETE FROM compiles to DELETE CQL only
    // when the WHERE names the full partition key (the server
    // re-validates and refuses otherwise).
    GQuery(
      "q_dml_cql",
      """SELECT * FROM (VALUES
        |  ('a', CAST(1 AS BIGINT), 'alpha', CAST(10 AS BIGINT)),
        |  ('a', CAST(2 AS BIGINT), 'beta2', CAST(22 AS BIGINT)))
        |       AS t(seg, k, name, qty)
        |ORDER BY seg, k""".stripMargin) { (s, d) =>
      fed(s, d)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("seg",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("name",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("qty",
          org.apache.spark.sql.types.LongType)))
      LoopbackCqlServer.register("dml_cql", schema,
        partitionKeys = Seq("seg"), clusteringKeys = Seq("k"), rows = Seq.empty)
      val (host, port) = LoopbackCqlServer.ensureStarted()
      WireEndpoints.register(CqlEndpoint(FedData.CqlSourceName, "dml_cql",
        schema, Seq("seg"), Seq("k"),
        CqlEndpointSpec(host, port, "dml_cql", WireClientConfig(pageSize = 256))))
      val t = s"$C.${FedData.CqlSourceName}.dml_cql"
      s.sql(s"INSERT INTO $t VALUES ('a', 1, 'alpha', 10), ('a', 2, 'beta', 20), " +
        "('b', 3, 'gamma', 30)")
      s.sql(s"INSERT INTO $t VALUES ('a', 2, 'beta2', 22)") // upsert on (a,2)
      s.sql(s"DELETE FROM $t WHERE seg = 'b' AND k = 3")
      s.table(t).orderBy("seg", "k")
    },

    // The DML lifecycle OVER THE BIGQUERY WIRE (reference: streaming
    // insert Put, sql_to_bq.go:178-304; the reference never implemented
    // BQ deletes — UPDATE/DELETE here follow the real service's
    // standard-SQL DML surface instead): INSERT INTO streams task
    // batches as tabledata insertAll, the engine's UPDATE renders ONE
    // DML job, DELETE FROM renders one DELETE job — the warehouse
    // answers both with numDmlAffectedRows.
    GQuery(
      "q_dml_bq",
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'alpha', CAST(10 AS BIGINT), CAST(1.5 AS DOUBLE)),
        |  (CAST(3 AS BIGINT), 'gamma', CAST(99 AS BIGINT), CAST(3.5 AS DOUBLE)),
        |  (CAST(5 AS BIGINT), 'epsilon', CAST(50 AS BIGINT), CAST(5.5 AS DOUBLE)))
        |       AS t(item_id, name, qty, price)
        |ORDER BY item_id""".stripMargin) { (s, d) =>
      fed(s, d)
      val eng = new GraftEngine(s)
      val schema = dmlSchema
      LoopbackRestServer.register("dml_bq", schema, Seq.empty)
      val baseUrl = LoopbackRestServer.ensureStarted()
      WireEndpoints.register(BqEndpoint(FedData.BqSourceName, "dml_bq", schema,
        BqEndpointSpec(baseUrl, "dml_bq", WireClientConfig())))
      val t = s"$C.${FedData.BqSourceName}.dml_bq"
      s.sql(s"INSERT INTO $t VALUES (1, 'alpha', 10, 1.5), (2, 'beta', 20, 0.5), " +
        "(3, 'gamma', 30, 3.5)")
      s.sql(s"INSERT INTO $t VALUES (4, 'delta', 40, 0.25), (5, 'epsilon', 50, 5.5)")
      eng.sql(s"UPDATE $t SET qty = 99 WHERE name = 'gamma'")
      s.sql(s"DELETE FROM $t WHERE price < 2.0 AND item_id <> 1")
      s.table(t).orderBy("item_id")
    },

    // The DML lifecycle OVER THE DATASTORE WIRE (reference: Put upsert
    // by entity key with getEntity-then-Put read-modify-write UPDATE,
    // sql_to_datastore.go:218-360; delete by key via KeyFromWhere,
    // :366-382): INSERT INTO streams :commit upsert batches, the
    // engine's UPDATE fetches matching entities over :runQuery and
    // re-Puts them merged, DELETE FROM ships delete mutations — and
    // only a key-addressed WHERE is accepted for delete.
    GQuery(
      "q_dml_ds",
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'alpha', CAST(10 AS BIGINT), CAST(1.5 AS DOUBLE)),
        |  (CAST(3 AS BIGINT), 'gamma', CAST(99 AS BIGINT), CAST(3.5 AS DOUBLE)),
        |  (CAST(5 AS BIGINT), 'epsilon', CAST(50 AS BIGINT), CAST(5.5 AS DOUBLE)))
        |       AS t(item_id, name, qty, price)
        |ORDER BY item_id""".stripMargin) { (s, d) =>
      fed(s, d)
      val eng = new GraftEngine(s)
      val schema = dmlSchema
      LoopbackRestServer.registerDs("dml_ds", schema, "item_id", Seq.empty)
      val baseUrl = LoopbackRestServer.ensureStarted()
      WireEndpoints.register(DsEndpoint(FedData.DsSourceName, "dml_ds", schema,
        DsEndpointSpec(baseUrl, "dml_ds", WireClientConfig()),
        keyCol = Some("item_id")))
      val t = s"$C.${FedData.DsSourceName}.dml_ds"
      s.sql(s"INSERT INTO $t VALUES (1, 'alpha', 10, 1.5), (2, 'beta', 20, 0.5), " +
        "(3, 'gamma', 30, 3.5)")
      s.sql(s"INSERT INTO $t VALUES (4, 'delta', 40, 0.25), (5, 'epsilon', 50, 5.5)")
      eng.sql(s"UPDATE $t SET qty = 99 WHERE name = 'gamma'")
      s.sql(s"DELETE FROM $t WHERE item_id IN (2, 4)") // key-addressed only
      s.table(t).orderBy("item_id")
    },

    // The DML lifecycle OVER THE BIGTABLE WIRE (reference: Put =
    // cell-set mutation, an UPSERT on the row key, sql_to_bt.go:242-300;
    // delete = per-row DeleteRow mutation by key, :404-430; UPDATE is
    // "not yet supported" — enforced, see BtSourceSpec): INSERT INTO
    // streams :mutateRows batches; re-inserting key 'c' proves the
    // upsert; DELETE FROM accepts only row-key equality/IN.
    GQuery(
      "q_dml_bt",
      """SELECT * FROM (VALUES
        |  ('a', 'alpha', CAST(10 AS BIGINT)),
        |  ('c', 'gamma2', CAST(33 AS BIGINT)),
        |  ('e', 'epsilon', CAST(50 AS BIGINT)))
        |       AS t(k, name, qty)
        |ORDER BY k""".stripMargin) { (s, d) =>
      fed(s, d)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("name",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("qty",
          org.apache.spark.sql.types.LongType)))
      LoopbackRestServer.registerBt("dml_bt", schema, "k", Seq.empty)
      val baseUrl = LoopbackRestServer.ensureStarted()
      WireEndpoints.register(BtEndpoint(FedData.BtSourceName, "dml_bt", schema, "k",
        BtEndpointSpec(baseUrl, "dml_bt", "k", WireClientConfig())))
      val t = s"$C.${FedData.BtSourceName}.dml_bt"
      s.sql(s"INSERT INTO $t VALUES ('a', 'alpha', 10), ('b', 'beta', 20), " +
        "('c', 'gamma', 30)")
      s.sql(s"INSERT INTO $t VALUES ('d', 'delta', 40), ('e', 'epsilon', 50)")
      s.sql(s"INSERT INTO $t VALUES ('c', 'gamma2', 33)") // upsert on row key c
      s.sql(s"DELETE FROM $t WHERE k IN ('b', 'd')")
      s.table(t).orderBy("k")
    },

    // Writes through the keys (Cassandra) profile (reference: prepared
    // upserts sql_to_cql.go:246-361, delete-by-key :368-394): the DML
    // lifecycle on the kv source, whose accept-list constrains DELETE
    // WHERE to key equality/IN — exactly the reference's constraint that
    // a Cassandra delete names its partition key. Each INSERT commit
    // merges per-file [min,max] key ranges into the sidecar, so the final
    // get-by-key read proves pruning metadata stays correct post-write
    // (plan-asserted in FileSourceSpec alongside the refused range delete).
    GQuery(
      "q_dml_keys",
      """SELECT * FROM (VALUES
        |  (CAST(2 AS BIGINT), 'beta', CAST(20 AS BIGINT)),
        |  (CAST(3 AS BIGINT), 'gamma', CAST(33 AS BIGINT)),
        |  (CAST(4 AS BIGINT), 'delta', CAST(40 AS BIGINT)),
        |  (CAST(6 AS BIGINT), 'zeta', CAST(60 AS BIGINT)))
        |       AS t(k, name, qty)
        |ORDER BY k""".stripMargin) { (s, d) =>
      fed(s, d)
      val eng = new GraftEngine(s)
      val t = s"$C.${FedData.KvSourceName}.dml_kv"
      s.sql(s"DROP TABLE IF EXISTS $t")
      s.sql(s"CREATE TABLE $t (k BIGINT, name STRING, qty BIGINT) " +
        "TBLPROPERTIES ('keys' = 'k')")
      s.sql(s"INSERT INTO $t VALUES (1, 'alpha', 10), (2, 'beta', 20)")
      s.sql(s"INSERT INTO $t VALUES (3, 'gamma', 30), (4, 'delta', 40)")
      // delete by key — the only WHERE shape this profile accepts
      s.sql(s"DELETE FROM $t WHERE k = 1")
      // upsert: key 3 replaced, key 6 appended (Put semantics)
      eng.sql(s"UPSERT INTO $t VALUES (3, 'gamma', 33), (6, 'zeta', 60)")
      // final read is a get-by-key IN — exercises the key-range file
      // pruning over files written and rewritten by this very lifecycle
      s.table(t).filter(col("k").isin(2, 3, 4, 6)).orderBy("k")
    },

    // Table maintenance (Delta-style OPTIMIZE; beyond-ref — the
    // reference's backends own their storage, a file-backed source needs
    // it operationally): every INSERT commit adds part files; OPTIMIZE
    // bin-packs them through the connector's own two-phase overwrite, so
    // readers see old files or new, never a mix. The gate proves the data
    // survives byte-exactly; FileSourceSpec asserts the file count drops
    // and get-by-key pruning still works over the rebuilt sidecar.
    GQuery(
      "q_maintenance_compact",
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), 'v0'), (CAST(1 AS BIGINT), 'v1'),
        |  (CAST(2 AS BIGINT), 'v2'), (CAST(3 AS BIGINT), 'v3'),
        |  (CAST(4 AS BIGINT), 'v4'), (CAST(5 AS BIGINT), 'v5'),
        |  (CAST(6 AS BIGINT), 'v6'), (CAST(7 AS BIGINT), 'v7'))
        |       AS t(k, v)
        |ORDER BY k""".stripMargin) { (s, d) =>
      fed(s, d)
      val eng = new GraftEngine(s)
      val t = s"$C.${FedData.SourceName}.compact_items"
      s.sql(s"DROP TABLE IF EXISTS $t")
      s.sql(s"CREATE TABLE $t (k BIGINT, v STRING) TBLPROPERTIES ('keys' = 'k')")
      for (i <- 0 until 4)
        s.sql(s"INSERT INTO $t VALUES (${i * 2}, 'v${i * 2}'), (${i * 2 + 1}, 'v${i * 2 + 1}')")
      val report = eng.sql(s"OPTIMIZE TABLE $t INTO 2 FILES").collect().head
      require(report.getLong(2) <= report.getLong(1),
        s"compaction grew the file count: $report")
      s.table(t).orderBy("k")
    },

    // DDL lifecycle through the connector catalog: CTAS (create + write in
    // the connector's own format) → ALTER TABLE ADD COLUMNS (sidecar-only
    // schema evolution — old files read NULL for the new column, no data
    // rewrite) → post-ALTER INSERT with the widened schema → RMW UPDATE
    // filling the new column on a pre-ALTER row → final SELECT.
    GQuery(
      "q_ddl_lifecycle",
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'red', CAST(10 AS BIGINT), 'hot'),
        |  (CAST(2 AS BIGINT), 'green', CAST(20 AS BIGINT), NULL),
        |  (CAST(3 AS BIGINT), 'blue', CAST(30 AS BIGINT), 'cold'))
        |       AS t(id, color, qty, note)
        |ORDER BY id""".stripMargin) { (s, d) =>
      fed(s, d)
      val t = s"$C.${FedData.SourceName}.ddl_items"
      s.sql(s"DROP TABLE IF EXISTS $t")
      s.sql(s"CREATE TABLE $t USING json TBLPROPERTIES ('keys' = 'id') AS " +
        "SELECT * FROM VALUES (CAST(1 AS BIGINT), 'red', CAST(10 AS BIGINT)), " +
        "(CAST(2 AS BIGINT), 'green', CAST(20 AS BIGINT)) AS v(id, color, qty)")
      s.sql(s"ALTER TABLE $t ADD COLUMNS (note STRING)")
      s.sql(s"INSERT INTO $t VALUES (3, 'blue', 30, 'cold')")
      new GraftEngine(s).sql(s"UPDATE $t SET note = 'hot' WHERE id = 1")
      s.table(t).orderBy("id")
    },

    // MYSQL WIRE PROTOCOL round trip (reference front door: any mysql
    // client dials the proxy, proxy/server.go:62-110, and COM_QUERY text
    // resultsets come back through vendored/mixer/mysql). The query here
    // travels the REAL protocol: v10 handshake + mysql_native_password
    // auth over a loopback socket, COM_QUERY, typed column definitions,
    // lenenc text rows — then the client reconstructs a typed DataFrame
    // FROM THE WIRE BYTES ALONE (schema from the column-def type codes,
    // values parsed from the text protocol), which must hash-match the
    // DuckDB oracle over the source parquet. Proves the listener is a
    // faithful MySQL surface, not a mock: a wrong type byte, a mis-framed
    // packet or a broken NULL marker all fail the gate.
    GQuery(
      "q_src_mysql_wire",
      """SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name,
        |       c_mktsegment, CAST(c_acctbal AS DOUBLE) AS acctbal
        |FROM customer WHERE c_acctbal >= 9900.0
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      import graft.protocol.{MysqlClient, MysqlServer, MysqlWire}
      Tables.registerAll(s, d)
      val port = MysqlServer.ensureStarted(s)
      val c = new MysqlClient("127.0.0.1", port, "root", MysqlServer.Password)
      try {
        val rs = c.select(
          """SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name,
            |       c_mktsegment, CAST(c_acctbal AS DOUBLE) AS acctbal
            |FROM customer WHERE c_acctbal >= 9900.0
            |ORDER BY c_custkey""".stripMargin)
        val schema = org.apache.spark.sql.types.StructType(rs.columns.map(cd =>
          org.apache.spark.sql.types.StructField(
            cd.name, MysqlWire.sparkType(cd.typeCode), nullable = true)))
        val rows: java.util.List[org.apache.spark.sql.Row] =
          new java.util.ArrayList[org.apache.spark.sql.Row]()
        rs.rows.foreach { r =>
          val vals = schema.fields.indices.map { i =>
            r(i).map { txt =>
              schema.fields(i).dataType match {
                case org.apache.spark.sql.types.IntegerType => txt.toInt
                case org.apache.spark.sql.types.LongType => txt.toLong
                case org.apache.spark.sql.types.FloatType => txt.toFloat
                case org.apache.spark.sql.types.DoubleType => txt.toDouble
                case org.apache.spark.sql.types.DateType => java.sql.Date.valueOf(txt)
                case org.apache.spark.sql.types.TimestampType =>
                  java.sql.Timestamp.valueOf(txt)
                case _ => txt
              }
            }.orNull
          }
          rows.add(org.apache.spark.sql.Row(vals: _*))
        }
        s.createDataFrame(rows, schema).orderBy("c_custkey")
      } finally c.close()
    }
  )
}
