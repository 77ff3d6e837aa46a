"""Seeded statement generators for the two workloads.

Each generator returns a plan: per-client statement streams made of cycles.
A cycle runs a fixed sequence of operation types, heavy and light ones
interleaved, and each client starts at another point of that sequence; the
seed picks every literal. So the seed changes which statements run but never
the share of each operation type, nor which types fall into a window that
ends part-way through a cycle. The first cycle of client 0 and then, with
more than one client, one cycle of every client at once are the untimed
warm-up. Statements carry, next to the SQL the engine receives, what the
correctness check needs: the DuckDB SQL over the origin parquet tables, or
the expected rows from the benchmark's own model of its writes.
"""
import random

# Sizes of the generated sf0.1 tables (datagen.py).
N_CUST, N_ORD, N_EVENTS = 15000, 150000, 100000
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

# frontdoor_mixed: 20 statements per cycle -> 60% reads (5 CSV filters,
# 6 parquet point lookups, 1 keyed-table point read), 10% prepared lookups,
# 10% metadata, 20% keyed writes.
FRONTDOOR_CYCLE = ["csv", "li", "meta", "csv", "insert", "li", "prep", "csv",
                   "kvread", "li", "upsert", "csv", "meta", "li", "update",
                   "csv", "prep", "li", "delete", "li"]
KIND = {"csv": "read", "li": "read", "kvread": "read", "prep": "read",
        "meta": "meta", "insert": "write", "upsert": "write",
        "update": "write", "delete": "write"}
KV_ROWS = 100
PREPARED = "SELECT o_custkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey = ?"
META = ["SHOW TABLES", "DESCRIBE lineitem", "SELECT @@version_comment",
        "SHOW VARIABLES LIKE 'version%'"]


def _rng(seed: int, name: str, client: int = 0) -> random.Random:
    return random.Random(f"{name}/{seed}/{client}")


def _stmt(op, sql, duck=None, **extra):
    s = {"op": op, "kind": KIND.get(op, "read"), "sql": sql}
    if duck is not None:
        s["duck"] = duck
    s.update(extra)
    return s


def _kv_row(r, k):
    return (k, f"v{r.randrange(10 ** 6)}", r.randrange(10 ** 6))


def _rotated(cycle: list, client: int, clients: int) -> list:
    """The cycle as client `client` runs it: started 1/clients further on."""
    k = client * len(cycle) // clients
    return cycle[k:] + cycle[:k]


def _source(name, parent, pushdown):
    return (f"CREATE SOURCE {name} WITH {{\"type\": \"csv\", \"path\": "
            f"\"{parent}/{name}\", \"pushdown\": \"{pushdown}\"}}")


def frontdoor(seed: int, clients: int, cycles: int, work_dir: str, fed_dir: str) -> dict:
    """`fed_dir`: where the engine staged its federation fixture, whose CSV
    table `orders_csv` (orders as eight part files) the BASELINE-shaped
    reads filter."""
    setup = [_source("fed", fed_dir, "full"), _source("bench", work_dir, "keys")]
    streams, kv_init = [], []
    for c in range(clients):
        r = _rng(seed, "frontdoor", c)
        t = f"graft.bench.kv_{c}"
        model = dict((k, (v, n)) for k, v, n in (_kv_row(r, k) for k in range(KV_ROWS)))
        setup.append(f"CREATE TABLE {t} (k BIGINT, v STRING, n BIGINT) "
                     "TBLPROPERTIES ('keys' = 'k')")
        kv_init.append([[k, v, n] for k, (v, n) in sorted(model.items())])
        setup.append(f"INSERT INTO {t} VALUES " + ", ".join(
            f"({k}, '{v}', {n})" for k, v, n in kv_init[-1]))
        next_key = KV_ROWS
        stream = []
        for _ in range(cycles):
            for op in _rotated(FRONTDOOR_CYCLE, c, clients):
                if op == "csv":
                    cust, st = r.randrange(N_CUST), r.choice(STATUSES)
                    q = ("SELECT o_orderkey, o_totalprice FROM {} WHERE o_custkey = "
                         f"{cust} AND o_orderstatus = '{st}'")
                    stream.append(_stmt(op, q.format("graft.fed.orders_csv"), q.format("orders")))
                elif op == "li":
                    q = ("SELECT l_linenumber, l_partkey, l_quantity, l_extendedprice "
                         f"FROM lineitem WHERE l_orderkey = {r.randrange(N_ORD)}")
                    stream.append(_stmt(op, q, q))
                elif op == "prep":
                    k = r.randrange(N_ORD)
                    stream.append(_stmt(op, PREPARED, PREPARED.replace("?", str(k)), param=k))
                elif op == "meta":
                    stream.append(_stmt(op, r.choice(META)))
                elif op == "kvread":
                    # mostly live keys, sometimes a deleted or unknown one
                    k = r.choice(sorted(model)) if r.random() < 0.8 else r.randrange(next_key + 5)
                    exp = [[str(k), model[k][0], str(model[k][1])]] if k in model else []
                    stream.append(_stmt(op, f"SELECT k, v, n FROM {t} WHERE k = {k}",
                                        k=k, expect=exp))
                elif op == "insert":
                    k, v, n = _kv_row(r, next_key)
                    next_key += 1
                    model[k] = (v, n)
                    stream.append(_stmt(op, f"INSERT INTO {t} VALUES ({k}, '{v}', {n})",
                                        k=k, v=v, n=n, ub=len(f"{k},{v},{n}")))
                elif op == "upsert":
                    k, v, n = _kv_row(r, r.choice(sorted(model)))
                    model[k] = (v, n)
                    stream.append(_stmt(op, f"UPSERT INTO {t} VALUES ({k}, '{v}', {n})",
                                        k=k, v=v, n=n, ub=len(f"{k},{v},{n}")))
                elif op == "update":
                    k, n = r.choice(sorted(model)), r.randrange(10 ** 6)
                    model[k] = (model[k][0], n)
                    stream.append(_stmt(op, f"UPDATE {t} SET n = {n} WHERE k = {k}",
                                        k=k, n=n, ub=len(f"{k},{n}")))
                else:  # delete
                    k = r.choice(sorted(model))
                    del model[k]
                    stream.append(_stmt(op, f"DELETE FROM {t} WHERE k = {k}",
                                        k=k, ub=len(str(k))))
        streams.append(stream)
    # traced run only: statements sent both over the wire and in-process
    r = _rng(seed, "frontdoor-paired")
    paired = []
    for i in range(16):
        op = ["csv", "li", "prep", "meta"][i % 4]
        if op == "csv":
            sql = (f"SELECT o_orderkey, o_totalprice FROM graft.fed.orders_csv WHERE "
                   f"o_custkey = {r.randrange(N_CUST)} AND o_orderstatus = '{r.choice(STATUSES)}'")
        elif op == "li":
            sql = ("SELECT l_linenumber, l_partkey, l_quantity, l_extendedprice FROM lineitem "
                   f"WHERE l_orderkey = {r.randrange(N_ORD)}")
        elif op == "prep":
            sql = PREPARED.replace("?", str(r.randrange(N_ORD)))
        else:
            sql = r.choice(META)
        paired.append(_stmt(op, sql))
    return {"streams": streams, "setup_sql": setup, "prepared_sql": PREPARED,
            "paired": paired, "cycle_len": len(FRONTDOOR_CYCLE), "kv_init": kv_init}


def _federated_ops(r):
    """One cycle, as (op, SQL template over table names) pairs: every
    federated statement shape once with seeded literals, the deep-paging
    scan and the ES x Mongo join twice, in a fixed order that spreads the
    heavy shapes (scans, joins, aggregates) over the cycle. The join is the
    heaviest shape; at two in twenty it holds p95 inside its own latency
    range instead of on the edge between it and the next shape. The wire
    fixtures are staged from the same parquet tables the DuckDB check
    reads."""
    # literal ranges are narrow enough that each shape does about the same
    # work under every seed: the seed varies the statements, not their cost
    seg, seg2 = r.sample(SEGMENTS, 2)
    st = r.choice(STATUSES)
    nat = r.randrange(25)
    cust, order = r.randrange(N_CUST), r.randrange(N_ORD)
    lo = r.randrange(0, N_CUST - 300)
    price, price2 = r.randrange(480000, 482000), r.randrange(480000, 482000)
    top = r.randrange(496000, 497000)
    bal = r.randrange(9000, 9200)
    ops = dict([
        ("es_filter", "SELECT c_custkey, c_name, c_acctbal FROM {cust_es} WHERE "
         f"c_mktsegment = '{seg}' AND c_nationkey = {nat} AND c_acctbal >= {bal}"),
        ("es_point", "SELECT c_name, c_mktsegment, c_acctbal FROM {cust_es} WHERE "
         f"c_custkey = {cust}"),
        ("mongo_filter", "SELECT o_orderkey, o_custkey, o_totalprice FROM {ord_mongo} "
         f"WHERE o_custkey = {cust} AND o_orderstatus = '{st}'"),
        ("mongo_point", "SELECT o_custkey, o_orderstatus, o_totalprice FROM {ord_mongo} "
         f"WHERE o_orderkey = {order}"),
        ("cql_key", "SELECT c_custkey, c_name, c_acctbal FROM {cust_cql} WHERE "
         f"c_mktsegment = '{seg}' AND c_custkey BETWEEN {lo} AND {lo + 200}"),
        ("bt_range", "SELECT c_name, c_custkey, c_acctbal FROM {cust_bt} WHERE "
         f"c_name LIKE 'Customer#{lo // 10:08d}%'"),
        ("ds_query", "SELECT event_id, value FROM {ev_ds} WHERE "
         f"event_type = '{r.choice(EVENT_TYPES)}' AND user_id = {r.randrange(1515)}"),
        ("ds_point", "SELECT event_type, user_id, value FROM {ev_ds} WHERE "
         f"event_id = {r.randrange(N_EVENTS)}"),
        ("bq_filter", "SELECT o_orderkey, o_totalprice FROM {ord_bq} WHERE "
         f"o_custkey = {cust}"),
        ("mongo_agg", "SELECT o_orderstatus, count(*) AS n, CAST(sum(o_custkey) AS BIGINT) AS s "
         f"FROM {{ord_mongo}} WHERE o_totalprice > {price - 400000} GROUP BY o_orderstatus"),
        ("es_composite", "SELECT o_orderstatus, o_custkey, count(*) AS n, "
         "CAST(sum(o_orderkey) AS BIGINT) AS s FROM {ord_es} WHERE "
         f"o_custkey BETWEEN {lo} AND {lo + 20} GROUP BY o_orderstatus, o_custkey"),
        ("cql_agg", "SELECT c_mktsegment, count(*) AS n, CAST(sum(c_nationkey) AS BIGINT) AS s, "
         "CAST(max(c_custkey) AS BIGINT) AS m FROM {cust_cql} "
         f"WHERE c_mktsegment = '{seg}' GROUP BY c_mktsegment"),
        ("bq_agg", "SELECT o_orderpriority, count(*) AS n, CAST(sum(o_custkey) AS BIGINT) AS s "
         f"FROM {{ord_bq}} WHERE o_totalprice >= {price - 200000} GROUP BY o_orderpriority"),
        ("join_bq", "SELECT o.o_orderkey, o.o_custkey, c.c_name FROM {ord_bq} o "
         "JOIN {cust_bq} c ON o.o_custkey = c.c_custkey "
         f"WHERE o.o_totalprice > {top}"),
        ("join_cql_mongo", "SELECT o.o_orderkey, c.c_name FROM {ord_mongo} o JOIN {cust_cql} c "
         f"ON o.o_custkey = c.c_custkey WHERE c.c_mktsegment = '{seg2}' "
         f"AND c.c_custkey BETWEEN {lo} AND {lo + 30}"),
        ("rest_filterql", "SELECT c_custkey, c_name FROM {cust_api} WHERE "
         f"c_mktsegment IN ('{seg}', '{seg2}') AND c_nationkey = {nat} "
         f"AND c_name LIKE '%{r.randrange(10)}'"),
    ])
    scan = ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice "
            "FROM {ord_es} WHERE o_totalprice > ")
    join = ("SELECT c.c_mktsegment, count(*) AS n, CAST(sum(o.o_orderkey) AS BIGINT) AS s "
            "FROM {{ord_mongo}} o JOIN {{cust_es}} c ON o.o_custkey = c.c_custkey "
            "WHERE c.c_nationkey = {} AND c.c_acctbal > {} "
            "AND o.o_orderstatus = '{}' GROUP BY c.c_mktsegment")
    twice = {"es_deep_page": iter([scan + str(price), scan + str(price2)]),
             "join_es_mongo": iter([join.format(nat, bal, st), join.format(
                 r.randrange(25), r.randrange(9000, 9200), r.choice(STATUSES))])}
    return [(op, next(twice[op]) if op in twice else ops[op]) for op in FEDERATED_ORDER]


FEDERATED_ORDER = ["es_deep_page", "es_point", "cql_key", "join_es_mongo", "bt_range",
                   "ds_query", "mongo_agg", "es_filter", "ds_point", "es_deep_page",
                   "mongo_point", "cql_agg", "join_bq", "join_es_mongo", "bq_filter",
                   "rest_filterql", "es_composite", "mongo_filter", "join_cql_mongo", "bq_agg"]


FED_TABLES = {
    "cust_es": ("graft.es.customer_es", "customer"),
    "ord_es": ("graft.es.orders_es", "orders"),
    "ord_mongo": ("graft.mongo.orders_mongo", "orders"),
    "cust_cql": ("graft.cql.customer_cql", "customer"),
    "cust_bt": ("graft.bt.customer_btw", "customer"),
    "ev_ds": ("graft.ds.events_ds", "events"),
    "ord_bq": ("graft.bq.orders_bqw", "orders"),
    "cust_bq": ("graft.bq.customer_bqw", "customer"),
    "cust_api": ("graft.api.segments_api", "customer"),
}
FEDERATED_CYCLE = len(_federated_ops(random.Random(0)))


def federated(seed: int, clients: int, cycles: int) -> dict:
    spark_t = {k: v[0] for k, v in FED_TABLES.items()}
    duck_t = {k: v[1] for k, v in FED_TABLES.items()}
    streams = []
    for c in range(clients):
        r = _rng(seed, "federated", c)
        stream = []
        for _ in range(cycles):
            ops = _rotated(_federated_ops(r), c, clients)
            stream += [_stmt(n, q.format(**spark_t), q.format(**duck_t)) for n, q in ops]
        streams.append(stream)
    return {"streams": streams, "cycle_len": FEDERATED_CYCLE}
