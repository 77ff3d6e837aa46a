"""Correctness checks, run after the timed window has closed.

- Read statements are re-run in DuckDB over the origin parquet tables.
- Reads of the benchmark's keyed tables are compared with the model of the
  writes the benchmark issued (expected rows are in the plan), and each
  table's final content with the model after the statements that ran.
- Metadata statements must name what the engine is known to hold.
"""
import json
import math
import os
import re

import duckdb

# the origin tables the workloads' statements read
TABLES = ["customer", "orders", "lineitem", "events"]
_INT = re.compile(r"-?\d+$")


def cell(v) -> str:
    """One value in a form both engines agree on: exact integers, doubles to
    nine significant digits (last-ulp differences of avg/sum vanish)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, int):
        return str(v)
    s = str(v)
    if _INT.match(s):
        return str(int(s))
    try:
        f = float(s)
    except ValueError:
        return s
    if not math.isfinite(f):
        return s
    if f.is_integer() and abs(f) < 1e15:
        return str(int(f))
    return f"{f:.9g}"


def canon_rows(rows) -> list:
    return sorted(tuple(cell(v) for v in row) for row in rows)


class Checker:
    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in TABLES:
            p = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{p}')")
        self.memo = {}

    def duck(self, sql: str) -> list:
        if sql not in self.memo:
            self.memo[sql] = canon_rows(self.con.execute(sql).fetchall())
        return self.memo[sql]

    def statement(self, st: dict, rec: dict):
        """None when the record is correct, else a one-line reason."""
        if not rec["ok"]:
            return f"{st['op']}: error {rec.get('err')}"
        got = canon_rows(rec["rows"])
        if "duck" in st:
            exp = self.duck(st["duck"])
        elif "expect" in st:
            exp = canon_rows(st["expect"])
        elif st["kind"] == "write":
            return None
        else:
            return _meta(st["sql"], rec["rows"])
        if got != exp:
            return f"{st['op']}: {len(got)} rows, expected {len(exp)}: {st['sql'][:120]}"
        return None


def _meta(sql: str, rows: list):
    flat = [v for row in rows for v in row]
    want = {"SHOW TABLES": "lineitem", "DESCRIBE lineitem": "l_orderkey",
            "SELECT @@version_comment": "graft spark engine",
            "SHOW VARIABLES LIKE 'version%'": "version_comment"}[sql]
    return None if want in flat else f"meta: {sql} lacks {want}"


def kv_model(stmts: list, executed: int, kv_rows: list) -> list:
    """Content of one keyed table after the first `executed` statements of
    its client's stream, from the set-up rows and the writes' parameters."""
    model = {int(k): (v, int(n)) for k, v, n in kv_rows}
    for st in stmts[:executed]:
        op, k = st["op"], st.get("k")
        if op in ("insert", "upsert"):
            model[k] = (st["v"], st["n"])
        elif op == "update":
            model[k] = (model[k][0], st["n"])
        elif op == "delete":
            model.pop(k, None)
    return canon_rows([k, v, n] for k, (v, n) in model.items())


def load_json(path: str):
    with open(path) as f:
        return json.load(f)
