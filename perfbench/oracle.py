"""Output checks of the benchmark, against DuckDB.

Catalog operations with oracle SQL are compared with the oracle's
result by the canonical sort-and-compare rule of tools/check_one.py
(its `canon` function is loaded from that file, unchanged). The ingest
workload's final txlog and Derby contents and its read-backs are
compared with a replay of the same generated rows and DML in DuckDB.
"""
import ast
import glob
import json
import os
import re

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# ingest operations that write user rows (write_rows_per_s)
WRITE_OPS = ("etl_jdbc", "create_b0", "insert_b1", "stream_append",
             "update")


def _load_canon():
    path = os.path.join(ROOT, "tools", "check_one.py")
    tree = ast.parse(open(path).read(), path)
    fn = [n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "canon"]
    ns = {"pd": pd}
    exec(compile(ast.Module(body=fn, type_ignores=[]), path, "exec"), ns)
    return ns["canon"]


def compare(got, want, canon):
    """check_one.py's rule; returns an error string or None."""
    g, w = canon(got), canon(want)
    if list(g.columns) != list(w.columns):
        return f"cols {list(g.columns)} vs {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} vs {len(w)}"
    for c in g.columns:
        a, b = g[c].astype(str).values, w[c].astype(str).values
        bad = a != b
        if bad.any():
            i = bad.argmax()
            return f"col {c} row {i}: spark={a[i]} oracle={b[i]}"
    return None


CTE = re.compile(r"(?:WITH RECURSIVE|WITH|\),)\s*(\w+) AS \(")


def materialized(sql):
    """The same query with every non-recursive CTE of a WITH RECURSIVE
    marked MATERIALIZED. DuckDB 1.0 otherwise evaluates a CTE again at
    each step of the recursion that reads it: d06's oracle recomputes
    its pair join per step and takes about 11 s at sf0.1 instead of 2.
    The hint changes how DuckDB evaluates the query, not its result."""
    if "WITH RECURSIVE" not in sql:
        return sql
    defs = list(CTE.finditer(sql))
    ends = [m.start(1) for m in defs[1:]] + [len(sql)]
    recursive = {m.group(1) for m, end in zip(defs, ends)
                 if re.search(rf"\b{m.group(1)}\b", sql[m.end():end])}
    return CTE.sub(lambda m: m.group(0) if m.group(1) in recursive
                   else m.group(0)[:-1] + "MATERIALIZED (", sql)


def check_catalog(data, verify_dir):
    canon = _load_canon()
    con = duckdb.connect()
    con.execute(f"SET threads={os.cpu_count() or 4}")   # the engine has exited
    con.execute("SET memory_limit='2GB'")
    for t in TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    sqls = json.load(open(os.path.join(verify_dir, "oracle_sql.json")))
    wrong = {}
    for name, sql in sorted(sqls.items()):
        files = sorted(glob.glob(os.path.join(verify_dir, name, "*.parquet")))
        try:
            got = pd.concat([pd.read_parquet(f) for f in files])
            want = con.sql(materialized(sql)).df()
            err = compare(got, want, canon)
        except Exception as e:  # an oracle that cannot run is a failed check
            err = str(e)[:200]
        if err:
            wrong[name] = "oracle mismatch: " + err
    return wrong


def check(workload, data, res, replay):
    if "verify_dir" not in res:
        return {}
    if workload == "ingest":
        return check_ingest(res["verify_dir"], replay)
    return check_catalog(data, res["verify_dir"])


def ingest_replay(plan):
    """Expected ingest results, replayed in DuckDB from the generated
    rows and DML constants."""
    con = duckdb.connect()
    rows = pd.DataFrame([r for batch in plan["batches"] for r in batch],
                        columns=["card_key", "ts", "k", "grp", "score"])
    con.register("raw", rows)
    # what the ETL pipeline sinks: trimmed lower-case keys, latest
    # record per key, then per-group count / sum / mean
    jdbc = con.sql("""
        WITH c AS (SELECT lower(trim(card_key, ' ')) AS card_key, ts, grp, score FROM raw),
        latest AS (SELECT * FROM c QUALIFY row_number() OVER
                   (PARTITION BY card_key ORDER BY ts DESC) = 1)
        SELECT grp, count(*) AS n_records, sum(score) AS total, avg(score) AS mean
        FROM latest GROUP BY grp""").fetchall()
    con.execute("""CREATE TABLE t AS SELECT lower(trim(card_key, ' ')) AS card_key,
                   ts, k, grp, score FROM raw""")
    pre = con.sql("SELECT grp, count(*), sum(score) FROM t GROUP BY grp").fetchall()
    mod, ur = plan["mod"], plan["update_r"]
    n_update = con.sql(f"SELECT count(*) FROM t WHERE k % {mod} = {ur}").fetchone()[0]
    con.execute(f"UPDATE t SET score = score + {plan['update_delta']} WHERE k % {mod} = {ur}")
    # the UPDATE's change feed: its version follows one commit per
    # INSERT batch and one stream batch; the key tombstones carry no
    # payload, the replacement rows the new scores
    v = len(plan["batches"]) - len(plan["stream_batches"]) + 1
    upd = con.sql(f"SELECT sum(score) FROM t WHERE k % {mod} = {ur}").fetchone()[0] or 0.0
    changes = [("delete", v, n_update, 0.0), ("insert", v, n_update, upd)]
    final = con.sql("SELECT card_key, ts, k, grp, score FROM t").fetchall()
    agg = con.sql("SELECT grp, count(*), sum(score) FROM t GROUP BY grp").fetchall()
    return {
        "final_table": final, "final_jdbc": jdbc, "read_agg": agg,
        "read_version": pre, "read_changes": changes,
        "dml": {"update": n_update},
        # user rows the write operations commit, for write_rows_per_s
        "rows_written": len(rows) + len(jdbc) + n_update,
    }


def check_ingest(verify_dir, replay):
    got = json.load(open(os.path.join(verify_dir, "ingest.json")))
    wrong = {}
    for name in ("final_table", "final_jdbc", "read_agg", "read_version", "read_changes"):
        g = sorted(tuple(r) for r in got.get(name, []))
        w = sorted(tuple(r) for r in replay[name])
        if name == "final_jdbc":    # mean: sum / n may round differently
            g = [r[:3] + (round(r[3], 9),) for r in g]
            w = [r[:3] + (round(r[3], 9),) for r in w]
        if g != w:
            diff = next((f"{a} vs {b}" for a, b in zip(g, w) if a != b), "")
            wrong[name] = f"replay mismatch ({len(g)} vs {len(w)} rows) {diff}"[:300]
    return wrong
