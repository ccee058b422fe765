"""Correctness check of one benchmark run against the DuckDB oracle.

Each query's full result (written by the harness in its cold pass, and in
every pass on the egress workload) is compared with an expected result for
the same input:

- `oracle`: the query's DuckDB SQL from `SparkEntry.oracleSql`, run on the
  run's own corpus. An oracle that does not finish within `ORACLE_TIMEOUT_S`
  (or before the run's deadline) leaves the query unchecked, and an
  unchecked query counts as a wrong result;
- `self`: a query with no oracle SQL; only the row-count agreement below is
  checked.

Every timed run must also have counted the same rows as the written result.

Values compare as in the engine's oracle gate: columns sorted by name, rows
in result order, equal values or equal string forms; floats also match
within a relative 1e-9, since the generated corpus changes with the seed.
"""
import glob
import math
import os
import threading
import time

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
ORACLE_TIMEOUT_S = 20


def _connect(data_dir, work):
    con = duckdb.connect()
    tmp = os.path.join(work, "duckdb_tmp")
    os.makedirs(tmp, exist_ok=True)
    con.execute("SET threads TO 2")
    con.execute("SET memory_limit = '1GB'")
    con.execute(f"SET temp_directory = '{tmp}'")
    con.execute("SET max_temp_directory_size = '2GB'")
    for t in TABLES:
        src = f"{data_dir}/{t}.parquet"
        if not os.path.exists(src):  # the x2 corpus holds only the tables its queries read
            continue
        if os.path.isdir(src):  # a synthesized table is a directory of parts
            src = f"{src}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    return con


def _bounded(con, sql, timeout_s):
    timer = threading.Timer(timeout_s, con.interrupt)
    timer.start()
    try:
        return con.sql(sql).df()
    finally:
        timer.cancel()


def _same(x, y):
    if x == y or str(x) == str(y):
        return True
    try:
        fx, fy = float(x), float(y)
    except (TypeError, ValueError):
        return False
    return math.isclose(fx, fy, rel_tol=1e-9, abs_tol=1e-12) or (math.isnan(fx) and math.isnan(fy))


def _diff(got, exp):
    got = got[sorted(got.columns)]
    exp = exp[sorted(exp.columns)]
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    for c in got.columns:
        for i, (x, y) in enumerate(zip(got[c].tolist(), exp[c].tolist())):
            if not _same(x, y):
                return f"col={c} row={i} engine={x!r} expected={y!r}"
    return None


def check(res, work, tamper=None, starve=None, deadline=None):
    """Returns {query: {"verdict": "ok" | reason, "source": "oracle" | "self",
    "rows": n, "oracle_s": s}}. For the harness self-test, `tamper` names a
    query whose expected result is altered and `starve` one whose oracle gets
    no time."""
    con = _connect(res["data_dir"], work)
    writes = res["workload"] == "mapreduce_files"
    out = {}
    for q in res["order"]:
        counts = {s["rows"] for s in res["samples"]
                  if s["q"] == q and s["pass"] >= 1 and s["status"] == "ok"}
        files = glob.glob(os.path.join(work, "out", q, "*.parquet"))
        entry = out[q] = {"source": "self", "rows": None}
        if not files:
            cold = [s for s in res["samples"] if s["q"] == q and s["pass"] == 0]
            entry["verdict"] = f"no result written ({cold[0]['status'] if cold else 'not run'})"
            continue
        got = con.sql(f"SELECT * FROM '{os.path.join(work, 'out', q)}/*.parquet'").df()
        entry["rows"] = len(got)
        exp = None
        sql = res["oracle"].get(q)
        if sql:
            entry["source"] = "oracle"
            budget = ORACLE_TIMEOUT_S if deadline is None else min(ORACLE_TIMEOUT_S, deadline - time.time())
            if q == starve:
                budget = 0
            t0 = time.time()
            try:
                if budget <= 0:
                    raise duckdb.InterruptException("no time left")
                exp = _bounded(con, sql, budget)
            except duckdb.InterruptException:
                entry["verdict"] = f"not checked: the oracle did not finish within {budget:.0f} s"
                continue
            finally:
                entry["oracle_s"] = time.time() - t0
        if q == tamper:
            exp = (exp if exp is not None else got).copy()
            exp.iloc[0, 0] = "tampered"
        bad = None
        if not writes and counts - {len(got)}:
            bad = f"timed row counts {sorted(counts)} vs {len(got)} written"
        elif exp is not None:
            bad = _diff(got, exp)
        entry["verdict"] = bad or "ok"
    return out
