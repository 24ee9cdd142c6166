"""Correctness checks of one benchmark run, in DuckDB.

Read workloads: each query's result (written by the untimed correctness
pass) is compared with `SparkEntry.oracleSql` run in DuckDB over the same
parquet tables, or with the committed golden snapshot for golden-gated
queries, using the canonicalisation of tools/check.py.

table_ops: the op log is replayed on plain DuckDB tables. The final
table, the downstream table of the change drain and one time-travel
version must equal the replay row for row.
"""
import glob
import hashlib
import os
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(tmp):
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tmp}'")
    con.execute("SET threads=4")
    return con


def check(run, out, data, golden, cache):
    if run["workload"] == "table_ops":
        return check_table(run, out, data)
    return check_reads(run, out, data, golden, cache)


def canon_module():
    tools = os.path.join(os.getcwd(), "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import check as tools_check
    return tools_check.canon


def oracle_sql(name, sql, gated, golden):
    """A golden-gated query's oracle is its snapshot at this scale."""
    if name in gated:
        return f"SELECT * FROM read_parquet('{golden}/{name}.parquet')"
    return sql


def check_reads(run, out, data, golden, cache):
    canon = canon_module()
    rep = run["workload_report"]
    os.makedirs(cache, exist_ok=True)
    con = None
    mismatches = []
    for name in rep["queries"]:
        files = glob.glob(f"{out}/results/{name}/*.parquet")
        if not files:
            mismatches.append(f"{name}: no result written")
            continue
        spark_df = duckdb.connect().execute(
            f"SELECT * FROM read_parquet({files!r})").df()
        sql = oracle_sql(name, rep["oracle"][name], rep["golden_gated"], golden)
        # the oracle depends only on the SQL and the input tables
        key = hashlib.sha256(f"{data}\n{sql}".encode()).hexdigest()[:24]
        path = os.path.join(cache, f"{name}-{key}.pkl")
        if os.path.exists(path):
            duck_df = pd.read_pickle(path)
        else:
            if con is None:
                con = connect(cache)
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
            duck_df = con.execute(sql).df()
            duck_df.to_pickle(path)
        a, b = canon(spark_df), canon(duck_df)
        if list(a.columns) != list(b.columns) or len(a) != len(b):
            mismatches.append(f"{name}: spark cols={list(a.columns)} rows={len(a)} "
                              f"vs oracle cols={list(b.columns)} rows={len(b)}")
            continue
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
        except AssertionError as e:
            mismatches.append(f"{name}: {str(e).splitlines()[0][:200]}")
            continue
        kinds = [c for c in a.columns if a[c].dtype.kind != b[c].dtype.kind]
        if kinds:
            mismatches.append(f"{name}: dtype kinds differ in {kinds}")
    n = len(rep["queries"])
    return {"mismatches": mismatches,
            "summary": f"{n - len(mismatches)}/{n} query results equal their oracle"}


def check_table(run, out, data):
    rep = run["workload_report"]
    con = connect(out)
    con.execute("CREATE TABLE li AS SELECT file_row_number AS k, * EXCLUDE (file_row_number) "
                f"FROM read_parquet('{data}/lineitem.parquet', file_row_number=true)")
    con.execute(f"CREATE TABLE s AS SELECT * FROM li WHERE k < {rep['seed_rows']}")
    con.execute("CREATE TABLE appended AS SELECT * FROM li LIMIT 0")
    asof = rep.get("asof_version")
    version = rep["seed_version"]
    changed = 0  # rows inserted, updated or deleted by the warm-up pass
    captured = False

    def count(where):
        return con.execute(f"SELECT count(*) FROM s WHERE {where}").fetchone()[0]

    for e in rep["log"]:
        op = e["op"]
        if "version" in e and e["version"] > version:
            if not captured and asof is not None and e["version"] > asof:
                con.execute("CREATE TABLE asof_state AS SELECT * FROM s")
                captured = True
            version = e["version"]
        warm = e["pass"] == -1
        if op == "append":
            rows = f"SELECT * FROM li WHERE k >= {e['lo']} AND k < {e['hi']}"
            con.execute(f"INSERT INTO s {rows}")
            con.execute(f"INSERT INTO appended {rows}")
            changed += (e["hi"] - e["lo"]) if warm else 0
        elif op == "merge":
            con.execute(
                "CREATE OR REPLACE TEMP TABLE src AS "
                "SELECT * REPLACE (l_quantity + 100 AS l_quantity) FROM li "
                f"WHERE k >= {e['b']} AND k < {e['b'] + 500} UNION ALL "
                f"SELECT * REPLACE (k + {e['offset']} AS k) FROM li "
                f"WHERE k >= {e['c']} AND k < {e['c'] + 500}")
            con.execute("DELETE FROM s WHERE k IN (SELECT k FROM src)")
            con.execute("INSERT INTO s SELECT * FROM src")
            changed += 1000 if warm else 0
        elif op == "update":
            where = f"k BETWEEN {e['lo']} AND {e['hi']}"
            changed += count(where) if warm else 0
            con.execute(f"UPDATE s SET l_quantity = l_quantity + 1 WHERE {where}")
        elif op == "delete":
            where = f"k BETWEEN {e['lo']} AND {e['hi']}"
            changed += count(where) if warm else 0
            con.execute(f"DELETE FROM s WHERE {where}")
    if not captured:
        con.execute("CREATE TABLE asof_state AS SELECT * FROM s")

    cols = [r[0] for r in con.execute("DESCRIBE s").fetchall()]
    types = dict(con.execute("SELECT column_name, column_type FROM (DESCRIBE s)").fetchall())
    mismatches = []
    for dump, expected in (("final", "s"), ("down", "appended"), ("asof", "asof_state")):
        files = glob.glob(f"{out}/dump/{dump}/*.parquet")
        if not files:
            mismatches.append(f"table_ops {dump}: no dump written")
            continue
        sel = ", ".join(f'CAST("{c}" AS {types[c]}) AS "{c}"' for c in cols)
        con.execute(f"CREATE OR REPLACE TEMP VIEW got AS SELECT {sel} FROM read_parquet({files!r})")
        plain = ", ".join(f'"{c}"' for c in cols)
        extra = con.execute(f"SELECT count(*) FROM (SELECT {plain} FROM got "
                            f"EXCEPT ALL SELECT {plain} FROM {expected})").fetchone()[0]
        lost = con.execute(f"SELECT count(*) FROM (SELECT {plain} FROM {expected} "
                           f"EXCEPT ALL SELECT {plain} FROM got)").fetchone()[0]
        if extra or lost:
            mismatches.append(f"table_ops {dump}: {extra} rows not in the replay, "
                              f"{lost} replay rows missing")
    amp = {}
    if rep.get("live_bytes"):
        amp["space_amp"] = rep["table_bytes"] / rep["live_bytes"]
    if changed:
        amp["rewrite_amp"] = rep["warm_added_rows"] / changed
    n_ops = sum(1 for e in rep["log"])
    return {"mismatches": mismatches, "amp": amp,
            "summary": f"final, downstream and as-of v{asof} tables vs a replay of "
                       f"{n_ops} logged ops: {3 - len(mismatches)}/3 equal"}
