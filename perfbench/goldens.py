#!/usr/bin/env python3
"""Oracle goldens of the benchmark's queries, and the check against them.

A golden is the digest of a query's DuckDB oracle result over the
benchmark's tables, under the rules of `dev/check.py`: columns sorted by
name, exact DuckDB logical types, rows in output order, and no DECIMAL
column in the engine's output. A query with no oracle SQL gets a rows-only
golden from a row-count query in ROWS_ONLY.

Regenerate (needs the built harness for the oracle SQL; takes about a
minute, most of it `corpus`):

    python3 perfbench/goldens.py [workload ...]
"""
import hashlib
import json
import subprocess
import sys
import tempfile
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent
DATA = HERE / "data" / "sf0.1"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# queries without oracle SQL: DuckDB SQL whose row count the output must have
ROWS_ONLY = {
    "q14_agg_approx_distinct": "SELECT c_mktsegment FROM customer GROUP BY c_mktsegment",
}


def connect(data_dir=DATA):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def digest(con, sql):
    """Digest of the result of `sql`: sorted (column, type) pairs, row
    count, and a sha256 over the rows in order with columns sorted."""
    types = {r[0]: r[1] for r in con.execute(f"DESCRIBE {sql}").fetchall()}
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    columns = [[cols[i], types[cols[i]]] for i in order]
    h = hashlib.sha256(json.dumps(columns).encode())
    n = 0
    for row in cur.fetchall():
        h.update(repr(tuple(row[i] for i in order)).encode() + b"\n")
        n += 1
    return {"columns": columns, "rows": n, "sha256": h.hexdigest()}


def output_digest(con, out_dir):
    """Digest of the parquet files the engine wrote under `out_dir`, read in
    part-file order."""
    files = sorted(Path(out_dir).glob("*.parquet"))
    if not files:
        raise ValueError(f"no parquet output under {out_dir}")
    flist = "[" + ", ".join(f"'{f}'" for f in files) + "]"
    return digest(con, f"SELECT * FROM read_parquet({flist})")


def mismatch(golden, got):
    """None when `got` matches `golden`, else the reason."""
    dec = [c for c, t in got["columns"] if "DECIMAL" in t.upper()]
    if dec:
        return f"DECIMAL output columns {dec}"
    if got["rows"] != golden["rows"]:
        return f"rows {got['rows']} != golden {golden['rows']}"
    if "sha256" not in golden:  # rows-only
        return None
    if got["columns"] != golden["columns"]:
        return f"columns {got['columns']} != golden {golden['columns']}"
    if got["sha256"] != golden["sha256"]:
        return "values differ from golden"
    return None


def oracle_sql(queries):
    """The engine's oracle SQL for `queries` (None where it has none)."""
    sys.path.insert(0, str(HERE))
    import build
    build.build()
    with tempfile.TemporaryDirectory(dir=build.build_dir()) as tmp:
        path = Path(tmp) / "oracle.json"
        subprocess.run(build.java_cmd(tmp, "perfbench.Harness") +
                       ["--queries", ",".join(queries), "--dump-oracle", str(path)],
                       check=True)
        return json.loads(path.read_text())


def regenerate(workload, queries):
    con = connect()
    goldens = {}
    for q, sql in oracle_sql(queries).items():
        if sql is not None:
            goldens[q] = digest(con, sql)
        else:
            goldens[q] = {"rows": digest(con, ROWS_ONLY[q])["rows"]}
        print(f"{workload} {q}: {goldens[q]['rows']} rows", file=sys.stderr)
    path = HERE / "goldens" / f"{workload}.json"
    path.write_text(json.dumps(goldens, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    workloads = json.loads((HERE / "workloads.json").read_text())
    for name in sys.argv[1:] or list(workloads):
        regenerate(name, workloads[name]["queries"])
