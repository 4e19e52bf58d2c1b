"""Output check against the DuckDB oracle.

Expected results come from each query's `SparkEntry.oracleSql` (or, for
the rows-only tier, the `rowsOracleSql` expected row count) run by DuckDB
over the same generated tables, and are cached per input directory.
Results are normalized as tools/compare.py does: columns sorted by name,
rows sorted by their string form, compared value by value, and the
Spark parquet column types must match DuckDB's.
"""
import glob
import os
import pickle

import duckdb
import pyarrow.parquet as pq

from datagen import TABLES

ARROW_TO_DUCK = {
    "int64": "BIGINT", "int32": "INTEGER", "double": "DOUBLE",
    "float": "FLOAT", "string": "VARCHAR", "large_string": "VARCHAR",
    "bool": "BOOLEAN",
}


def norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in order) for r in rows]
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return [sorted(cols), out]


def connect(data_dir, threads):
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    for t in TABLES:
        p = f"{data_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def expected(data_dir, oracle, cache_file, threads):
    """{query: ("value", [cols, rows], {col: type}) | ("rows", n)}."""
    cached = {}
    if os.path.exists(cache_file):
        with open(cache_file, "rb") as f:
            cached = pickle.load(f)
    missing = [q for q in oracle if q not in cached]
    if missing:
        con = connect(data_dir, threads)
        for q in missing:
            o = oracle[q]
            if o.get("sql"):
                cur = con.execute(o["sql"])
                cols = [d[0] for d in cur.description]
                rows = cur.fetchall()
                types = {r[0]: r[1] for r in con.execute(f"DESCRIBE {o['sql']}").fetchall()}
                cached[q] = ("value", norm(rows, cols), types)
            elif o.get("rows_sql"):
                cached[q] = ("rows", con.execute(o["rows_sql"]).fetchone()[0])
            else:
                raise SystemExit(f"perfbench: query {q} has no oracle")
        con.close()
        with open(cache_file + ".tmp", "wb") as f:
            pickle.dump(cached, f)
        os.replace(cache_file + ".tmp", cache_file)
    return cached


def check(con, result_dir, exp):
    """Return (row count or None, failure message or None)."""
    files = glob.glob(f"{result_dir}/*.parquet")
    if not files:
        return None, "no output"
    got = con.execute(f"SELECT * FROM '{result_dir}/*.parquet'")
    cols = [d[0] for d in got.description]
    g = norm(got.fetchall(), cols)
    n = len(g[1])
    if exp[0] == "rows":
        return n, None if n == exp[1] else f"{n} rows, expected {exp[1]}"
    _, e, duck_types = exp
    schema = pq.read_schema(files[0])
    diffs = [f"{c}: spark={t} duck={duck_types[c]}" for c in schema.names
             for t in [ARROW_TO_DUCK.get(str(schema.field(c).type), str(schema.field(c).type))]
             if c in duck_types and t != duck_types[c]]
    if diffs:
        return n, "schema types: " + "; ".join(diffs)
    if g[0] != e[0]:
        return n, f"columns {g[0]} vs {e[0]}"
    if g[1] != e[1]:
        first = [(a, b) for a, b in zip(g[1], e[1]) if a != b][:2]
        return n, f"{n} vs {len(e[1])} rows; first diffs {first}"[:300]
    return n, None
