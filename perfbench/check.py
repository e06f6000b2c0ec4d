"""DuckDB oracle checks for the benchmark's dumped outputs.

Each output is a parquet directory written by the JVM side; its oracle is
the `SparkEntry.oracleSql` entry, run in DuckDB over views of the same
input tables. Comparison: same column set, same row count, and equal cells
after sorting columns by name and rows by every column.
"""
import glob
import math
import os

import duckdb
import pandas as pd


def _normalize(df):
    df = df.reindex(sorted(df.columns), axis=1).astype(object)
    df = df.sort_values(by=list(df.columns), key=lambda c: c.map(repr))
    return df.reset_index(drop=True)


def _cell_equal(a, b):
    if isinstance(a, float) and isinstance(b, float) and \
            math.isnan(a) and math.isnan(b):
        return True
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    if str(a) == str(b):
        return True
    try:
        return float(a) == float(b)
    except (TypeError, ValueError):
        return False


def compare(con, got_dir, sql):
    """None when the output matches its oracle, else why not."""
    got = con.sql(f"SELECT * FROM read_parquet('{got_dir}/*.parquet')").df()
    exp = con.sql(sql).df()
    if set(got.columns) != set(exp.columns):
        return (f"columns differ: only-spark={set(got.columns) - set(exp.columns)}"
                f" only-oracle={set(exp.columns) - set(got.columns)}")
    if len(got) != len(exp):
        return f"rows {len(got)} vs oracle {len(exp)}"
    g, e = _normalize(got), _normalize(exp)
    for c in g.columns:
        for i, (x, y) in enumerate(zip(g[c].tolist(), e[c].tolist())):
            if not _cell_equal(x, y):
                return f"cell {c}[{i}]: {x!r} vs oracle {y!r}"
    return None


def run(work, oracle):
    """Checks every {name: {"src": <table dir>, "sql": ...}} entry, both
    paths relative to `work` (outputs under `work/check/<name>`); returns
    [(name, None | reason)]. A table is a `<table>.parquet` file or a
    directory of that name holding parquet parts."""
    check_dir = os.path.join(work, "check")
    results = []
    cons = {}
    for name, o in oracle.items():
        src = os.path.join(work, o["src"])
        if src not in cons:
            con = duckdb.connect()
            for f in sorted(glob.glob(os.path.join(src, "*.parquet"))):
                t = os.path.basename(f)[:-len(".parquet")]
                scan = f"{f}/*.parquet" if os.path.isdir(f) else f
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{scan}'")
            cons[src] = con
        try:
            results.append((name, compare(cons[src],
                                          os.path.join(check_dir, name),
                                          o["sql"])))
        except Exception as e:  # an unreadable output is a wrong output
            results.append((name, f"{type(e).__name__}: {e}"))
    for con in cons.values():
        con.close()
    return results
