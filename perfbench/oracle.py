"""Answer check: each Spark result against `SparkEntry.oracleSql` run in
DuckDB over the same input tables.

Columns are compared by name and type; rows after sorting by every
column; values exactly. The DuckDB answers are cached under
`cache_dir` per query and SQL text, so a dataset checked once is not
re-run.
"""
import hashlib
import json
from pathlib import Path

import duckdb


def _connect(data_dir):
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    # a table is one parquet file, or a directory of parts as Spark writes it
    for f in sorted(Path(data_dir).glob("*.parquet")):
        src = f"{f}/*.parquet" if f.is_dir() else str(f)
        con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM '{src}'")
    return con


def _want(con, cache_dir, name, sql):
    cache = Path(cache_dir) / f"{name}-{hashlib.sha256(sql.encode()).hexdigest()[:16]}.parquet"
    if not cache.exists():
        cache.parent.mkdir(parents=True, exist_ok=True)
        tmp = cache.with_suffix(".tmp")
        con.execute(f"COPY ({sql}) TO '{tmp}' (FORMAT PARQUET)")
        tmp.rename(cache)
    return con.execute(f"SELECT * FROM '{cache}'").fetchdf()


def compare(got, want):
    """None when equal, else a one-line reason."""
    got = got.reindex(sorted(got.columns), axis=1)
    want = want.reindex(sorted(want.columns), axis=1)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if [str(d) for d in got.dtypes] != [str(d) for d in want.dtypes]:
        return f"types {dict(got.dtypes.astype(str))} vs {dict(want.dtypes.astype(str))}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    cols = list(got.columns)
    g = got.sort_values(by=cols).reset_index(drop=True)
    w = want.sort_values(by=cols).reset_index(drop=True)
    if g.equals(w):
        return None
    diff = (g != w) & ~(g.isna() & w.isna())
    r, c = (x[0] for x in diff.to_numpy().nonzero())
    return f"row {r} column {cols[c]}: {g.iat[r, c]!r} vs {w.iat[r, c]!r}"


def check(data_dir, cache_dir, results_dir, sql_file):
    """{query: (ok, reason)} for every query named in `sql_file` (the
    harness writes it) and every result directory under `results_dir`."""
    results_dir = Path(results_dir)
    sqls = json.loads(Path(sql_file).read_text())
    con = _connect(data_dir)
    out = {}
    names = set(sqls)
    if results_dir.is_dir():
        names |= {d.name for d in results_dir.iterdir() if d.is_dir()}
    for name in sorted(names):
        sql = sqls.get(name)
        if not sql:
            out[name] = (False, "no oracle SQL")
            continue
        if not list((results_dir / name).glob("*.parquet")):
            out[name] = (False, "no Spark result")
            continue
        try:
            got = con.execute(f"SELECT * FROM '{results_dir / name}/*.parquet'").fetchdf()
            reason = compare(got, _want(con, cache_dir, name, sql))
        except Exception as e:  # a failing oracle or unreadable result is a failed check
            reason = f"{type(e).__name__}: {e}"
        out[name] = (reason is None, reason or "ok")
    return out
