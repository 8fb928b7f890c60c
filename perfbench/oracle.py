"""DuckDB oracle check for the fixpoint workload.

Each query's answer (written by the harness as parquet under
`<oracle_dir>/<query>/`) is compared with DuckDB running the query's
oracle SQL (`<oracle_dir>/<query>.sql`, from `graft.SparkEntry.oracleSql`)
over the same input tables, `<tables_dir>/<name>.parquet`.
Columns are matched by name, rows compared as sorted multisets; floats
must agree to 1e-9 relative.
"""
import datetime
import math
import os

import duckdb


def _norm(v):
    if isinstance(v, float):
        return ("f", v)
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _same(a, b):
    if isinstance(a, tuple) and len(a) == 2 and a[0] == "f" and \
            isinstance(b, tuple) and len(b) == 2 and b[0] == "f":
        return a[1] == b[1] or math.isclose(a[1], b[1], rel_tol=1e-9, abs_tol=1e-12)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, tuple) and a and a[0] == "f" and isinstance(b, int):
        return a[1] == b
    if isinstance(b, tuple) and b and b[0] == "f" and isinstance(a, int):
        return b[1] == a
    return a == b


def _key(row):
    return tuple((x is None, str(x)) for x in row)


def compare(con, got_sql, want_sql):
    """Returns None when the two queries give the same rows, else why not."""
    want = con.execute(want_sql)
    wcols = [d[0].lower() for d in want.description]
    wrows = want.fetchall()
    got = con.execute(got_sql)
    gcols = [d[0].lower() for d in got.description]
    grows = got.fetchall()
    if sorted(wcols) != sorted(gcols):
        return f"columns {sorted(gcols)} != oracle {sorted(wcols)}"
    if not wrows:
        return "oracle returned no rows: the comparison would prove nothing"
    if len(grows) != len(wrows):
        return f"{len(grows)} rows != oracle {len(wrows)}"
    order = [gcols.index(c) for c in wcols]
    g = sorted((tuple(_norm(r[i]) for i in order) for r in grows), key=_key)
    w = sorted((tuple(_norm(x) for x in r) for r in wrows), key=_key)
    for a, b in zip(g, w):
        if not _same(a, b):
            return f"row {a} != oracle {b}"
    return None


def check(tables_dir, oracle_dir):
    """{query: None | mismatch} for every query answer in oracle_dir."""
    con = duckdb.connect()
    for t in sorted(os.listdir(tables_dir)):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-len('.parquet')]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(tables_dir, t)}')")
    out = {}
    for f in sorted(os.listdir(oracle_dir)):
        if not f.endswith(".sql"):
            continue
        q = f[:-len(".sql")]
        with open(os.path.join(oracle_dir, f)) as fh:
            sql = fh.read()
        got = f"SELECT * FROM read_parquet('{os.path.join(oracle_dir, q)}/*.parquet')"
        try:
            out[q] = compare(con, got, sql)
        except duckdb.Error as e:
            out[q] = f"duckdb: {e}"
    con.close()
    return out
