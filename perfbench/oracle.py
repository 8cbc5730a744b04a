"""Grades query results against `SparkEntry.oracleSql` run in DuckDB.

The comparison rule is the repo's `tools/oracle_check.py`: columns sorted by
name, equal row counts, and values equal row by row, floats to a relative
1e-9.  `exact` additionally records whether every value matched bit for bit.
DuckDB's answers are cached by a hash of the SQL and of every file it reads,
so runs over unchanged inputs skip the slow exhaustive oracles.
"""
import glob
import hashlib
import json
import math
import os
import re

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from plan import TABLES


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def _close(a, b):
    a, b = _norm(a), _norm(b)
    if isinstance(a, float) and isinstance(b, float):
        return a == b or abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return a == b


def _rows(tbl):
    cols = sorted(tbl.column_names)
    data = [[_norm(v) for v in tbl.column(c).to_pylist()] for c in cols]
    return cols, (list(zip(*data)) if data else [])


def compare(spark_tbl, duck_tbl):
    """(ok, exact, message) for one query's two result tables."""
    scols, srows = _rows(spark_tbl)
    dcols, drows = _rows(duck_tbl)
    if scols != dcols:
        return False, False, f"columns spark={scols} duckdb={dcols}"
    if len(srows) != len(drows):
        return False, False, f"rows spark={len(srows)} duckdb={len(drows)}"
    for i, (sr, dr) in enumerate(zip(srows, drows)):
        if not all(_close(a, b) for a, b in zip(sr, dr)):
            return False, False, f"row {i}: spark={sr} duckdb={dr}"
    exact = all(a == b for sr, dr in zip(srows, drows) for a, b in zip(sr, dr))
    return True, exact, f"{len(srows)} rows"


def _file_digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _expected(con, sql, table_digest, cache):
    """DuckDB's answer to `sql`, from the cache when its inputs are unchanged."""
    h = hashlib.sha256((sql + table_digest).encode())
    for path in sorted(set(re.findall(r"'(/[^']+)'", sql))):
        if os.path.isfile(path):
            h.update(_file_digest(path).encode())
    cached = os.path.join(cache, h.hexdigest() + ".parquet")
    if os.path.exists(cached):
        return pq.read_table(cached)
    tbl = con.execute(sql).fetch_arrow_table()
    os.makedirs(cache, exist_ok=True)
    pq.write_table(tbl, cached + ".tmp")
    os.replace(cached + ".tmp", cached)
    return tbl


def check_dir(check, tables, cache):
    """Grade every result under `check` against its oracle SQL; returns
    {query: {"ok", "exact", "message"}}."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(tables, t)}.parquet')")
    table_digest = "".join(_file_digest(os.path.join(tables, t + ".parquet"))
                           for t in TABLES)
    with open(os.path.join(check, "oracle_sql.json")) as f:
        oracle = json.load(f)
    out = {}
    for name, sql in sorted(oracle.items()):
        try:
            files = sorted(glob.glob(os.path.join(check, name, "*.parquet")))
            if not files:
                raise FileNotFoundError("no Spark result written")
            spark_tbl = pa.concat_tables([pq.read_table(f) for f in files])
            ok, exact, msg = compare(spark_tbl, _expected(con, sql, table_digest, cache))
        except Exception as e:  # a result that cannot be graded is a failure
            ok, exact, msg = False, False, f"{type(e).__name__}: {e}"
        out[name] = {"ok": ok, "exact": exact, "message": msg}
    return out
