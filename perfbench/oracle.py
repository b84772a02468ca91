"""Expected results and the comparison every benchmark output goes through.

Registry entries are checked against their own DuckDB oracle SQL on the
seeded input dir; the expected rows are cached per input dir (which is
named by seed and sizes), so the oracle never runs inside a timed region
and a repeated seed skips it. Comparison is exact on canonical values,
order-insensitive, as the registry's own correctness gate does it.
"""

from __future__ import annotations

import hashlib
import math
import os
import pickle

CACHE_DIR = "_oracle"


def canon(v):
    if v is None:
        return ("null",)
    if isinstance(v, float):
        return ("nan",) if math.isnan(v) else ("f", repr(v))
    if hasattr(v, "isoformat"):
        return ("t", v.isoformat().replace("+00:00", ""))
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return ("a", tuple(canon(x) for x in v))
    if isinstance(v, int) or type(v).__name__.startswith(("int", "uint")):
        return ("i", int(v))
    if type(v).__name__.startswith("float"):
        return canon(float(v))
    if isinstance(v, bytes):
        return ("b", v)
    return ("s", str(v))


def normalize(pdf):
    """pandas DataFrame -> (sorted column names, sorted canonical rows)."""
    cols = sorted(pdf.columns)
    rows = [tuple(canon(v) for v in r) for r in pdf[cols].itertuples(index=False, name=None)]
    rows.sort()
    return cols, rows


def expected(input_dir: str, name: str, sql: str):
    """Normalized DuckDB result of ``sql`` over the tables in
    ``input_dir``, cached under the dir itself (keyed by the SQL text, so
    an edited oracle is never served from a stale cache)."""
    digest = hashlib.sha1(sql.encode()).hexdigest()[:12]
    path = os.path.join(input_dir, CACHE_DIR, f"{name}-{digest}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    import duckdb

    con = duckdb.connect()
    try:
        for fn in sorted(os.listdir(input_dir)):
            if fn.endswith(".parquet"):
                con.sql(
                    f"CREATE VIEW {fn[:-8]} AS SELECT * FROM "
                    f"'{os.path.join(input_dir, fn)}'"
                )
        pdf = con.sql(sql).df()
    finally:
        con.close()
    want = normalize(pdf)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        pickle.dump((want, pdf), f)
    os.replace(tmp, path)
    return want, pdf
