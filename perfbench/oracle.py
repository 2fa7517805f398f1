"""DuckDB oracle results, cached, and the output comparison.

Each registered query has an oracle SQL string. Its result on the
benchmark's fixed tables is computed once with DuckDB and cached as
parquet under the benchmark's cache directory, keyed by a hash of
(oracle SQL, data dir), so a changed oracle or changed data never
reuses a stale result.

The comparison follows ``tools/verify_driver_contract.py``: columns
sorted by name, rows sorted by every column, numeric columns compared
bitwise as float64 (NaN equal to NaN), other columns as exact lists.
That script keeps the rule inside its ``main()``, so it cannot be
imported from there.
"""

from __future__ import annotations

import hashlib
import os

TABLES = ("events", "lineitem")


def _key(sql: str, data_dir: str) -> str:
    h = hashlib.sha256()
    h.update(sql.encode())
    h.update(b"\0")
    h.update(os.path.basename(os.path.normpath(data_dir)).encode())
    return h.hexdigest()[:24]


def ensure_oracles(oracles: dict, data_dir: str, cache_dir: str,
                   tmp_dir: str) -> dict:
    """Return {name: cache path}, running DuckDB only for misses."""
    out_dir = os.path.join(cache_dir, "oracle")
    os.makedirs(out_dir, exist_ok=True)
    paths = {n: os.path.join(out_dir, _key(sql, data_dir) + ".parquet")
             for n, sql in oracles.items()}
    missing = [n for n, p in paths.items() if not os.path.exists(p)]
    if missing:
        import duckdb

        con = duckdb.connect()
        try:
            con.execute(f"SET temp_directory = '{tmp_dir}'")
            con.execute("SET threads = 2")
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{data_dir}/{t}.parquet'")
            for n in missing:
                df = con.execute(oracles[n]).fetchdf()
                tmp = paths[n] + ".tmp"
                df.to_parquet(tmp, index=False)
                os.replace(tmp, paths[n])
        finally:
            con.close()
    return paths


def canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def same(spark_pdf, oracle_pdf) -> bool:
    """The verify-driver-contract equality on canonicalized frames."""
    import numpy as np

    a, b = canon(spark_pdf), canon(oracle_pdf)
    if len(a) != len(b) or list(a.columns) != list(b.columns):
        return False
    for c in a.columns:
        x, y = a[c], b[c]
        if x.dtype.kind in "if" or y.dtype.kind in "if":
            if not np.array_equal(x.astype("float64").to_numpy(),
                                  y.astype("float64").to_numpy(),
                                  equal_nan=True):
                return False
        elif list(x) != list(y):
            return False
    return True
