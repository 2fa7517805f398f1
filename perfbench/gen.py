"""Seeded input generators for the benchmark.

Two kinds of input, kept apart on purpose:

* **Tables** (``events``, ``lineitem``) in the testdata layout the
  package reads (``<dir>/<name>.parquet``), with the sf0.01 testdata's
  column names, types, row counts, key ranges and value
  distributions (the README compares the two). They come from the
  fixed ``TABLE_SEED``, not from ``--seed``, so the DuckDB oracle
  results for them can be cached once per checkout.
* **Per-run inputs** driven by ``--seed``: the per-pass query order,
  the reference-shaped price walk, and the synthetic tick stream
  (symbols, prices, volumes, hot-symbol share).

The same seed always gives the same inputs (numpy's PCG64 and
``random.Random`` are platform-independent).
"""

from __future__ import annotations

import os
import random

import numpy as np

# Bump when the table generator changes; it is part of the data-dir
# name, so cached oracle results never outlive the data they describe.
TABLE_VERSION = 2
TABLE_SEED = 20261017
N_EVENTS = 10_000       # sf0.01 shape
N_USERS = 150
N_LINEITEM = 60_000
N_ORDERS = 15_000
N_PARTS = 2_000
N_SUPPLIERS = 100

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _events(rng: np.random.Generator):
    import pandas as pd

    n = N_EVENTS
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.choice(span_us, size=n, replace=False))
    # Exponential with mean 50, as in the testdata; no zero values
    # (the indicator queries divide by them).
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": start + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, N_USERS, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": value,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _lineitem(rng: np.random.Generator):
    import pandas as pd

    n = N_LINEITEM
    qty = rng.integers(1, 51, n).astype(np.float64)
    ship0 = np.datetime64("1995-01-02", "D")
    return pd.DataFrame({
        "l_orderkey": rng.integers(0, N_ORDERS, n).astype(np.int64),
        "l_partkey": rng.integers(0, N_PARTS, n).astype(np.int64),
        "l_suppkey": rng.integers(0, N_SUPPLIERS, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        # Independent of the quantity, as in the testdata.
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": (ship0 + rng.integers(0, 2499, n).astype(
            "timedelta64[D]")).astype("datetime64[us]"),
    })


def ensure_tables(cache_dir: str) -> str:
    """Write the fixed tables under ``cache_dir`` once; return the dir.

    Files are written to a temporary name and renamed, so an
    interrupted run never leaves a half-written table behind."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    data_dir = os.path.join(cache_dir, f"tables-v{TABLE_VERSION}")
    os.makedirs(data_dir, exist_ok=True)
    makers = {"events": _events, "lineitem": _lineitem}
    for i, (name, make) in enumerate(sorted(makers.items())):
        path = os.path.join(data_dir, f"{name}.parquet")
        if os.path.exists(path):
            continue
        df = make(np.random.default_rng([TABLE_SEED, i]))
        tmp = path + ".tmp"
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), tmp)
        os.replace(tmp, path)
    return data_dir


def query_orders(names: list[str], seed: int, passes: int) -> list[list[str]]:
    """One shuffled copy of ``names`` per pass, from ``seed``."""
    rng = random.Random(seed)
    out = []
    for _ in range(passes):
        order = list(names)
        rng.shuffle(order)
        out.append(order)
    return out


def price_walk(seed: int, n: int) -> np.ndarray:
    """The reference benchmark's price series shape: 100 plus a
    seeded walk of smooth (sin/cos) and sawtooth variation."""
    rng = np.random.default_rng([seed, 1])
    i = np.arange(n, dtype=np.float64)
    phase = rng.uniform(0, 2 * np.pi, 2)
    smooth = np.sin(i / 50.0 + phase[0]) + 0.5 * np.cos(i / 17.0 + phase[1])
    saw = (i % 23) / 23.0 - 0.5
    steps = rng.normal(0.0, 0.05, n) + 0.01 * (smooth + saw)
    return 100.0 + np.cumsum(steps)


# ---------------------------------------------------------------------------
# Tick stream. Phase A (in process) and phase B (Spark ``rate`` source)
# share one definition: tick ``v`` of a run is a pure function of
# (seed, v). ``ticks_numpy`` computes it in numpy; ``tick_columns`` in
# ``workloads`` computes the same integer arithmetic as Spark column
# expressions. Integer-only arithmetic (every product < 2**63, no
# transcendental functions, no decimal rounding) makes the two exact.
# ---------------------------------------------------------------------------

N_SYMBOLS = 200
HOT_SYMBOL = 0
MASK32 = 0xFFFFFFFF
C1, C2 = 0x7FEB352D, 0x2C1B3C6D   # odd, < 2**31: products stay < 2**63


def tick_params(seed: int) -> dict:
    """Seeded knobs of the tick generator (all integers)."""
    rng = np.random.default_rng([seed, 2])
    return {
        "hot_bp": int(rng.integers(2500, 3500)),   # hot share, 1/10000
        "spike_every": int(rng.integers(40, 60)),
        "salt": int(rng.integers(1, 1 << 31)),
    }


def hash32(x, salt: int, lane: int):
    """32-bit mixing hash of non-negative int64 ``x`` (numpy array or
    scalar); the same steps run as Spark expressions."""
    h = ((x * 4 + lane) ^ salt) & MASK32
    h = h ^ (h >> 16)
    h = (h * C1) & MASK32
    h = h ^ (h >> 15)
    h = (h * C2) & MASK32
    return h ^ (h >> 16)


def ticks_numpy(seed: int, values) -> dict:
    """Ticks for rate values ``values`` as column arrays: symbol index,
    price and volume. Prices follow a per-symbol triangle-wave trend
    plus noise, so RSI extremes and EMA/SMA crossovers fire; every
    ``spike_every``-th value carries a 6x volume spike."""
    p = tick_params(seed)
    v = np.asarray(values, dtype=np.int64)
    hot = hash32(v, p["salt"], 0) % 10000 < p["hot_bp"]
    sym = np.where(hot, HOT_SYMBOL,
                   1 + hash32(v, p["salt"], 1) % (N_SYMBOLS - 1))
    period = 400 + 7 * sym
    tri = np.abs((v + 13 * sym) % (2 * period) - period)
    cents = (5000 + 250 * sym + (400 + 20 * sym) * tri // period
             + hash32(v, p["salt"], 2) % 5 - 2)
    spike = np.where(v % p["spike_every"] == 0, 6, 1)
    volume = (100 + hash32(v, p["salt"], 3) % 900) * spike
    return {"sym": sym.astype(np.int64), "price": cents / 100.0,
            "volume": volume.astype(np.int64)}


def symbol_name(i: int) -> str:
    return f"S{int(i):03d}"
