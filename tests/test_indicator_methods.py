"""The 'partition' (mapInPandas) and 'group' (applyInPandas) execution
paths of with_indicators must be row-for-row identical — guards the
fast path against group-boundary bugs."""

import numpy as np
import pandas as pd
import pytest

from datafusion_functions_financial_spark.functions import indicators as ind

SPECS = [ind.sma(5), ind.ema(7), ind.rsi(6), ind.macd()]


@pytest.fixture(scope="module")
def random_series_df(spark):
    rng = np.random.default_rng(11)
    rows = []
    # Ragged series lengths incl. shorter-than-window groups; duplicate
    # order keys avoided via seq.
    for g, length in enumerate([1, 3, 7, 20, 55, 120]):
        price = 50.0
        for i in range(length):
            price += float(rng.normal(0, 2))
            rows.append((f"g{g}", i, price))
    pdf = pd.DataFrame(rows, columns=["k", "seq", "x"])
    return spark.createDataFrame(pdf)


def _collect(df, cols):
    out = {}
    for r in df.collect():
        out[(r["k"], r["seq"])] = tuple(r[c] for c in cols)
    return out


def test_null_partition_keys_form_one_group(spark):
    # Null keys must be ONE group in both paths (pandas NaN != NaN would
    # otherwise split the fast path into per-row groups, silently
    # resetting the indicators).
    rows = [(None, i, 100.0 + i) for i in range(12)]
    rows += [("a", i, 200.0 + i) for i in range(12)]
    pdf = pd.DataFrame(rows, columns=["k", "seq", "x"])
    df = spark.createDataFrame(pdf)
    specs = [ind.sma(5), ind.ema(7)]
    cols = [s.out_col for s in specs]
    fast = _collect(
        ind.with_indicators(df, "x", ["seq"], ["k"], specs,
                            method="partition"),
        cols,
    )
    slow = _collect(
        ind.with_indicators(df, "x", ["seq"], ["k"], specs, method="group"),
        cols,
    )
    assert fast.keys() == slow.keys()
    for key in fast:
        for a, b in zip(fast[key], slow[key]):
            if a is None or (isinstance(a, float) and np.isnan(a)):
                assert b is None or (isinstance(b, float) and np.isnan(b)), key
            else:
                assert a == b, key
    # The null group must actually produce values (12 rows > window 5).
    assert fast[(None, 11)][0] is not None


def test_partition_and_group_methods_agree(spark, random_series_df):
    # Second input: the same series read in Arrow batches of 3 rows, so
    # each partition's series arrive split over many batches.
    cols = [s.out_col for s in SPECS]
    chunk_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default_chunk = spark.conf.get(chunk_key)
    for chunk_rows in (default_chunk, "3"):
        spark.conf.set(chunk_key, chunk_rows)
        try:
            fast = _collect(
                ind.with_indicators(random_series_df, "x", ["seq"], ["k"],
                                    SPECS, method="partition"),
                cols,
            )
            slow = _collect(
                ind.with_indicators(random_series_df, "x", ["seq"], ["k"],
                                    SPECS, method="group"),
                cols,
            )
        finally:
            spark.conf.set(chunk_key, default_chunk)
        assert fast.keys() == slow.keys()
        for key in fast:
            for a, b in zip(fast[key], slow[key]):
                if a is None or (isinstance(a, float) and np.isnan(a)):
                    assert b is None or (isinstance(b, float) and np.isnan(b))
                else:
                    assert a == b, key  # bit-identical: same kernels
