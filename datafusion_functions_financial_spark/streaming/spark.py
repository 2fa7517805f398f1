"""Structured Streaming indicator pipeline (the distributed scale path
for SURVEY §2.A A6-A12).

Topology (mirrors the reference's per-tick flow, SURVEY §3 entry 3):

    readStream (file/kafka/rate)
      -> groupBy(symbol).applyInPandasWithState   # ring-buffer state
      -> stateless signal expressions             # pure Catalyst
      -> writeStream.foreachBatch(handler)        # callback bridge

State per symbol = trailing price/volume buffers + EMA value + RSI
averages, i.e. O(window) per key regardless of stream length. The
arithmetic is identical to ``streaming/engine.py`` (the row-oriented
oracle), which the tests exploit.

Scale notes: state lives in the executors' state store, keyed by
symbol (shuffle on symbol only); signal detection adds no shuffle; the
reference's no-watermark arrival-order design maps to processing-time
mode — event-time watermarking is available via ``withWatermark``
upstream if late-data semantics are wanted.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType, TimestampType,
)

from .engine import MarketTick, StreamingIndicators

TICK_SCHEMA = StructType([
    StructField("symbol", StringType()),
    StructField("timestamp", TimestampType()),
    StructField("price", DoubleType()),
    StructField("volume", LongType()),
    StructField("bid", DoubleType()),
    StructField("ask", DoubleType()),
])

ENRICHED_SCHEMA = StructType([
    StructField("symbol", StringType()),
    StructField("timestamp", TimestampType()),
    StructField("price", DoubleType()),
    StructField("volume", LongType()),
    StructField("sma", DoubleType()),
    StructField("ema", DoubleType()),
    StructField("rsi", DoubleType()),
    StructField("volume_sma", DoubleType()),
    StructField("volume_ratio", DoubleType()),
])

_STATE_SCHEMA = StructType([
    StructField("prices", StringType()),       # csv-encoded ring buffer
    StructField("volumes", StringType()),
    StructField("gains", StringType()),
    StructField("losses", StringType()),
    StructField("ema_value", DoubleType()),
    StructField("avg_gain", DoubleType()),
    StructField("avg_loss", DoubleType()),
    StructField("rsi_seeded", LongType()),
])


def _encode(values: Iterable[float]) -> str:
    return ",".join(repr(v) for v in values)


def _decode(s: str) -> list[float]:
    return [float(x) for x in s.split(",")] if s else []


def _restore(symbol: str, window_size: int, seed_mode: str,
             row) -> StreamingIndicators:
    eng = StreamingIndicators(symbol, window_size, seed_mode)
    if row is not None:
        for p in _decode(row[0]):
            eng.prices.append(p)
        for v in _decode(row[1]):
            eng.volumes.append(int(v))
        for g in _decode(row[2]):
            eng.gains.append(g)
        for l in _decode(row[3]):
            eng.losses.append(l)
        eng.ema_value = row[4]
        eng.avg_gain = row[5]
        eng.avg_loss = row[6]
        eng.rsi_seeded = bool(row[7])
    return eng


def _persist(eng: StreamingIndicators) -> tuple:
    return (
        _encode(eng.prices), _encode(eng.volumes),
        _encode(eng.gains), _encode(eng.losses),
        eng.ema_value, eng.avg_gain, eng.avg_loss, int(eng.rsi_seeded),
    )


def streaming_indicators(
    ticks: DataFrame,
    window_size: int,
    seed_mode: str = "batch",
) -> DataFrame:
    """Enrich a (streaming or batch) tick DataFrame with incremental
    indicators, keyed by symbol. Rows within a micro-batch are applied
    in timestamp order."""

    def update_fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        symbol = key[0]
        row = state.get if state.exists else None
        eng = _restore(symbol, window_size, seed_mode, row)
        out_rows = []
        # A group larger than arrow.maxRecordsPerBatch arrives in several
        # chunks: order the whole group, not each chunk.
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(
            "timestamp", kind="mergesort")
        for rec in pdf.itertuples(index=False):
            values = eng.update(MarketTick(
                symbol=symbol,
                timestamp=rec.timestamp,
                price=float(rec.price),
                volume=int(rec.volume),
                bid=getattr(rec, "bid", None),
                ask=getattr(rec, "ask", None),
            ))
            out_rows.append((
                symbol, rec.timestamp, values.price, values.volume,
                values.sma, values.ema, values.rsi, values.volume_sma,
                values.volume_ratio,
            ))
        state.update(_persist(eng))
        yield pd.DataFrame(out_rows, columns=[f.name for f in
                                              ENRICHED_SCHEMA.fields])

    return ticks.groupBy("symbol").applyInPandasWithState(
        update_fn,
        outputStructType=ENRICHED_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def detect_signal_exprs(enriched: DataFrame) -> DataFrame:
    """Stateless signal columns over the enriched stream — pure Catalyst
    ``when`` arithmetic (streaming.rs:188-255), exploded to one row per
    fired signal."""
    sig = F.array_compact(F.array(
        F.when(
            F.col("rsi") < 30.0,
            F.struct(
                F.lit("Oversold").alias("signal_type"),
                ((F.lit(30.0) - F.col("rsi")) / 30.0).alias("strength"),
            ),
        ),
        F.when(
            F.col("rsi") > 70.0,
            F.struct(
                F.lit("Overbought").alias("signal_type"),
                ((F.col("rsi") - 70.0) / 30.0).alias("strength"),
            ),
        ),
        F.when(
            F.col("volume_ratio") > 2.0,
            F.struct(
                F.lit("VolumeSpike").alias("signal_type"),
                ((F.col("volume_ratio") - 2.0) / 3.0).alias("strength"),
            ),
        ),
        F.when(
            F.col("ema") > F.col("sma") * 1.002,
            F.struct(
                F.lit("BullishCrossover").alias("signal_type"),
                F.least(
                    F.abs((F.col("ema") - F.col("sma")) / F.col("sma")),
                    F.lit(1.0),
                ).alias("strength"),
            ),
        ),
        F.when(
            F.col("ema") < F.col("sma") * 0.998,
            F.struct(
                F.lit("BearishCrossover").alias("signal_type"),
                F.least(
                    F.abs((F.col("ema") - F.col("sma")) / F.col("sma")),
                    F.lit(1.0),
                ).alias("strength"),
            ),
        ),
    ))
    return (
        enriched.withColumn("sig", F.explode(sig))
        .select(
            "symbol", "timestamp", "price",
            F.col("sig.signal_type").alias("signal_type"),
            F.col("sig.strength").alias("strength"),
        )
    )


def start_signal_stream(
    ticks: DataFrame,
    window_size: int,
    handler,
    seed_mode: str = "batch",
    **write_opts,
):
    """End-to-end streaming query: enrich -> detect -> foreachBatch
    handler(list[Row]) per micro-batch (the reference's callback
    bridge, streaming.rs:295-320).

    The bridge streams rows to the driver-side handler with
    ``toLocalIterator()`` — one partition resident at a time — so an
    alert-storm micro-batch holds O(partition) rows on the driver, not
    the whole batch (VERDICT r03 item 7)."""
    enriched = streaming_indicators(ticks, window_size, seed_mode)
    signals = detect_signal_exprs(enriched)

    def dispatch(batch_df: DataFrame, _batch_id: int) -> None:
        for row in batch_df.toLocalIterator():
            handler(row)

    return (
        signals.writeStream.outputMode("append")
        .foreachBatch(dispatch)
        .options(**write_opts)
        .start()
    )
