"""Literal / generated sources (eventkit/ops/create.py, SURVEY.md §2.1).

The reference's timed sources emit on the wall clock; the engine
materializes the same streams with synthetic event time: row i gets
``ts = start + times[i]`` (or ``i * interval``). All goldens from the
reference tests are reproducible this way with no sleeps.

Order-safety note: ``monotonically_increasing_id`` is NOT order-safe
across partitions, so sequences built from Python literals are created
with explicit ``seq`` values, and ``spark.range`` (which is ordered by
``id``) seeds the generated ones.
"""

from __future__ import annotations

import datetime as dt
from typing import Iterable, Sequence

from pyspark.sql import SparkSession, Window as W, functions as F

from ..frame import EventFrame
from .tables import local_frame

EPOCH = dt.datetime(2024, 1, 1)


def _ts_expr(start: dt.datetime, seconds):
    return F.timestamp_micros(
        (F.lit(int(start.timestamp() * 1e6)) + (seconds * 1e6).cast("long"))
    )


def wait(spark: SparkSession, value, start: dt.datetime = EPOCH) -> EventFrame:
    """Single-value source: emit one value then end (create.py:10-35 —
    the await-a-future source; in batch the value is already resolved)."""
    return sequence(spark, [value], start=start)


def aiterate(spark: SparkSession, it, start: dt.datetime = EPOCH) -> EventFrame:
    """Drain an (a)sync iterator into a stream (create.py:38-57). In
    batch mode the iterator is materialized once at plan time; for live
    unbounded feeds use eventkit_spark.streaming.file_stream/rate_stream."""
    import asyncio
    import inspect

    if inspect.isasyncgen(it) or hasattr(it, "__anext__"):
        async def drain():
            return [v async for v in it]

        values = asyncio.run(drain())
    else:
        values = list(it)
    return sequence(spark, values, start=start)


def sequence(
    spark: SparkSession,
    values: Sequence,
    interval: float = 0.0,
    times: Sequence[float] | None = None,
    start: dt.datetime = EPOCH,
) -> EventFrame:
    """Emit each value, spaced by ``interval`` or at relative ``times``
    (create.py:60-76)."""
    times = list(times) if times is not None else [i * interval for i in range(len(values))]
    rows = [(i, start + dt.timedelta(seconds=times[i]), v) for i, v in enumerate(values)]
    vtype = _sql_type(values)
    df = local_frame(spark, rows, schema=f"seq long, ts timestamp, value {vtype}")
    return EventFrame(df, value_cols=["value"], seq_col="seq", ts_col="ts")


def _sql_type(values) -> str:
    v = next((x for x in values if x is not None), None)
    if isinstance(v, bool):
        return "boolean"
    if isinstance(v, int):
        return "long"
    if isinstance(v, float):
        return "double"
    if isinstance(v, dt.datetime):
        return "timestamp"
    return "string"


def repeat(
    spark: SparkSession, value, count: int, interval: float = 0.0,
    start: dt.datetime = EPOCH,
) -> EventFrame:
    """Emit ``value`` ``count`` times (docstring semantics of
    event.py:556-570; the reference code's arg mix-up at create.py:79-83
    is not replicated — SURVEY.md §7.2)."""
    df = spark.range(count).select(
        F.col("id").alias("seq"),
        _ts_expr(start, F.col("id").cast("double") * interval).alias("ts"),
        F.lit(value).alias("value"),
    )
    return EventFrame(df, value_cols=["value"], seq_col="seq", ts_col="ts")


def range_(
    spark: SparkSession, *args: int, interval: float = 0.0, start: dt.datetime = EPOCH
) -> EventFrame:
    """Emit ``range(*args)`` (create.py:86-90) via ``spark.range`` —
    generated distributed, no driver-side materialization."""
    r = range(*args)
    df = spark.range(r.start, r.stop, r.step).select(
        ((F.col("id") - r.start) / r.step).cast("long").alias("seq"),
        _ts_expr(start, ((F.col("id") - r.start) / r.step).cast("double") * interval).alias("ts"),
        F.col("id").alias("value"),
    )
    return EventFrame(df, value_cols=["value"], seq_col="seq", ts_col="ts")


def timerange(
    spark: SparkSession,
    start: dt.datetime,
    end: dt.datetime,
    step: float = 1.0,
) -> EventFrame:
    """Emit datetime ``t`` for each step in [start, end)
    (create.py:93-97 + util.py:27-79) — ``sequence`` + ``explode``,
    entirely JVM-side."""
    df = (
        spark.range(1)
        .select(
            F.explode(
                F.sequence(
                    F.lit(start),
                    F.lit(end),
                    F.expr(f"INTERVAL '{step}' SECOND"),
                )
            ).alias("value")
        )
        .filter(F.col("value") < F.lit(end))
    )
    df = df.select(
        (F.row_number().over(W.orderBy("value")) - 1).alias("seq"),
        F.col("value").alias("ts"),
        F.col("value"),
    )
    return EventFrame(df, value_cols=["value"], seq_col="seq", ts_col="ts")


def timer(
    spark: SparkSession, interval: float, count: int, start: dt.datetime = EPOCH
) -> EventFrame:
    """Emit elapsed seconds every ``interval``, ``count`` times
    (create.py:100-112), batch form. Streaming form: rate source
    (eventkit_spark.streaming)."""
    df = spark.range(count).select(
        F.col("id").alias("seq"),
        _ts_expr(start, (F.col("id") + 1).cast("double") * interval).alias("ts"),
        ((F.col("id") + 1) * interval).alias("value"),
    )
    return EventFrame(df, value_cols=["value"], seq_col="seq", ts_col="ts")


def marble(
    spark: SparkSession, s: str, interval: float = 1.0, start: dt.datetime = EPOCH
) -> EventFrame:
    """Rx marble-string source (create.py:115-123): char position = time,
    '-'/' ' skipped, '_' stripped entirely (create.py:119 — it does NOT
    advance time), '|' ends the stream."""
    s = s.replace("_", "")
    rows = []
    seq = 0
    end_ts = None
    for pos, ch in enumerate(s):
        if ch == "|":
            end_ts = start + dt.timedelta(seconds=pos * interval)
            break
        if ch in "- ":
            continue
        rows.append((seq, start + dt.timedelta(seconds=pos * interval), ch))
        seq += 1
    df = local_frame(spark, rows, schema="seq long, ts timestamp, value string")
    return EventFrame(df, value_cols=["value"], seq_col="seq", ts_col="ts", end_ts=end_ts)
