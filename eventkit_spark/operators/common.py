"""Shared window/order helpers for stream operators.

The engine's canonical stream model (SURVEY.md §1.3): a DataFrame with
``seq`` (emit order within a key), optional ``ts`` (event time), optional
partition key columns, and one or more payload columns.

Scale note: every order-dependent operator windows over
``partitionBy(*key_cols).orderBy(seq)``. With key columns present this is
fully partition-parallel (each key's stream is an independent task). With
no key the stream is a single totally-ordered sequence — the reference's
model (eventkit/event.py:186-218 emits are totally ordered) — and Spark
must run it in one task; callers are expected to supply keys for large
data (the driver's `events` table keys on ``user_id``).
"""

from __future__ import annotations

from pyspark.sql import Column, Window as W, functions as F

from ..plans.audit import semantic_hash

# Internal helper column names (dropped before results are returned).
RN = "__ek_rn"
TAG = "__ek_src"


def as_ts(col: Column) -> Column:
    """Event-time coerced to TIMESTAMP (LTZ).

    Identity for LTZ columns; for TIMESTAMP_NTZ (parquet written with
    isAdjustedToUTC=false — pandas default, the driver's testdata) the
    cast reinterprets the naive value in the session timezone, which the
    engine pins to UTC (session.py / sources/tables.py), so it is
    value-preserving. Every event-time expression goes through this so
    operators accept either timestamp flavor.
    """
    return col.cast("timestamp")


def ts_micros(col: Column) -> Column:
    """Event-time as epoch microseconds (long), NTZ-safe."""
    return F.unix_micros(as_ts(col))


def ts_seconds(col: Column) -> Column:
    """Event-time as epoch seconds (double, fractional), NTZ-safe.

    ``TIMESTAMP_NTZ CAST double`` is an analysis error in Spark 4; the
    LTZ hop makes the same expression legal for both flavors.
    """
    return as_ts(col).cast("double")


def wkey(ef):
    """Partition window for the stream's keys (global if unkeyed)."""
    if ef.key_cols:
        return W.partitionBy(*ef.key_cols)
    return W.partitionBy(F.lit(0))


def worder(ef):
    """Emit-order window: partition by keys, order by seq."""
    return wkey(ef).orderBy(F.col(ef.seq_col))


def wcum(ef):
    """Cumulative frame: unbounded preceding .. current row."""
    return worder(ef).rowsBetween(W.unboundedPreceding, W.currentRow)


def wtrail(ef, n: int):
    """Trailing frame of the last ``n`` rows (clipped at stream start)."""
    return worder(ef).rowsBetween(-(n - 1), W.currentRow)


def value_col(ef) -> Column:
    """The single payload column (errors if the stream is n-ary)."""
    if len(ef.value_cols) != 1:
        raise ValueError(
            f"operator needs a unary stream, got payload columns {ef.value_cols}; "
            "use .pack() first"
        )
    return F.col(ef.value_cols[0])


def as_column(predicate, ef) -> Column:
    """Coerce a predicate/expr spec into a Column.

    Accepts a Column, a SQL expression string, or a callable receiving the
    payload Columns (in order) and returning a Column. Keeping predicates
    as Column expressions (not Python UDFs) is what lets Catalyst push
    them into the scan.
    """
    if isinstance(predicate, Column):
        return predicate
    if isinstance(predicate, str):
        return F.expr(predicate)
    if callable(predicate):
        return predicate(*[F.col(c) for c in ef.value_cols])
    raise TypeError(f"cannot build a Column from {predicate!r}")


_RANGE_BOUNDS_CACHE: dict[tuple, list] = {}


def memo_range_bounds(tproj, n_part: int) -> list:
    """Driver-side quantile range boundaries for ``tproj`` (a one-column
    DataFrame named ``__t``, numeric), memoized so re-constructing the
    same plan triggers no Spark job.

    Shared by the unkeyed as-of join and the scaled running aggregates
    (both range-partition a totally ordered stream by literal
    boundaries). The memo key combines the analyzed plan's semantic hash
    with a fingerprint of the scan's file listing (``inputFiles``,
    driver metadata only, no job): a file-backed plan re-read after new
    data lands keeps its semantic hash but changes its file list, so
    append-only ingest gets fresh boundaries instead of day-one
    quantiles that would silently collapse bucket parallelism.
    Non-file sources fingerprint as empty and memo on plan shape alone.
    """
    try:
        sem = semantic_hash(tproj)
        files = hash(tuple(sorted(tproj.inputFiles())))
        key = (sem, files, n_part)
    except Exception:  # noqa: BLE001 — connect/mock sessions: skip memo
        key = None
    bounds = _RANGE_BOUNDS_CACHE.get(key) if key is not None else None
    if bounds is None:
        probs = [i / n_part for i in range(1, n_part)]
        bounds = (
            sorted(set(tproj.approxQuantile("__t", probs, 0.001)))
            if probs
            else []
        )
        if key is not None:
            if len(_RANGE_BOUNDS_CACHE) > 64:
                _RANGE_BOUNDS_CACHE.clear()
            _RANGE_BOUNDS_CACHE[key] = bounds
    return bounds


def range_bucket_id(tnum, bounds) -> Column:
    """Literal-array bucket id for ``tnum`` given sorted ``bounds`` —
    pure expression, so every plan branch recomputes identical ids
    (no checkpoint / pinning needed)."""
    if bounds:
        barr = F.array(*[F.lit(float(b)) for b in bounds])
        return F.size(F.filter(barr, lambda b: tnum > b))
    return F.lit(0)


def meta_cols(ef) -> list[str]:
    """seq/ts/key columns that ride along unchanged through payload ops."""
    cols = [ef.seq_col]
    if ef.ts_col:
        cols.append(ef.ts_col)
    cols.extend(ef.key_cols)
    return cols
