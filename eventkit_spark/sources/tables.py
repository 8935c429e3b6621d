"""Table-backed sources: parquet scans wrapped as EventFrames, and the
two driver-side table paths every module goes through.

The driver's ``events`` table (TESTDATA.md) is the canonical keyed event
stream: ``user_id`` is the partition key, ``event_id`` the emit order,
``ts`` event time. Reading parquet keeps predicate pushdown and column
pruning — operators downstream select only the columns they touch, and
Catalyst prunes the scan accordingly.

- ``read_parquet``: every parquet read of the package. Spark infers a
  parquet schema with a job of its own (a footer read scheduled on the
  executors) each time a path is read without a schema; the reader
  infers a path's schema once per session and file listing, then reads
  with ``spark.read.schema(...)``, which plans no job.
- ``local_frame``: every table built on the driver. It ships one Arrow
  table, which the JVM reads directly; ``createDataFrame(<list>)``
  pickles the rows into an RDD that Python workers unpickle again on
  every execution of the frame.
"""

from __future__ import annotations

import os
import threading
import weakref
from functools import lru_cache
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType, TimestampNTZType, TimestampType

from ..frame import EventFrame

# session confs that change what schema Spark infers from the same files
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)
# session -> {(path, listing, confs): StructType}. Weak on the session,
# so a stopped session's schemas go with it. Reads run on several
# threads at once (the plan tests build queries on a pool): the lock
# guards the dicts only, inference runs outside it, and two racing
# misses both infer and store the same schema.
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_SCHEMAS_LOCK = threading.Lock()


def _listing(path: str) -> tuple | None:
    """``(relative name, size, mtime_ns)`` of every file under a local
    ``path``, sorted; None for a remote, missing or empty path (those
    are read with inference every time, so Spark raises its own errors).
    Any rewrite of the table changes the listing: Spark's writers name
    every part file afresh, and a file rewritten in place changes its
    mtime."""
    parsed = urlparse(path)
    if parsed.scheme not in ("", "file"):
        return None
    root = parsed.path if parsed.scheme else path
    if os.path.isfile(root):
        st = os.stat(root)
        return (("", st.st_size, st.st_mtime_ns),)
    out = []
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for name in sorted(files):
            full = os.path.join(dirpath, name)
            try:
                st = os.stat(full)
            except OSError:  # removed while listed: the listing is stale
                return None
            out.append((os.path.relpath(full, root), st.st_size, st.st_mtime_ns))
    return tuple(out) or None


def _read(spark: SparkSession, path: str) -> tuple[DataFrame, tuple | None]:
    """``read_parquet`` plus the listing its schema is keyed on."""
    listing = _listing(path)
    if listing is None:
        return spark.read.parquet(path), None
    key = (path, listing, tuple(spark.conf.get(c, None) for c in _INFERENCE_CONFS))
    with _SCHEMAS_LOCK:
        memo = _SCHEMAS.setdefault(spark, {})
        schema = memo.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path), listing
    df = spark.read.parquet(path)
    # the files may change between listing and inference; keep the
    # schema only when the listing still holds afterwards
    if _listing(path) == listing:
        with _SCHEMAS_LOCK:
            memo[key] = df.schema
    return df, listing


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema once per
    (session, path, file listing with sizes and mtimes, inference
    confs). A later read with the same key passes the remembered schema
    and launches no inference job; a rewritten table lists differently
    and is inferred again."""
    return _read(spark, path)[0]


def _nano_ts_cols(path: str) -> tuple[str, ...]:
    """Columns stored as parquet TIMESTAMP(NANOS) (footer read, driver-side).

    The driver's testdata uses nano timestamps, which Spark only reads via
    ``spark.sql.legacy.parquet.nanosAsLong`` (set in session.py); those
    longs are converted back to timestamps here.
    """
    import pyarrow.dataset as ds
    import pyarrow as pa

    schema = ds.dataset(path, format="parquet").schema
    return tuple(
        name
        for name, typ in zip(schema.names, schema.types)
        if pa.types.is_timestamp(typ) and typ.unit == "ns"
    )


@lru_cache(maxsize=256)
def _listed_nano_ts_cols(path: str, listing: tuple) -> tuple[str, ...]:
    """``_nano_ts_cols`` cached on the path's file listing, so a table
    rewritten at the same path (say from ``timestamp[ns]`` to
    ``timestamp[us]``) is read afresh."""
    return _nano_ts_cols(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    # self-sufficient vs caller-created sessions (the driver builds its
    # own SparkSession without our session.py defaults): nanos timestamps
    # are unreadable without this runtime-settable SQL conf, and the UTC
    # session tz makes the NTZ->LTZ normalization below value-preserving
    # (and epoch math identical to the DuckDB oracle's naive timestamps)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df, listing = _read(spark, path)
    nano = _listed_nano_ts_cols(path, listing) if listing else _nano_ts_cols(path)
    for c in nano:
        # integer div: truncate ns->us exactly like DuckDB/pandas (float
        # division rounds the 16th digit and drifts by 1us)
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    # Parquet written with isAdjustedToUTC=false (pandas/pyarrow default,
    # and the driver's testdata since round 3) loads as TIMESTAMP_NTZ,
    # which unix_micros / double casts reject at analysis time. The
    # session timezone is pinned UTC (session.py), so reinterpreting NTZ
    # as LTZ is value-preserving — every downstream event-time expression
    # then sees one type.
    for fld in df.schema.fields:
        if isinstance(fld.dataType, TimestampNTZType):
            df = df.withColumn(fld.name, F.col(fld.name).cast("timestamp"))
    return df


@lru_cache(maxsize=256)
def _ddl_json(ddl: str) -> str:
    from pyspark.sql.types import _parse_datatype_string

    return _parse_datatype_string(ddl).json()


def _ddl_struct(ddl: str) -> StructType:
    """A fresh StructType per call (``StructType.add`` mutates), parsed
    by the JVM once per DDL string."""
    from pyspark.sql.types import _parse_datatype_json_string

    return _parse_datatype_json_string(_ddl_json(ddl))


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A table built on the driver as a DataFrame of ``schema`` (a DDL
    string or StructType). ``rows`` is a sequence of tuples, or a
    ``pyarrow.Table`` whose columns are cast to the schema.

    Values convert exactly as ``createDataFrame(<list>, schema)``
    converts them, so either path gives the same rows: a ``timestamp``
    goes through ``TimestampType.toInternal`` (a naive datetime is wall
    time in the driver process's local zone, whatever the session time
    zone) and crosses Arrow as UTC micros.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    struct = _ddl_struct(schema) if isinstance(schema, str) else schema
    if not isinstance(rows, pa.Table):
        # strict: a short row raises instead of truncating every column
        cols = list(zip(*rows, strict=True)) if rows else [()] * len(struct.fields)
        if len(cols) != len(struct.fields):
            raise ValueError(f"rows have {len(cols)} fields, schema has {len(struct.fields)}")
        arrays = []
        for f, vals in zip(struct.fields, cols):
            if isinstance(f.dataType, TimestampType):
                vals = [f.dataType.toInternal(v) for v in vals]
            arrays.append(pa.array(vals, type=to_arrow_type(f.dataType)))
        rows = pa.Table.from_arrays(arrays, names=struct.names)
    return spark.createDataFrame(rows, struct)


def load_events(
    spark: SparkSession,
    sf_dir: str,
    keyed: bool = True,
    value_col: str = "value",
) -> EventFrame:
    """The events table as a stream: seq=event_id, ts=ts, key=user_id."""
    df = load_table(spark, sf_dir, "events")
    return EventFrame(
        df,
        value_cols=[value_col],
        seq_col="event_id",
        ts_col="ts",
        key_cols=["user_id"] if keyed else [],
    )


def from_dataframe(
    df: DataFrame,
    value_cols=("value",),
    seq_col: str = "seq",
    ts_col: str | None = "ts",
    key_cols=(),
) -> EventFrame:
    return EventFrame(df, value_cols=value_cols, seq_col=seq_col, ts_col=ts_col, key_cols=key_cols)
