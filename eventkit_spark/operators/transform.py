"""Row transformations: constant / iterate / enumerate / count / timestamp /
partial(_right) / star / pack / pluck / previous / chunk / map.

Reference semantics: eventkit/ops/transform.py (SURVEY.md §2.3).
Everything here is a Column expression except ``map_pandas`` (the
arbitrary-Python escape hatch, Arrow-batched — never row-at-a-time).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, functions as F
from pyspark.sql import types as T

from .common import RN, meta_cols, ts_seconds, value_col, worder


def _project(ef, new_values: list, names: list[str]):
    """Replace payload columns, keeping seq/ts/keys."""
    cols = [F.col(c) for c in meta_cols(ef)]
    cols += [v.alias(n) for v, n in zip(new_values, names)]
    return ef._with(df=ef.df.select(*cols), value_cols=list(names))


def constant(ef, value):
    """Replace every payload with a constant (transform.py:11-19)."""
    return _project(ef, [F.lit(value)], ["value"])


def enumerate_(ef, start: int = 0, step: int = 1, scaled: bool = False,
               partitions: int | None = None):
    """Prepend a running index (transform.py:38-50). ``scaled=True``
    (unkeyed only) derives the index from select.rank_scaled's
    bucket-offset global rank instead of a single-task window."""
    if scaled:
        from .select import RN as _RN, rank_scaled

        df = rank_scaled(ef, partitions)
        idx = (F.col(_RN) - 1) * step + start
        cols = [F.col(c) for c in meta_cols(ef)]
        cols.append(idx.alias("i"))
        cols += [F.col(c) for c in ef.value_cols]
        return ef._with(df=df.select(*cols), value_cols=["i", *ef.value_cols])
    idx = (F.row_number().over(worder(ef)) - 1) * step + start
    cols = [F.col(c) for c in meta_cols(ef)]
    cols.append(idx.alias("i"))
    cols += [F.col(c) for c in ef.value_cols]
    return ef._with(df=ef.df.select(*cols), value_cols=["i", *ef.value_cols])


def count(ef, start: int = 0, step: int = 1, scaled: bool = False,
          partitions: int | None = None):
    """Replace payload with a running count (eventkit/ops/aggregate.py:10-15)."""
    if scaled:
        from .select import RN as _RN, rank_scaled

        df = rank_scaled(ef, partitions)
        idx = ((F.col(_RN) - 1) * step + start).cast("long")
        cols = [F.col(c) for c in meta_cols(ef)] + [idx.alias("value")]
        return ef._with(df=df.select(*cols), value_cols=["value"])
    idx = (F.row_number().over(worder(ef)) - 1) * step + start
    return _project(ef, [idx.cast("long")], ["value"])


def timestamp(ef):
    """Prepend event time as epoch seconds (transform.py:53-59).

    The reference stamps wall-clock ``time.time()``; our streams carry
    event time already, so this surfaces ``ts`` as a double payload.
    """
    if not ef.ts_col:
        raise ValueError("timestamp() needs an event-time column")
    t = ts_seconds(F.col(ef.ts_col))
    cols = [F.col(c) for c in meta_cols(ef)]
    cols.append(t.alias("t"))
    cols += [F.col(c) for c in ef.value_cols]
    return ef._with(df=ef.df.select(*cols), value_cols=["t", *ef.value_cols])


def partial(ef, *left):
    """Prepend constant payload args (transform.py:62-70)."""
    names = [f"p{i}" for i in range(len(left))]
    cols = [F.col(c) for c in meta_cols(ef)]
    cols += [F.lit(v).alias(n) for v, n in zip(left, names)]
    cols += [F.col(c) for c in ef.value_cols]
    return ef._with(df=ef.df.select(*cols), value_cols=[*names, *ef.value_cols])


def partial_right(ef, *right):
    """Append constant payload args (transform.py:73-81). Right-bound
    columns are named ``r{i}`` so chaining with ``partial`` (which
    names its prepended columns ``p{i}``) never collides."""
    names = [f"r{i}" for i in range(len(right))]
    cols = [F.col(c) for c in meta_cols(ef)]
    cols += [F.col(c) for c in ef.value_cols]
    cols += [F.lit(v).alias(n) for v, n in zip(right, names)]
    return ef._with(df=ef.df.select(*cols), value_cols=[*ef.value_cols, *names])


def star(ef):
    """Unpack a struct payload into positional columns (transform.py:84-88)."""
    v = value_col(ef)
    dtype = ef.df.schema[ef.value_cols[0]].dataType
    if not isinstance(dtype, T.StructType):
        raise ValueError("star() needs a struct payload; use pack() to build one")
    fields = [f.name for f in dtype.fields]
    vals = [v.getField(f) for f in fields]
    return _project(ef, vals, fields)


def pack(ef):
    """Pack the payload columns into one struct (transform.py:91-95)."""
    v = F.struct(*[F.col(c) for c in ef.value_cols])
    return _project(ef, [v], ["value"])


def pluck(ef, *selectors: str):
    """Project positional/nested paths like ``'0.address.street'``
    (transform.py:98-127). Missing fields become NULL (the engine's
    NO_VALUE, SURVEY.md §1.2). Catalyst resolves nested access as
    GetStructField — pruned at the parquet scan.
    """
    vals, names = [], []
    for sel in selectors:
        parts = sel.split(".") if sel else ["0"]
        if parts[0].isdigit():
            base = ef.value_cols[int(parts[0])]
            rest = parts[1:]
        elif parts[0] == "":
            base = ef.value_cols[0]
            rest = parts[1:]
        else:
            base = ef.value_cols[0]
            rest = parts if parts[0] else parts[1:]
        c = F.col(base)
        for p in rest:
            c = c.getField(p)
        vals.append(c)
        names.append(rest[-1] if rest else base)
    # de-duplicate output names positionally
    seen: dict[str, int] = {}
    uniq = []
    for n in names:
        if n in seen:
            seen[n] += 1
            uniq.append(f"{n}_{seen[n]}")
        else:
            seen[n] = 0
            uniq.append(n)
    return _project(ef, vals, uniq)


def previous(ef, count: int = 1, scaled: bool = False,
             partitions: int | None = None):
    """Emit the value from ``count`` rows back, starting once available
    (transform.py:130-141). ``scaled=True`` (unkeyed only) replaces the
    single-task lag window with a rank self-join: global ranks from
    select.rank_scaled (parallel two-pass), then the row at rank r
    joins its payload donor at rank r-count — an integer equi-join AQE
    plans hash-partitioned, with rows r <= count dropped by the inner
    join exactly like the sequential filter. Trade: the source is
    scanned twice (both join sides derive ranks; Catalyst does not
    reuse the exchange across a self-join) — still the right shape for
    long streams, where the alternative is one task doing everything."""
    if scaled:
        from .select import RN as _RN, rank_scaled

        ranked = rank_scaled(ef, partitions)
        donors = ranked.select(
            (F.col(_RN) + count).alias(_RN),
            *[F.col(c).alias(f"__prev_{c}") for c in ef.value_cols],
        )
        j = ranked.join(donors, _RN)
        cols = [F.col(c) for c in meta_cols(ef)]
        cols += [F.col(f"__prev_{c}").alias(c) for c in ef.value_cols]
        return ef._with(df=j.select(*cols))
    w = worder(ef)
    cols = [F.col(c) for c in meta_cols(ef)]
    cols += [F.lag(F.col(c), count).over(w).alias(c) for c in ef.value_cols]
    df = ef.df.select(*cols, F.row_number().over(w).alias(RN))
    return ef._with(df=df.filter(F.col(RN) > count).drop(RN))


def iterate(ef, values, scaled: bool = False, partitions: int | None = None):
    """Zip a side iterable against the stream: time from the source,
    values from the iterable; ends at the shorter side (transform.py:22-35).

    Implemented as an equi-join between the stream's row index and an
    indexed literal table; the literal side is broadcast. The iterable
    is driver-side by the reference's contract (literal values), so the
    side table is bounded; ``scaled=True`` (unkeyed only) derives the
    row index from select.rank_scaled instead of a single-task window.
    """
    from ..sources.tables import local_frame

    values = list(values)  # a one-shot iterable is read once, here
    side = local_frame(
        ef.df.sparkSession, list(enumerate(values)),
        f"{RN} long, __ek_v2 {_lit_type(values)}",
    )
    if scaled:
        from .select import rank_scaled

        df = rank_scaled(ef, partitions).withColumn(RN, F.col(RN) - 1)
    else:
        df = ef.df.withColumn(RN, F.row_number().over(worder(ef)) - 1)
    joined = df.join(F.broadcast(side), on=RN, how="inner")
    cols = [F.col(c) for c in meta_cols(ef)] + [F.col("__ek_v2").alias("value")]
    return ef._with(df=joined.select(*cols), value_cols=["value"])


def _lit_type(values) -> str:
    v = next(iter(values), None)
    if isinstance(v, bool):
        return "boolean"
    if isinstance(v, int):
        return "long"
    if isinstance(v, float):
        return "double"
    return "string"


def chunk(ef, size: int, scaled: bool = False,
          partitions: int | None = None):
    """Group every ``size`` rows into an array; remainder flushes at end
    (transform.py:158-176). One hash aggregate on (keys, chunk_no).
    ``scaled=True`` (unkeyed only) derives chunk_no from the two-pass
    global rank instead of a single-task window — the grouping
    aggregate was already parallel, this parallelizes the numbering."""
    v = value_col(ef)
    if scaled:
        from .select import RN as _RN, rank_scaled

        df = rank_scaled(ef, partitions).withColumn(
            RN, F.floor((F.col(_RN) - 1) / size)
        )
        if _RN != RN:
            df = df.drop(_RN)
    else:
        chunk_no = F.floor((F.row_number().over(worder(ef)) - 1) / size)
        df = ef.df.withColumn(RN, chunk_no)
    aggs = [
        F.min(ef.seq_col).alias(ef.seq_col),
        F.array_sort(
            F.collect_list(F.struct(F.col(ef.seq_col).alias("s"), v.alias("v")))
        ).alias("__ek_pairs"),
    ]
    if ef.ts_col:
        aggs.insert(1, F.max(ef.ts_col).alias(ef.ts_col))
    grouped = df.groupBy(*ef.key_cols, RN).agg(*aggs)
    value = F.transform(F.col("__ek_pairs"), lambda p: p.getField("v")).alias("value")
    cols = [F.col(c) for c in meta_cols(ef)] + [value]
    return ef._with(df=grouped.select(*cols), value_cols=["value"])


def map_cols(ef, fn: Callable, names: list[str] | None = None):
    """Column-expression map: ``fn`` receives the payload Columns and
    returns one Column or a list (transform.py:214-288, sync case).
    Stays inside whole-stage codegen."""
    out = fn(*[F.col(c) for c in ef.value_cols])
    if isinstance(out, Column):
        out = [out]
    names = names or [f"v{i}" for i in range(len(out))] if len(out) > 1 else (names or ["value"])
    return _project(ef, list(out), list(names))


def map_pandas(ef, fn: Callable, return_type, name: str = "value"):
    """Arbitrary-Python map as an Arrow-batched pandas UDF
    (transform.py:214-288). ~10-100x faster than row-at-a-time udf;
    still the slow path — prefer ``map_cols``. Failures become NULL
    (the reference maps failures to NO_VALUE, event.py:849)."""
    import pandas as pd

    def _kernel(*cols):
        def safe(*xs):
            try:
                return fn(*xs)
            except Exception:
                return None

        return pd.Series([safe(*xs) for xs in zip(*cols)])

    _udf = F.pandas_udf(_kernel, return_type)

    out = _udf(*[F.col(c) for c in ef.value_cols])
    return _project(ef, [out], [name])


def pluck_json(ef, paths, variant: bool = True):
    """Pluck over a SEMI-STRUCTURED JSON payload column — the schemaless
    sibling of ``pluck`` (reference Pluck, transform.py:98-127, applied
    to dict-shaped events).

    ``paths`` maps output name -> (json path, sql type), e.g.
    ``{"k": ("$.k", "long")}``. With ``variant=True`` (default, Spark
    4) the payload is parsed ONCE per row into a binary VARIANT and
    every path reads it with ``try_variant_get`` — at 100 TB this beats
    per-path ``get_json_object`` (which re-tokenizes the JSON string
    for every path) and positions the column for parquet VARIANT
    shredding, where sub-paths prune at the scan like struct fields.
    ``variant=False`` keeps the classic string-path form. Missing paths
    AND malformed JSON rows are NULL (the engine's NO_VALUE convention)
    in both modes — ``try_parse_json`` keeps the variant mode aligned
    with ``get_json_object``'s NULL-on-garbage behavior, so one
    truncated row cannot fail a corpus-wide job.
    """
    from .common import meta_cols

    if not paths:
        raise ValueError("pluck_json() needs at least one path")
    base = F.col(ef.value_cols[0])
    cols = [F.col(c) for c in meta_cols(ef)]
    if variant:
        v = F.try_parse_json(base.cast("string"))
        for name, (path, typ) in paths.items():
            cols.append(F.try_variant_get(v, path, typ).alias(name))
    else:
        for name, (path, typ) in paths.items():
            cols.append(F.get_json_object(base, path).cast(typ).alias(name))
    return ef._with(df=ef.df.select(*cols), value_cols=list(paths))
