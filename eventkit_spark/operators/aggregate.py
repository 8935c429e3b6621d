"""Running (cumulative) and trailing-window aggregates.

Reference semantics: eventkit/ops/aggregate.py + eventkit/ops/array.py
(SURVEY.md §2.4). All reference aggregates emit on every input row, i.e.
cumulative window aggregates (``rowsBetween(unboundedPreceding,
currentRow)``); the Array* family are trailing-``n`` frames.

Scale design: every op here is a plain window aggregate over
``partitionBy(key).orderBy(seq)`` — one shuffle on the key, then a single
ordered pass per partition with partial aggregation where Spark supports
it. Product and EMA, which have no built-in running form, are decomposed
into window sums (log-space / closed-form geometric scan) so they stay
JVM-side and O(n) instead of a Python loop or an O(n^2) collected-array
fold.
"""

from __future__ import annotations

from pyspark.sql import Window as W, functions as F

from ..session import session_width
from ..state import _keyed_scan, _make_fold_step, ema_exact

from .common import (
    RN,
    memo_range_bounds,
    meta_cols,
    range_bucket_id,
    value_col,
    wcum,
    worder,
    wtrail,
)


def _running(ef, agg_fn, name="value", frame=None):
    v = value_col(ef)
    w = frame if frame is not None else wcum(ef)
    out = agg_fn(v, w)
    cols = [F.col(c) for c in meta_cols(ef)] + [out.alias(name)]
    return ef._with(df=ef.df.select(*cols), value_cols=[name])


def running_scaled(ef, kind: str, start=0, partitions: int | None = None,
                   name: str = "value"):
    """UNKEYED running aggregate without the single-task global window —
    the SURVEY §7.2 two-pass for the associative kinds (``sum`` ``min``
    ``max`` ``mean`` ``count`` ``any`` ``all``):

    1. ONE memoized driver-side quantile sketch over ``seq`` fixes range
       boundaries; the bucket id is a pure literal expression (the
       unkeyed as-of join's discipline — recompute-safe, no checkpoint).
    2. Per-bucket cumulative window, partition-parallel across buckets.
    3. Bucket totals aggregate map-side into a #buckets-row table whose
       EXCLUSIVE running roll-up (a tiny single-task window over buckets,
       kilobytes) gives each bucket's carry-in, broadcast back and
       combined with the local cumulative.

    Exact for min/max/count/any/all on any type and for sum/mean on
    integer payloads; FLOAT sums re-associate (bucket partials + carry
    instead of a strict left fold), so results can differ in final ulps
    from the sequential form — use the default single-task path when
    bit-stable float folds matter. Keyed frames are already
    partition-parallel; asking for the scaled path there is a misuse.
    """
    if ef.key_cols:
        raise ValueError(
            "running_scaled() is the UNKEYED scale path; keyed streams "
            "are already partition-parallel — drop scaled=True"
        )
    kinds = ("sum", "min", "max", "mean", "count", "any", "all")
    if kind not in kinds:
        raise ValueError(f"kind must be one of {kinds}, got {kind!r}")
    v = value_col(ef)
    n_part = partitions or session_width(ef.df.sparkSession)
    snum = F.col(ef.seq_col).cast("double")
    bounds = memo_range_bounds(ef.df.select(snum.alias("__t")), n_part)
    pid = range_bucket_id(snum, bounds)
    df = ef.df.withColumn("__pid", pid)
    wloc = (
        W.partitionBy("__pid")
        .orderBy(F.col(ef.seq_col))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wcarry = (
        W.partitionBy(F.lit(0))
        .orderBy("__pid")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    vi = v.cast("boolean").cast("int") if kind in ("any", "all") else v
    if kind == "mean":
        local_s = F.sum(vi).over(wloc)
        local_n = F.count(vi).over(wloc)
        totals = df.groupBy("__pid").agg(
            F.sum(vi).alias("__s"), F.count(vi).alias("__n")
        )
        carry = totals.select(
            "__pid",
            F.sum("__s").over(wcarry).alias("__cs"),
            F.sum("__n").over(wcarry).alias("__cn"),
        )
        joined = df.join(F.broadcast(carry), "__pid")
        out = (
            (F.coalesce(F.col("__cs"), F.lit(0)) + local_s)
            / (F.coalesce(F.col("__cn"), F.lit(0)) + local_n)
        )
    else:
        agg = {
            "sum": F.sum, "min": F.min, "max": F.max,
            "count": F.count, "any": F.max, "all": F.min,
        }[kind]
        local = agg(vi).over(wloc)
        totals = df.groupBy("__pid").agg(agg(vi).alias("__s"))
        carry = totals.select(
            "__pid", agg("__s").over(wcarry).alias("__c")
        )
        joined = df.join(F.broadcast(carry), "__pid")
        c = F.col("__c")
        if kind in ("sum", "count"):
            out = F.coalesce(c, F.lit(0)) + local
            if kind == "sum":
                out = out + F.lit(start)
        elif kind in ("min", "all"):
            out = F.when(c.isNull(), local).otherwise(F.least(c, local))
        else:  # max / any
            out = F.when(c.isNull(), local).otherwise(F.greatest(c, local))
        if kind in ("any", "all"):
            out = out == 1
    cols = [F.col(c_) for c_ in meta_cols(ef)] + [out.alias(name)]
    return ef._with(df=joined.select(*cols), value_cols=[name])


def min_(ef):
    """Running minimum (aggregate.py:39-43)."""
    return _running(ef, lambda v, w: F.min(v).over(w))


def max_(ef):
    """Running maximum (aggregate.py:46-50)."""
    return _running(ef, lambda v, w: F.max(v).over(w))


def sum_(ef, start=0):
    """Running sum plus ``start`` (aggregate.py:53-57)."""
    return _running(ef, lambda v, w: F.sum(v).over(w) + F.lit(start))


def mean(ef):
    """Running arithmetic mean (aggregate.py:67-78)."""
    return _running(ef, lambda v, w: F.avg(v).over(w))


def any_(ef):
    """Running boolean OR of truthiness (aggregate.py:81-85)."""
    return _running(
        ef, lambda v, w: (F.max(v.cast("boolean").cast("int")).over(w) == 1)
    )


def all_(ef):
    """Running boolean AND of truthiness (aggregate.py:88-92)."""
    return _running(
        ef, lambda v, w: (F.min(v.cast("boolean").cast("int")).over(w) == 1)
    )


def _product_expr(v, w, start):
    """Running product via sign/zero/log decomposition (aggregate.py:60-64).

    No built-in product aggregate exists; exp(sum(ln|x|)) with separate
    running zero-count and negative-sign parity keeps it a pure window sum
    (parallel, partial-aggregated) instead of an O(n^2) array fold.
    """
    zeros = F.sum(F.when(v == 0, 1).otherwise(0)).over(w)
    negs = F.sum(F.when(v < 0, 1).otherwise(0)).over(w)
    mag = F.exp(F.sum(F.when(v != 0, F.log(F.abs(v))).otherwise(F.lit(0.0))).over(w))
    signed = F.when(negs % 2 == 1, -mag).otherwise(mag)
    return F.when(zeros > 0, F.lit(0.0)).otherwise(signed) * F.lit(start)


def product(ef, start=1):
    """Running product times ``start`` (aggregate.py:60-64)."""
    return _running(ef, lambda v, w: _product_expr(v, w, start))


def _segmented_handoff(df, partcols, seq_col, q: float, L: int, v):
    """Shared segment-boundary hand-off for the segmented EMA scans
    (``_ema_staged`` / ``ema_scaled`` — factored into ONE copy so a
    NULL-algebra fix cannot land in one form only, the r11 drift that
    left the kernel broken after the oracle was fixed): mark each
    segment's last zero-carry value coalesced to 0 (an all-NULL
    segment's true carry decays by q^L = e^-500 — numerically zero),
    lag one row so a segment only ever sees the PREVIOUS segment's
    boundary, forward-fill, and add it q^(j+1)-decayed to the
    NULL-coalesced in-segment value. Returns ``(df, local, nval)``
    where ``nval`` counts non-NULL values over the partition prefix —
    the caller applies its own NULL-prefix mask (keyed forms mask
    directly; the bucketed form threads a stream-global count through
    its driver fold first)."""
    J, LOC, PM = "__ek_j", "__ek_loc", "__ek_pm"
    worder2 = W.partitionBy(*partcols).orderBy(
        F.col("__ek_seg"), F.col(seq_col)
    )
    mark = F.when(F.col(J) == L - 1, F.coalesce(F.col(LOC), F.lit(0.0)))
    df = df.withColumn(PM, F.lag(mark, 1).over(worder2))
    grow = worder2.rowsBetween(W.unboundedPreceding, W.currentRow)
    boundary = F.last(F.col(PM), ignorenulls=True).over(grow)
    nval = F.count(v).over(grow)
    local = F.coalesce(F.col(LOC), F.lit(0.0)) + F.coalesce(
        boundary, F.lit(0.0)
    ) * F.pow(F.lit(q), F.col(J) + 1)
    return df, local, nval


def _ema_staged(ef, w_: float, q: float, seg_len: int | None = None):
    """Stage the segmented-scan EMA columns; returns (staged_df, ema_col).

    ``seg_len`` overrides the computed segment length L — test-only: a
    tiny L makes the boundary hand-off reachable at fuzz sizes (the
    truncation it implies, dropping carries older than one segment, is
    only numerically exact at the production L = 500/|ln q|).

    Reference recurrence: ema_0 = x_0; ema_t = q*ema_{t-1} + w*x_t. The
    plain closed form ema_i = q^i * sum_{j<=i}(c_j x_j q^{-j}) overflows
    double once q^{-j} ~ 1e300 (~6k rows/key at w=0.1). Segmented scan:
    split each key's stream into segments of L = 500/|ln q| rows, so
    within a segment q^{-j} <= e^500 (safe) and across segments the
    carry-in decays by q^L = e^-500 per hop — numerically ZERO beyond one
    segment back. Hence for a row at local offset j in segment s:

        ema = q^j * S_j  +  b_{s-1} * q^{j+1}
        S_j = cumulative sum over the segment of c_m x_m q^{-m}
        b_{s-1} = the previous segment's last in-segment value (its own
                  carry-in term is < e^-500 relative — truncated)

    All windows share the key partitioning (partitionBy(key, seg) is
    satisfied by the key exchange — Catalyst plans ONE shuffle, extra
    local sorts only; asserted in tests/test_plans.py). For streams short
    of L rows this reduces exactly to the old single-window closed form.

    Missing values follow the pinned SQL-window algebra (the streaming
    ``_running_scan`` twin and the DuckDB oracle share it): the ema is
    NULL until the key's first non-NULL value, a NULL row decays the
    running ema by q (its SUM term simply drops), and only a non-NULL
    LITERAL first row seeds full-weight. Concretely that needs two
    coalesces the value-dense path never exercises: a segment whose
    prefix is all-NULL has a NULL in-segment sum (LOC) that must read
    as 0 so the decayed carry still shows through, and an all-NULL
    segment's boundary hand-off must mark 0 (its true carry decays by
    q^L = e^-500 — numerically zero) rather than stay NULL and let the
    forward-fill reach a STALE older boundary at only q^(j+1) decay.
    """
    v = value_col(ef)
    I, SEG, J, LOC, PM = "__ek_i", "__ek_seg", "__ek_j", "__ek_loc", "__ek_pm"
    df = ef.df.withColumn(I, F.row_number().over(worder(ef)) - 1)
    if q == 1.0:
        # w=0: ema is constant x_0; q^{±j} == 1, one segment suffices
        df = df.withColumn(J, F.col(I)).withColumn(SEG, F.lit(0).cast("long"))
        L = None
    else:
        import math

        L = seg_len or max(2, int(500.0 / abs(math.log(q))))
        df = df.withColumn(J, F.col(I) % L).withColumn(
            SEG, F.floor(F.col(I) / F.lit(L))
        )
    keyparts = [F.col(k) for k in ef.key_cols] if ef.key_cols else [F.lit(0)]
    wseg = (
        W.partitionBy(*keyparts, F.col(SEG))
        .orderBy(F.col(ef.seq_col))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    coeff = F.when(F.col(I) == 0, F.lit(1.0)).otherwise(F.lit(w_))
    term = coeff * v * F.pow(F.lit(q), -F.col(J))
    df = df.withColumn(LOC, F.pow(F.lit(q), F.col(J)) * F.sum(term).over(wseg))
    if L is None:
        # q=1 (w=0): NULL-prefix mask only — no boundaries to hand off
        nval = F.count(v).over(
            W.partitionBy(*keyparts)
            .orderBy(F.col(ef.seq_col))
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        return df, F.when(nval > 0, F.coalesce(F.col(LOC), F.lit(0.0)))
    # boundary hand-off (shared helper; ordering by (seg, seq) is
    # IDENTICAL to (seq) per key — seg is monotone in seq — but matches
    # the segment window's sort key, so these windows reuse that sort
    # instead of planning a third one) + keyed NULL-prefix mask
    df, local, nval = _segmented_handoff(
        df, keyparts, ef.seq_col, q, L, v
    )
    return df, F.when(nval > 0, local)


def ema_scaled(ef, n: int | None = None, weight: float | None = None,
               partitions: int | None = None, name: str = "value"):
    """UNKEYED EMA without the single-task global window — the affine
    two-pass: ``ema_t = q*ema_{t-1} + c_t*x_t`` is an affine map, so a
    range bucket composes to ``(A_b = q^{n_b}, tail_b)`` and the carry
    into bucket ``b+1`` is ``tail_b + A_b * carry_b``. Pass 1 computes
    each bucket's ZERO-CARRY ema with the same overflow-safe segmented
    scan as the sequential form (windows partitioned by the bucket —
    parallel); the per-bucket (count, tail) summaries — at most
    ``partitions`` rows, the memo_range_bounds driver-state discipline —
    fold to carries on the driver and broadcast back; the final value is
    ``local_t + carry_b * q^(t_loc+1)``.

    Float caveat (same class as ``sum(scaled=True)``): the carry-in
    composition re-associates the recurrence at bucket boundaries, so
    results can differ from the sequential form in final ulps (measured
    < 1e-12 relative); use the default path when bit-stable floats
    matter. Needs ``0 < q < 1`` (the regime where tails decay); other
    weights route through the default ``ema``.
    """
    import math

    w_ = weight if weight is not None else 2.0 / (n + 1)
    q = 1.0 - w_
    if not 0.0 < q < 1.0:
        raise ValueError(
            f"ema(scaled=True) needs 0 < weight < 1 (got weight={w_}); "
            "use the default ema path for degenerate weights"
        )
    from .select import _scaled_prologue

    v = value_col(ef)
    cols_meta = meta_cols(ef)
    df, _, _ = _scaled_prologue(ef, partitions)
    I, SEG, J, LOC, PM = "__ek_i", "__ek_seg", "__ek_j", "__ek_loc", "__ek_pm"
    wp = W.partitionBy("__pid").orderBy(F.col(ef.seq_col))
    df = df.withColumn(I, F.row_number().over(wp) - 1)
    L = max(2, int(500.0 / abs(math.log(q))))
    df = df.withColumn(J, F.col(I) % L).withColumn(
        SEG, F.floor(F.col(I) / F.lit(L))
    )
    wseg = (
        W.partitionBy("__pid", F.col(SEG))
        .orderBy(F.col(ef.seq_col))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # the STREAM's first row (bucket 0, offset 0) seeds with coeff 1
    # (reference ema_0 = x_0); every other row weighs w
    coeff = F.when(
        (F.col("__pid") == 0) & (F.col(I) == 0), F.lit(1.0)
    ).otherwise(F.lit(w_))
    term = coeff * v * F.pow(F.lit(q), -F.col(J))
    df = df.withColumn(LOC, F.pow(F.lit(q), F.col(J)) * F.sum(term).over(wseg))
    # NULL algebra via the shared hand-off helper; the NULL-prefix
    # mask is applied at the END over the STREAM-global value count (a
    # later bucket's NULL prefix must still emit the cross-bucket
    # carry), so the per-bucket nval only feeds the driver fold
    df, local, nval = _segmented_handoff(
        df, [F.col("__pid")], ef.seq_col, q, L, v
    )
    df = df.withColumn("__ek_local", local).withColumn("__ek_nval", nval)
    # pass 2: per-bucket (n, tail, value count) -> driver fold
    # (<= #buckets rows, same bounded-driver-state discipline as the
    # quantile sketch)
    summ = (
        df.groupBy("__pid")
        .agg(
            F.count("*").alias("__n"),
            F.max_by("__ek_local", F.col(ef.seq_col)).alias("__tail"),
            F.count(v).alias("__nv"),
        )
        .collect()
    )
    carry, prior_nv = {}, {}
    c = 0.0
    nv = 0
    for r in sorted(summ, key=lambda r: r["__pid"]):
        carry[int(r["__pid"])] = c
        prior_nv[int(r["__pid"])] = nv
        c = float(r["__tail"]) + (q ** int(r["__n"])) * c
        nv += int(r["__nv"])
    cmap = F.create_map(
        *[F.lit(x) for kv in carry.items() for x in kv]
    )
    pmap = F.create_map(
        *[F.lit(x) for kv in prior_nv.items() for x in kv]
    )
    out = F.when(
        pmap[F.col("__pid")] + F.col("__ek_nval") > 0,
        F.col("__ek_local")
        + cmap[F.col("__pid")]
        * F.pow(F.lit(q), F.col(J) + 1 + (F.col(SEG) * L)),
    )
    cols = [F.col(c_) for c_ in cols_meta] + [out.alias(name)]
    return ef._with(df=df.select(*cols), value_cols=[name])


def ema(ef, n: int | None = None, weight: float | None = None):
    """Exponential moving average (aggregate.py:95-111).

    Segmented-scan window formulation (see ``_ema_staged``): JVM-side,
    partition-parallel, one shuffle, numerically safe at any per-key
    stream length (no q^{-i} overflow). ``weight > 1`` (q < 0, where the
    log-magnitude segmentation doesn't apply) routes to the exact pandas
    kernel ``state.ema_exact``.
    """
    w_ = weight if weight is not None else 2.0 / (n + 1)
    q = 1.0 - w_
    if q == 0.0:
        # w=1 (n=1): ema_t = x_t — the closed form would divide by q^i
        return _running(ef, lambda v, win: v * 1.0)
    if q < 0.0 or q > 1.0:
        # outside 0 <= q <= 1 the segmented truncation is invalid:
        # carries GROW by q^L instead of decaying (q > 1, weight < 0)
        # or alternate sign (q < 0, weight > 1), and q^{-j} overflows —
        # both regimes route to the exact linear-scan recurrence
        return ema_exact(ef, weight=w_)
    df, ema_col = _ema_staged(ef, w_, q)
    cols = [F.col(c) for c in meta_cols(ef)] + [ema_col.alias("value")]
    return ef._with(df=df.select(*cols), value_cols=["value"])


_MULTI_KINDS = {
    "min": lambda v, w, ef: F.min(v).over(w),
    "max": lambda v, w, ef: F.max(v).over(w),
    "sum": lambda v, w, ef: F.sum(v).over(w),
    "mean": lambda v, w, ef: F.avg(v).over(w),
    "count": lambda v, w, ef: F.count(v).over(w),
    "product": lambda v, w, ef: _product_expr(v, w, 1),
    "any": lambda v, w, ef: F.max(v.cast("boolean").cast("int")).over(w) == 1,
    "all": lambda v, w, ef: F.min(v.cast("boolean").cast("int")).over(w) == 1,
}


def running_multi(ef, *kinds: str, ema_n: int | None = None):
    """N running aggregates side by side in ONE window pass — the
    optimized form of ``fork(...).zip()`` over aggregate branches
    (tests/event_test.py:148-152). All expressions share one window
    spec, so Catalyst plans a single exchange + a single Window node
    (asserted in tests/test_plans.py), where the general fork_zip pays a
    join per branch."""
    v = value_col(ef)
    w = wcum(ef)
    df = ef.df
    ema_col = None
    if "ema" in kinds:
        w_ = 2.0 / ((ema_n or 10) + 1)
        q = 1.0 - w_
        if q == 0.0:
            ema_col = v * 1.0
        else:
            # segmented-scan staging rides the same key shuffle; the
            # other aggregates read the untouched value column
            df, ema_col = _ema_staged(ef, w_, q)
    cols = [F.col(c) for c in meta_cols(ef)]
    names = []
    for kind in kinds:
        out = ema_col if kind == "ema" else _MULTI_KINDS[kind](v, w, ef)
        cols.append(out.alias(kind))
        names.append(kind)
    return ef._with(df=df.select(*cols), value_cols=names)


def pairwise(ef, scaled: bool = False, partitions: int | None = None):
    """Emit (previous, current) pairs from the 2nd row on
    (aggregate.py:114-127). ``scaled=True`` (unkeyed only): the
    rank-donor self-join discipline of ``transform.previous`` — no
    single-task lag window."""
    v = value_col(ef)
    if scaled:
        from .select import rank_scaled

        ranked = rank_scaled(ef, partitions)
        donors = ranked.select(
            (F.col(RN) + 1).alias(RN), v.alias("__prev")
        )
        j = ranked.join(donors, RN)
        return ef._with(
            df=j.select(
                *[F.col(c) for c in meta_cols(ef)],
                F.col("__prev").alias("prev"),
                v.alias("cur"),
            ),
            value_cols=["prev", "cur"],
        )
    w = worder(ef)
    prev = F.lag(v, 1).over(w)
    df = ef.df.select(
        *[F.col(c) for c in meta_cols(ef)],
        prev.alias("prev"),
        v.alias("cur"),
        F.row_number().over(w).alias(RN),
    )
    return ef._with(df=df.filter(F.col(RN) > 1).drop(RN), value_cols=["prev", "cur"])


def reduce_(ef, merge_expr, initializer=None, result_type="double"):
    """Generic running fold (aggregate.py:18-36).

    Two paths, chosen by probing the merge function once with Column
    arguments:

    - Column-expressible (``merge_expr(acc, x) -> Column``, e.g.
      ``operator.add`` or a ``F.greatest`` lambda): folds over the
      cumulative collected array via the ``aggregate`` higher-order
      function — JVM-side, O(n^2) work per stream but no Python in the
      hot path. Prefer the specific running aggregates above (O(n))
      whenever the fold is one of them.
    - Arbitrary Python callable (the reference accepts ANY ``func``,
      aggregate.py:18-36 — e.g. a clamped sum or a dict-merging fold
      that no Column expression can state): ``state.py``'s keyed-scan
      lane, one Arrow-batched linear pass per key partition — parallel
      across keys, O(n) per key, honest about being the slow path.
      Unkeyed streams degrade to one task (the reference's single
      process).

    Both paths seed the fold with the first element when
    ``initializer`` is None (n emits; the reference's silent first-seed
    is documented-divergent, matching the engine's other docstring-over-
    bug choices).
    """
    from pyspark.sql import Column

    try:
        probe = merge_expr(
            F.lit(None).cast(result_type), F.lit(None).cast(result_type)
        )
        column_path = isinstance(probe, Column)
    except Exception:
        column_path = False
    if not column_path:
        return _reduce_python(ef, merge_expr, initializer, result_type)
    v = value_col(ef)
    arr = F.collect_list(v).over(wcum(ef))
    init = F.lit(initializer).cast(result_type)
    if initializer is None:
        # without initializer the first element seeds the fold
        out = F.aggregate(
            F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
            F.element_at(arr, 1).cast(result_type),
            merge_expr,
        )
    else:
        out = F.aggregate(arr, init, merge_expr)
    cols = [F.col(c) for c in meta_cols(ef)] + [out.alias("value")]
    return ef._with(df=ef.df.select(*cols), value_cols=["value"])


def _reduce_python(ef, func, initializer, result_type):
    """Arbitrary-Python running fold: ``state.py``'s fold step in the
    keyed-scan lane (one pass per key partition, NULL keys one key)."""
    v = ef.value_cols[0]
    step = _make_fold_step(func, initializer)
    df = _keyed_scan(ef.df, ef.key_cols, ef.seq_col, step, [v], [(v, result_type)])
    return ef._with(df=df, value_cols=[v])


def list_(ef):
    """Collect the whole stream into one ordered array per key, emitted
    once at end (aggregate.py:130-143)."""
    v = value_col(ef)
    pairs = F.array_sort(
        F.collect_list(F.struct(F.col(ef.seq_col).alias("s"), v.alias("v")))
    )
    aggs = [F.max(ef.seq_col).alias(ef.seq_col), pairs.alias("__ek_pairs")]
    if ef.ts_col:
        aggs.insert(1, F.max(ef.ts_col).alias(ef.ts_col))
    if ef.key_cols:
        grouped = ef.df.groupBy(*ef.key_cols).agg(*aggs)
    else:
        grouped = ef.df.groupBy().agg(*aggs)
    value = F.transform(F.col("__ek_pairs"), lambda p: p.getField("v")).alias("value")
    cols = [F.col(c) for c in meta_cols(ef)] + [value]
    return ef._with(df=grouped.select(*cols), value_cols=["value"])


def deque(ef, count: int = 0):
    """Trailing window of the last ``count`` values (or all so far) as an
    array, emitted every row (aggregate.py:146-159; numpy twin
    array.py:9-22). collect_list over a rows frame preserves emit order."""
    v = value_col(ef)
    w = wtrail(ef, count) if count else wcum(ef)
    out = F.collect_list(v).over(w)
    cols = [F.col(c) for c in meta_cols(ef)] + [out.alias("value")]
    return ef._with(df=ef.df.select(*cols), value_cols=["value"])


# -- Array* reductions (eventkit/ops/array.py:73-126): the reference
# materializes a trailing numpy array then reduces it; we fuse both steps
# into one windowed aggregate over the trailing frame (no array built).

def _trail_frame(ef, n: int):
    return wtrail(ef, n) if n else wcum(ef)


def array_min(ef, n: int = 0):
    return _running(ef, lambda v, w: F.min(v).over(w), frame=_trail_frame(ef, n))


def array_max(ef, n: int = 0):
    return _running(ef, lambda v, w: F.max(v).over(w), frame=_trail_frame(ef, n))


def array_sum(ef, n: int = 0):
    return _running(ef, lambda v, w: F.sum(v).over(w), frame=_trail_frame(ef, n))


def array_mean(ef, n: int = 0):
    return _running(ef, lambda v, w: F.avg(v).over(w), frame=_trail_frame(ef, n))


def array_prod(ef, n: int = 0):
    return _running(
        ef, lambda v, w: _product_expr(v, w, 1), frame=_trail_frame(ef, n)
    )


def array_std(ef, n: int = 0):
    """Sample std (ddof=1) over the trailing frame; NULL when n<2 — the
    engine's NULL stands in for numpy NaN (array.py:108-112)."""
    return _running(ef, lambda v, w: F.stddev_samp(v).over(w), frame=_trail_frame(ef, n))


def array_any(ef, n: int = 0):
    return _running(
        ef,
        lambda v, w: (F.max(v.cast("boolean").cast("int")).over(w) == 1),
        frame=_trail_frame(ef, n),
    )


def array_all(ef, n: int = 0):
    return _running(
        ef,
        lambda v, w: (F.min(v.cast("boolean").cast("int")).over(w) == 1),
        frame=_trail_frame(ef, n),
    )
