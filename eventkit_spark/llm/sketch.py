"""Frequency sketches for 100 TB streams: Misra–Gries heavy hitters.

The exact answer to "which items appear more than n/k times" is a full
groupBy over every distinct item — at 100 TB that exchange carries the
whole vocabulary (URLs, tokens, user ids), most of which is long-tail
noise that can never qualify.  The Misra–Gries summary bounds the
shuffle instead: each input partition keeps at most ``k - 1`` counters
(one Arrow-batched pass, no sort), and the union of surviving keys is a
GUARANTEED superset of every item with true count > n/k (Misra & Gries
1982; the merge property is Agarwal et al. 2013, "Mergeable summaries").
An exact recount restricted to that candidate set (broadcast semi join)
then makes the final answer EXACT — so the two-phase plan is fully
oracle-checkable while shuffling only #partitions·(k-1) candidate rows
plus the recount of qualifying keys.

Scale shape: scan → mapInPandas MG kernel (state = one dict of ≤ k-1
counters per partition, constant memory) → tiny distinct → broadcast
back against a second scan → one hash aggregate whose input was
pre-filtered to candidates.  Two scans of the column total; the
exchange never carries the long tail.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F


def _make_mg_add():
    # Factory, not a plain module-level def, for the reason
    # streaming/stream.py's _make_lane_helpers gives: the batch kernel
    # and the streaming step both call this helper on the executors,
    # and cloudpickle ships a module-level function BY REFERENCE
    # (import on the worker), which fails wherever only the driver can
    # import the package. A "<locals>" qualname ships BY VALUE.
    def _mg_add(counters: dict, item, wt: int, k: int) -> dict:
        """One weighted Misra–Gries update (shared by the batch kernel
        and the streaming state step).  Decrements are batched: k
        participants (k-1 counters + the incoming weight) each lose
        ``dec``, so total decrement mass stays ≤ n/k — the superset
        guarantee's invariant."""
        if item in counters:
            counters[item] += int(wt)
        elif len(counters) < k - 1:
            counters[item] = int(wt)
        else:
            dec = min(int(wt), min(counters.values()))
            counters = {it: c - dec for it, c in counters.items() if c > dec}
            if wt > dec and len(counters) < k - 1:
                counters[item] = int(wt) - dec
        return counters

    return _mg_add


_mg_add = _make_mg_add()


def _mg_kernel(k: int, col: str):
    """Per-partition Misra–Gries summary: ≤ k-1 counters."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        n_seen = 0
        for pdf in batches:
            vals = pdf[col]
            n_seen += len(vals)
            # vectorized pre-aggregation: count the batch first (one
            # pandas value_counts), then run MG on (item, weight) pairs
            # — identical summary, ~batch-size/#distinct fewer dict ops
            for item, wt in vals.value_counts().items():
                counters = _mg_add(counters, item, wt, k)
        yield pd.DataFrame(
            {"item": list(counters.keys()), "n_part": [n_seen] * len(counters)}
        )

    return kernel


def heavy_hitters(
    df: DataFrame,
    col: str,
    k: int = 100,
) -> DataFrame:
    """Items with exact count > n/k, found with a Misra–Gries prefilter.

    Phase 1: per-partition MG summaries (mapInPandas, ≤ k-1 counters
    each) emit candidate items; any item with global count > n/k is
    guaranteed present in at least one partition summary, because MG
    only drops an item after n_part/k same-partition decrements and the
    per-partition thresholds sum to n/k across the whole input.
    Phase 2: exact recount restricted to the candidates (broadcast
    isin-join) and the `> n/k` cut with n the exact total row count —
    the output is therefore EXACTLY the true heavy-hitter set, which is
    what lets the DuckDB oracle verify this sketch op value-for-value.

    Returns (item, cnt) with cnt the exact count.  String or integral
    item columns; NULLs are ignored (they cannot be 'an item').
    """
    if k < 2:
        raise ValueError("heavy_hitters needs k >= 2")
    src = df.select(F.col(col).alias("item")).filter(F.col("item").isNotNull())
    item_t = src.schema["item"].dataType.simpleString()
    cand = (
        src.mapInPandas(
            _mg_kernel(k, "item"), schema=f"item {item_t}, n_part long"
        )
        .select("item")
        .distinct()
    )
    # exact recount of candidates only: the broadcast semi join keeps the
    # aggregate's input at candidate rows; n is one scalar count
    total = src.count()
    counts = (
        src.join(F.broadcast(cand), "item")
        .groupBy("item")
        .agg(F.count("*").alias("cnt"))
    )
    return counts.filter(F.col("cnt") * k > F.lit(total)).select("item", "cnt")


# ---------------------------------------------------------------------
# Count-Min sketch (Cormode & Muthukrishnan 2005): d x w cell table of
# pairwise-independent row hashes; point estimate = min over rows of
# the item's cell. Plain (non-conservative) update is ORDER-INDEPENDENT
# — each cell is a pure sum of the frequencies hashing into it — so the
# whole sketch AND every estimate replay bit-identically in SQL, unlike
# most sketches. The hash family is the minhash portable family
# ((A*h + B) mod P over a 31-bit md5 fold; llm/dedup._minhash_cols).
# ---------------------------------------------------------------------

CMS_P = (1 << 31) - 1
CMS_A = [(2654435761 * (2 * j + 1)) % CMS_P for j in range(16)]
CMS_B = [(2246822519 * (3 * j + 2)) % CMS_P for j in range(16)]


def _fold31(col):
    """md5-based 31-bit item fold — md5 is identical by definition in
    every engine, and the hex->long conv keeps it codegen'd JVM-side."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast(
            "long"
        )
        % F.lit(1 << 31)
    )


def _cms_buckets(col, d: int, w: int):
    """array of the item's d row buckets."""
    h = _fold31(col)
    return F.array(
        *[
            ((F.lit(CMS_A[j]) * h + F.lit(CMS_B[j])) % F.lit(CMS_P))
            % F.lit(w)
            for j in range(d)
        ]
    )


def count_min_cells(
    df: DataFrame,
    col: str,
    d: int = 4,
    w: int = 1024,
    weight_col: str | None = None,
    by: str | list[str] | None = None,
) -> DataFrame:
    """Build the Count-Min cell table ``(row, bucket, cnt)``.

    Scale shape: ONE partial-combined aggregate on the item collapses
    the stream to its type table (vocabulary-sized), then the d-row
    explode + (row, bucket) aggregate is bounded by d x w cells — the
    output is kilobytes at any corpus size, and per-partition partial
    cells merge by addition (the mergeable-summary property that makes
    CMS the streaming/distributed counter of choice).
    """
    if d < 1 or d > len(CMS_A):
        raise ValueError(f"need 1 <= d <= {len(CMS_A)}, got {d}")
    if w < 2:
        raise ValueError(f"need w >= 2, got {w}")
    by = [] if by is None else ([by] if isinstance(by, str) else list(by))
    wt = (
        F.col(weight_col).cast("long")
        if weight_col
        else F.lit(1).cast("long")
    )
    per = (
        df.filter(F.col(col).isNotNull())
        .groupBy(*by, F.col(col).alias("__item"))
        .agg(F.sum(wt).alias("__f"))
    )
    rows = per.select(
        *[F.col(k) for k in by],
        "__f",
        F.posexplode(_cms_buckets(F.col("__item"), d, w)).alias(
            "row", "bucket"
        ),
    )
    return rows.groupBy(*by, "row", "bucket").agg(
        F.sum("__f").alias("cnt")
    )


def count_min_estimate(
    cells: DataFrame,
    items: DataFrame,
    col: str,
    d: int = 4,
    w: int = 1024,
    by: str | list[str] | None = None,
) -> DataFrame:
    """Point-estimate each item in ``items`` from a cell table built
    with the SAME (d, w): est = min over rows of the item's cell.
    CMS guarantees est >= true count, with overshoot <= 2N/w at
    probability 1 - 2^-d. The cell table is d x w rows -> broadcast
    join; estimating adds zero wide exchanges beyond one item-level
    aggregate. With ``by=``, items and cells are matched per group
    (both built with the same keys)."""
    by = [] if by is None else ([by] if isinstance(by, str) else list(by))
    ex = items.select(
        *[F.col(k) for k in by],
        F.col(col),
        F.posexplode(_cms_buckets(F.col(col), d, w)).alias("row", "bucket"),
    )
    joined = ex.join(F.broadcast(cells), [*by, "row", "bucket"], "left")
    return joined.groupBy(*by, col).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est")
    )


# ---------------------------------------------------------------------
# HyperLogLog (Flajolet et al. 2007): cardinality from the max leading-
# zero rank per hash bucket. Like the CMS cells, the register table is
# ORDER-INDEPENDENT (max is commutative/idempotent), so the sketch
# itself replays bit-identically in SQL over the same md5-fold hash;
# only the final float estimate needs a margin contract. Registers from
# two frames merge by cell-wise max (mergeable summary).
# ---------------------------------------------------------------------

_HLL_BITS = 60  # width of the md5 fold (15 hex chars, no truncating mod)


def _fold60(col):
    """60-bit md5 item fold — the first 15 hex chars of md5 as a long,
    codegen'd JVM-side. Wide enough that birthday collisions are
    immaterial at any realistic cardinality (at 1e9 distinct items the
    expected collision fraction is ~4e-4 of the 1.04/sqrt(m) noise),
    which is why HLL++ (Heule et al. 2013) moved to a 64-bit hash and
    dropped the large-range correction; this fold follows the same
    design within md5-replayability (DuckDB reproduces it verbatim)."""
    return F.conv(
        F.substring(F.md5(col.cast("string")), 1, 15), 16, 10
    ).cast("long")


def hll_registers(
    df: DataFrame,
    col: str,
    p: int = 9,
    by: str | list[str] | None = None,
) -> DataFrame:
    """``(*by, bucket, reg)`` register table, m = 2**p buckets: bucket
    is the fold's top p bits, reg = max over items of (leading zeros
    of the remaining 60-p bits) + 1. Buckets no item hashed into are
    omitted (reg 0). ONE partial-combined max-aggregate bounded by m
    rows per group — the keyed form (``by=``) is the production shape
    (distinct users per day / per host) and shuffles at most
    #groups x m kilobyte rows where exact count-distinct shuffles
    every (group, item) pair."""
    if not 4 <= p <= 16:
        raise ValueError(f"need 4 <= p <= 16, got {p}")
    by = [] if by is None else ([by] if isinstance(by, str) else list(by))
    wbits = _HLL_BITS - p
    h = _fold60(F.col(col))
    bucket = F.shiftright(h, wbits)
    w = h.bitwiseAND(F.lit((1 << wbits) - 1))
    # bit_length via base-2 string length (conv/bin agree across
    # engines for w > 0); rank = leading zeros + 1, w=0 -> wbits+1
    bits_w = F.length(F.conv(w.cast("string"), 10, 2))
    rank = F.when(w == F.lit(0), F.lit(wbits + 1)).otherwise(
        F.lit(wbits + 1) - bits_w
    )
    per = df.filter(F.col(col).isNotNull()).select(
        *[F.col(k) for k in by],
        bucket.cast("int").alias("bucket"),
        rank.cast("int").alias("rank"),
    )
    # FORMAT MARKER: the fold widened 31 -> 60 bits in round 7, which
    # changes every (bucket, reg) value — registers persisted before the
    # change merge without error but estimate garbage. Stamp the fold
    # width + p into the reg column's metadata (survives parquet and
    # Delta round-trips via the Spark schema); hll_union refuses an
    # explicit mismatch. Tables sunk on the old format carry no stamp —
    # treat unstamped tables of unknown provenance as suspect.
    return per.groupBy(*by, "bucket").agg(
        F.max("rank").alias(
            "reg", metadata={"hll_fold_bits": _HLL_BITS, "hll_p": p}
        )
    )


def hll_estimate(
    registers: DataFrame,
    p: int = 9,
    by: str | list[str] | None = None,
) -> DataFrame:
    """``(*by, est, v_zero)`` from a register table built with the
    same ``p`` (one row total, or one per group with ``by=``): the
    bias-corrected harmonic mean, with the small-range
    linear-counting branch (E <= 2.5m and empty buckets exist ->
    m * ln(m / V)). est is floored to a long. Standard error is
    1.04/sqrt(m) (~4.6% at p=9); contracts bound it with a fat margin
    rather than comparing float estimates exactly.

    No large-range correction branch is needed: the 60-bit fold
    (``_fold60``) keeps hash-collision bias below ~1e-6 of the estimate
    even at 1e12 distinct items — the HLL++ rationale for a wide hash
    (estimator pinned at a simulated 2e9 scale in
    ``test_hll_estimator_billion_scale``)."""
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    by = [] if by is None else ([by] if isinstance(by, str) else list(by))
    agg = registers.groupBy(*by).agg(
        F.count("*").alias("__nz"),
        F.sum(F.pow(F.lit(2.0), -F.col("reg"))).alias("__s_nz"),
    )
    v = F.lit(m) - F.col("__nz")
    s = F.col("__s_nz") + v.cast("double")  # absent buckets: 2^0 = 1
    raw = F.lit(alpha * m * m) / s
    lc = F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double"))
    est = F.when((raw <= F.lit(2.5 * m)) & (v > F.lit(0)), lc).otherwise(
        raw
    )
    return agg.select(
        *[F.col(k) for k in by],
        F.floor(est).cast("long").alias("est"),
        v.cast("int").alias("v_zero"),
    )


def hll_union(regs_a: DataFrame, regs_b: DataFrame) -> DataFrame:
    """Register table of the UNION of two sketches (same p): cell-wise
    max — exact with respect to the sketch (the union sketch equals
    the sketch of the unioned streams; unit-pinned).

    Refuses to merge register tables whose ``reg`` metadata stamps
    disagree (fold width or p): the round-7 fold widening (31 -> 60
    bits) changed every persisted register value, and a silent
    mixed-format max() would estimate garbage. Unstamped tables
    (pre-r7 sinks, or schemas laundered through metadata-dropping
    transforms) are accepted as-is — the stamp is a tripwire, not a
    proof of provenance."""
    meta_a = dict(regs_a.schema["reg"].metadata or {})
    meta_b = dict(regs_b.schema["reg"].metadata or {})
    for key in ("hll_fold_bits", "hll_p"):
        if key in meta_a and key in meta_b and meta_a[key] != meta_b[key]:
            raise ValueError(
                f"hll_union: incompatible register formats — {key}="
                f"{meta_a[key]} vs {meta_b[key]} (the 60-bit fold of "
                "round 7 is not merge-compatible with earlier sketches; "
                "rebuild the older register table from its source rows)"
            )
    out_meta = meta_a or meta_b
    return (
        regs_a.unionByName(regs_b)
        .groupBy("bucket")
        .agg(F.max("reg").alias("reg", metadata=out_meta))
    )


def hll_intersection_estimate(
    regs_a: DataFrame, regs_b: DataFrame, p: int = 9
) -> DataFrame:
    """Inclusion-exclusion intersection estimate:
    ``|A ∩ B| ~ est(A) + est(B) - est(A ∪ B)``, single row
    ``(est, est_a, est_b, est_union)``, clamped at 0. Error compounds
    (three ±1.04/sqrt(m) estimates), so treat small intersections of
    large sets as noise — the standard HLL caveat; use minhash
    containment when the overlap itself is the signal."""
    a = hll_estimate(regs_a, p).select(F.col("est").alias("est_a"))
    b = hll_estimate(regs_b, p).select(F.col("est").alias("est_b"))
    u = hll_estimate(hll_union(regs_a, regs_b), p).select(
        F.col("est").alias("est_union")
    )
    return (
        a.crossJoin(b)
        .crossJoin(u)
        .select(
            F.greatest(
                F.col("est_a") + F.col("est_b") - F.col("est_union"),
                F.lit(0).cast("long"),
            ).alias("est"),
            "est_a",
            "est_b",
            "est_union",
        )
    )
